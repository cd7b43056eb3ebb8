#!/bin/bash
# Gate self-check (r15 VERDICT item 2): produce bench + correctness
# artifacts ONLY when every stage of the gate actually ran and passed
# its structural sanity checks. Motivation: driver round 14 silently
# shipped BENCH_r14.json with rc=1 (a missing closing brace in a
# committed tool) and an EMPTY CORRECTNESS_r14.json = {} — the r15
# recovery cost a third of the round. This script makes that class of
# failure loud and artifact-free:
#
#   * compile failure            -> GATE_FAIL(compile), nothing written
#   * Verify rc!=0               -> GATE_FAIL(verify-rc), nothing written
#   * zero query dirs produced   -> GATE_FAIL(verify-empty), nothing written
#   * local DuckDB compare fails -> GATE_FAIL(correctness), nothing written
#   * correctness map empty      -> GATE_FAIL(correctness-empty)
#   * Bench rc!=0 or no JSON line-> GATE_FAIL(bench), no bench artifact
#
# Artifacts are staged under a temp dir and moved into place only
# after validation (write-validate-rename), so a crash mid-gate can
# never leave a half-written artifact that looks committed.
#
# Usage: tools/gate.sh [<sfDirVerify> [<sfDirBench>]]
#   defaults: /root/testdata/sf0.01 (verify), /root/testdata/sf0.1 (bench)
# Outputs (on success only):
#   target/gate/CORRECTNESS_local.json  — {name: {...}} per-query map
#   target/gate/BENCH_local.json       — Bench's one-line JSON
# Exit code 0 iff every stage passed.
set -uo pipefail
cd "$(dirname "$0")/.."

SF_VERIFY="${1:-/root/testdata/sf0.01}"
SF_BENCH="${2:-/root/testdata/sf0.1}"
STAGE="$(mktemp -d target/gate.stage.XXXXXX)"
FINAL="target/gate"
trap 'rm -rf "$STAGE"' EXIT

fail() { echo "GATE_FAIL($1): $2" >&2; exit 1; }

# -- stage 0: compile ---------------------------------------------------
# sbt rc alone is trusted here: a compile error is rc!=0 in batch mode.
if ! sbt -batch compile > "$STAGE/compile.log" 2>&1; then
  tail -20 "$STAGE/compile.log" >&2
  fail compile "sbt compile rc!=0 — no artifact written"
fi

# -- stage 1: Verify ----------------------------------------------------
VOUT="$STAGE/verify_out"
if ! SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" tools/run.sh graft.Verify \
    "$SF_VERIFY" "$VOUT" > "$STAGE/verify.log" 2>&1; then
  tail -20 "$STAGE/verify.log" >&2
  fail verify-rc "graft.Verify rc!=0 — no artifact written"
fi
NDIRS=$(find "$VOUT" -mindepth 1 -maxdepth 1 -type d | wc -l)
[ "$NDIRS" -gt 0 ] || fail verify-empty "Verify produced 0 query dirs"
[ -s "$VOUT/oracle_sql.json" ] || fail verify-empty "oracle_sql.json missing/empty"

# -- stage 2: DuckDB compare -> correctness map -------------------------
# local_verify.py replicates the driver compare, exits 1 on any fail,
# and (GRAFT_VERIFY_JSON) dumps the driver-format per-query record map.
if ! GRAFT_VERIFY_JSON="$STAGE/CORRECTNESS_local.json" \
    python3 tools/local_verify.py "$SF_VERIFY" "$VOUT" \
    > "$STAGE/correctness.log" 2>&1; then
  grep -E "MISMATCH|ROWCOUNT|ERR|EMPTY" "$STAGE/correctness.log" | head -20 >&2
  fail correctness "local_verify.py rc!=0 (failing queries above)"
fi
# refuse the r14 failure shape: an artifact that parses but is empty,
# or one with any non-hash-matched query (a query without an oracle
# is not hash-matched, so it fails too)
python3 -c "
import json,sys
m=json.load(open('$STAGE/CORRECTNESS_local.json'))
assert m, 'GATE_FAIL(correctness-empty): map is {}'
bad=[k for k,v in m.items() if not v['hash_match']]
assert not bad, f'GATE_FAIL(correctness): {sorted(bad)[:10]}'
print(f'correctness map: {len(m)} queries, 0 fail')
" || fail correctness-empty "structural check failed"

# -- stage 3: Bench ------------------------------------------------------
if ! SPARK_GRAFT_SF_DIR="$SF_BENCH" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
    SPARK_GRAFT_BENCH_RUNS="${SPARK_GRAFT_BENCH_RUNS:-1}" \
    tools/run.sh graft.Bench > "$STAGE/bench.log" 2>&1; then
  tail -20 "$STAGE/bench.log" >&2
  fail bench "graft.Bench rc!=0 — no bench artifact written"
fi
# the driver-facing metric line is metric:"total" (metric:"total_median"
# precedes it and carries queries_median, not queries)
grep -m1 '^{"metric":"total",' "$STAGE/bench.log" > "$STAGE/BENCH_local.json" \
  || fail bench "Bench emitted no JSON total metric line"
python3 -c "
import json,sys
line=open('$STAGE/BENCH_local.json').read().strip()
# r16 VERDICT item 8 (the BENCH_r15 'parsed: {}' shape): the driver
# captures only the stdout tail and json-parses the metric line from
# it — a line over its ~2000-char budget truncates mid-map and the
# whole round's PERF comparison reads new_in_bench. Assert the
# DRIVER'S constraint here, not just ours: <1800 chars AND json-loads.
assert len(line)<=1800, f'metric line {len(line)} chars > 1800 — driver tail capture would truncate it'
d=json.loads(line)
assert d.get('value',0)>0 and d.get('queries'), 'bench JSON lacks value/queries'
bad=[k for k,v in d['queries'].items() if v<0]
assert not bad, f'queries never succeeded: {bad}'
" || fail bench "bench JSON failed structural sanity"

# -- publish (atomic) ----------------------------------------------------
mkdir -p "$FINAL"
mv "$STAGE/CORRECTNESS_local.json" "$FINAL/CORRECTNESS_local.json"
mv "$STAGE/BENCH_local.json" "$FINAL/BENCH_local.json"
echo "GATE_PASS: $(python3 -c "
import json
c=json.load(open('$FINAL/CORRECTNESS_local.json'))
b=json.load(open('$FINAL/BENCH_local.json'))
print(f\"{len(c)} queries correct, bench total {b['value']}s over {len(b['queries'])} queries\")
")"
