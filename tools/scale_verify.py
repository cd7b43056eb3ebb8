#!/usr/bin/env python3
"""Scale-capture wrapper around local_verify.py.

Usage: python3 tools/scale_verify.py <sfDir> <verifyOutDir> <correctnessJson> \
           [names-or-@file] [perQueryTimeoutSec]

Runs EVERY query's oracle compare in its OWN fresh process, one at a
time, streaming a line per query. One process per oracle because the
single-process 150-oracle sweep is operationally fragile at big SF:
DuckDB's buffer pool accumulates across oracles (q74/q77 OOM after
~110 prior oracles at sf1 but pass fresh), and ONE monster oracle can
grind for an hour+ and exhaust temp disk with no indication of which
query is burning the box. Fresh-per-query bounds memory to the single
worst oracle, a timeout bounds its time AND disk, and the stream
names the culprit in real time.

Timed-out / failed queries are recorded in the output JSON with a
descriptive err (never silently dropped — the round-8 staleness
class). Exit 1 if anything failed.
"""
import json, os, subprocess, sys, time

sf, out, dst = sys.argv[1], sys.argv[2], sys.argv[3]
names_arg = sys.argv[4] if len(sys.argv) > 4 else None
timeout = int(sys.argv[5]) if len(sys.argv) > 5 else 1800

oracle = json.load(open(f"{out}/oracle_sql.json"))
if names_arg:
    if names_arg.startswith("@"):
        names = [l.strip() for l in open(names_arg[1:]) if l.strip()]
    else:
        names = names_arg.split(",")
else:
    names = sorted(d for d in os.listdir(out) if os.path.isdir(f"{out}/{d}"))

env = dict(os.environ, GRAFT_VERIFY_EXT="1")
records = {}
for name in names:
    fd_path = f"/tmp/sv_{name}.json"
    e = dict(env, GRAFT_VERIFY_JSON=fd_path)
    t0 = time.time()
    try:
        r = subprocess.run(
            [sys.executable, "tools/local_verify.py", sf, out, name],
            env=e, capture_output=True, text=True, timeout=timeout)
        recs = json.load(open(fd_path)) if os.path.exists(fd_path) else {}
        rec = recs.get(name) or {"rows_match": False, "schema_match": False,
                                 "hash_match": False, "spark_rows": None,
                                 "oracle_rows": None,
                                 "err": f"no record (rc={r.returncode})"}
    except subprocess.TimeoutExpired:
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None, "oracle_rows": None,
               "err": f"oracle timeout after {timeout}s (fresh process)"}
        # reap any spill the killed process left behind
        subprocess.run(["rm", "-rf", f"{os.getcwd()}/.tmp"])
    finally:
        if os.path.exists(fd_path):
            os.unlink(fd_path)
    dt = time.time() - t0
    records[name] = rec
    status = "PASS" if rec["hash_match"] else "FAIL"
    print(f"{status:10s} {name:34s} {dt:7.1f}s  "
          f"{'' if rec['hash_match'] else rec.get('err') or 'mismatch'}",
          flush=True)

with open(dst, "w") as f:
    json.dump(records, f, indent=1)
n_pass = sum(1 for v in records.values() if v["hash_match"])
fails = sorted(k for k, v in records.items() if not v["hash_match"])
print(f"\nwrote {dst}: {n_pass}/{len(records)} hash-pass, "
      f"fails: {fails or 'none'}", flush=True)
sys.exit(1 if fails else 0)
