#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/local_verify.py <sfDir> <verifyOutDir> [names]

[names] (optional, comma-separated) restricts the compare to those
query dirs — for re-running individual heavy oracles in a FRESH
DuckDB process (a 148-oracle single-process sweep accumulates buffer
pool; e.g. the q74/q77 graph unrolls at sf1 OOM after ~110 prior
oracles but pass clean in a fresh process).

Reads each <verifyOutDir>/<name> parquet (Spark result), runs the
matching oracle SQL from oracle_sql.json in DuckDB against the sfDir
tables, and compares: schema (column names), row count, and values
(columns sorted by name, rows sorted, exact match; floats compared to
1e-9 rel tolerance as a fallback diagnostic). A query without an
oracle fails.

GRAFT_VERIFY_EXT=1 swaps in the scale-robust oracle EXTENSIONS from
oracle_ext.json (SparkEntry.oracleExt) for the queries that have one:
DuckDB still computes the heavy relation (pure SQL), and the bounded
algorithmic step the SQL form could only express as an unbounded
recursive CTE runs here (e.g. union-find connected components for
s07b's keep-min-of-component survivor rule). The result is compared
with the SAME exact column/row compare as the SQL path — a hash-exact
cross-engine check, selected for big-SF captures where the recursive
oracle exceeds DuckDB's temp disk.
"""
import json, sys, glob, os
import duckdb

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    # driver fixtures are flat files; derived fixtures (e.g. target/sf1,
    # written by Spark) are directories of part files
    p = f"{sf}/{t}.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
ext = {}
if os.path.exists(f"{out}/oracle_ext.json"):
    ext = json.load(open(f"{out}/oracle_ext.json"))
use_ext = os.environ.get("GRAFT_VERIFY_EXT") == "1"
# A Verify run with SPARK_GRAFT_ONLY drops a SUBSET_MARKER: surface it
# LOUDLY so a partial capture into a dir with stale full-run results
# can never be read as a full green (round-8 staleness class).
if os.path.exists(f"{out}/SUBSET_MARKER"):
    print("!! " + open(f"{out}/SUBSET_MARKER").read().strip()[:300])
    print("!! results below may include STALE dirs from earlier runs\n")


def _union_find(pairs):
    """Exact connected components over a DuckDB-derived (id_a, id_b)
    pair relation: union-find, O(E α(V)) time / O(V) memory. Union by
    min id keeps every root == its component's minimum. Replaces the
    recursive-CTE transitive closure whose intermediate is Σc² rows per
    clique (at sf1's replica-clique density one such closure ground for
    100+ min / ~50 GB of temp spill before being killed)."""
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pairs["id_a"].astype(int), pairs["id_b"].astype(int)):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return parent, find


def run_extension(spec):
    """Execute an oracle extension: heavy relations via DuckDB SQL, the
    bounded algorithmic step here. Returns the expected DataFrame."""
    import pandas as pd
    algo = spec["algo"]
    if algo == "keep_min_component":
        # Keep-rule: drop every paired vertex that is not its
        # component's minimum id.
        parent, find = _union_find(con.sql(spec["pairs_sql"]).df())
        corpus = con.sql(spec["corpus_sql"]).df()
        dropped = {v for v in parent if find(v) != v}
        id_col = corpus.columns[0]
        return corpus[~corpus[id_col].isin(dropped)].reset_index(drop=True)
    if algo == "component_labels":
        # One row per PAIRED vertex: (id, component-min label) — the
        # d06 cluster table shape.
        parent, find = _union_find(con.sql(spec["pairs_sql"]).df())
        verts = sorted(set(parent) | {find(v) for v in parent})
        return pd.DataFrame({spec.get("id_name", "doc_id"): verts,
                             spec.get("label_name", "cluster_id"):
                                 [find(v) for v in verts]})
    if algo == "best_rep_per_component":
        # Keep-rule: within each component keep the row ranked first by
        # (rank_desc_col DESC, id ASC); unpaired rows are all kept — the
        # d10 best-representative shape.
        parent, find = _union_find(con.sql(spec["pairs_sql"]).df())
        corpus = con.sql(spec["corpus_sql"]).df()
        id_col, rank_col = corpus.columns[0], spec["rank_desc_col"]
        comp = {v: find(v) for v in parent} | {find(v): find(v) for v in parent}
        paired = corpus[corpus[id_col].isin(comp)]
        best = {}
        for vid, rank in zip(paired[id_col].astype(int),
                             paired[rank_col].astype(int)):
            c = comp[vid]
            # max by (rank, -id): n_chars DESC, doc_id ASC tiebreak
            if c not in best or (rank, -vid) > (best[c][0], -best[c][1]):
                best[c] = (rank, vid)
        keep_paired = {vid for _, vid in best.values()}
        drop = {v for v in comp if v not in keep_paired}
        return corpus[~corpus[id_col].isin(drop)].reset_index(drop=True)
    raise ValueError(f"unknown oracle extension algo: {algo}")


def compare(name, got, exp, tag="PASS"):
    """Exact compare (columns sorted by name, rows sorted, values as
    objects) — the driver's hash check, reproduced. Returns True=pass."""
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        print(f"{'SCHEMA-MISMATCH':18s} {name:28s} spark={gcols} duck={ecols}")
        return False
    g = got[gcols].sort_values(gcols).reset_index(drop=True)
    e = exp[ecols].sort_values(ecols).reset_index(drop=True)
    if len(g) != len(e):
        print(f"{'ROWCOUNT':18s} {name:28s} spark={len(g)} duck={len(e)}")
        return False
    mismatches = []
    for c in gcols:
        gv, ev = g[c], e[c]
        try:
            same = (gv.astype(object).where(gv.notna(), None).tolist()
                    == ev.astype(object).where(ev.notna(), None).tolist())
        except Exception:
            same = False
        if not same:
            mismatches.append(c)
    if not mismatches:
        print(f"{tag:18s} {name:28s} rows={len(g)}")
        return True
    print(f"{'VALUE-MISMATCH':18s} {name:28s} cols={mismatches}")
    for c in mismatches[:3]:
        diff = g[c].compare(e[c]) if hasattr(g[c], "compare") else None
        if diff is not None and len(diff):
            print(f"    {c}: first diffs\n{diff.head(3)}")
    return False


names = sorted(d for d in os.listdir(out) if os.path.isdir(f"{out}/{d}"))
if len(sys.argv) > 3:
    only = set(sys.argv[3].split(","))
    names = [n for n in names if n in only]
    print(f"!! NAME FILTER: comparing only {len(names)} of the result dirs\n")
# GRAFT_VERIFY_JSON=<path>: also dump a driver-format per-query record
# (rows_match/schema_match/hash_match/spark_rows/oracle_rows/err) —
# the CORRECTNESS_sf1.json shape, regenerable at any fixture.
json_out = os.environ.get("GRAFT_VERIFY_JSON")
records = {}
n_pass = n_fail = 0
for name in names:
    files = glob.glob(f"{out}/{name}/*.parquet")
    got = con.sql(f"SELECT * FROM read_parquet({files})").df()
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": len(got), "oracle_rows": None, "err": None}
    records[name] = rec
    if use_ext and name in ext:
        try:
            exp = run_extension(ext[name])
        except Exception as e:
            print(f"{'EXT-ERR':18s} {name:28s} {e}")
            rec["err"] = str(e)[:300]
            n_fail += 1
            continue
    elif name not in oracle:
        print(f"{'NO-ORACLE-ERR':18s} {name:28s} rows={len(got)}")
        rec["err"] = "no oracle"
        n_fail += 1
        continue
    else:
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"{'ORACLE-ERR':18s} {name:28s} {e}")
            rec["err"] = str(e)[:300]
            n_fail += 1
            continue
    rec["oracle_rows"] = len(exp)
    rec["rows_match"] = len(got) == len(exp)
    rec["schema_match"] = sorted(got.columns) == sorted(exp.columns)
    tag = "PASS-EXT" if (use_ext and name in ext) else "PASS"
    if compare(name, got, exp, tag=tag):
        rec["hash_match"] = True
        n_pass += 1
    else:
        n_fail += 1
print(f"\n== {n_pass} pass, {n_fail} fail ==")
if json_out:
    with open(json_out, "w") as f:
        json.dump(records, f, indent=1)
    print(f"wrote {json_out} ({len(records)} queries)")
sys.exit(1 if n_fail else 0)
