#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds graft and the
benchmark harness (perfbench/build.sbt) with sbt; later runs reuse the
build until a source file changes. Build outputs, generated inputs and
per-run scratch space live under `.bench_build/` (or $CARGO_TARGET_DIR).

Workloads (BENCHMARK.json lists the gated ones and why each was chosen):
  consumer_backlog  closed loop: drain a preloaded 8-shard stream with
                    GraftConsumer.availableNow(), repeatedly
  analytics_suite   closed loop, one client: 13 registered queries, in
                    an order drawn from the seed, over one fixed set of
                    generated tables, checked against their DuckDB
                    oracles by tools/local_verify.py

End-to-end metrics, per workload (backlog / analytics):
  setup_s         time until the first timed operation can run, timed
                  once from a cold JVM: session start and a small warm
                  drain / session start, Relational.prepareStats and two
                  warm passes
  throughput      records drained per second / queries per second over
                  the timed passes
  latency_geomean_ms  geometric mean time of one drain / one query
                  (build, plan and execute)
  cpu_us_per_op   process CPU microseconds per record / per query

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` -- the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1 (0 where a layer is not used by the
workload). A `# env` line before it records nproc, heap, JDK, Spark and
the share of CPU time the host stole during the run (`steal_frac`); a
traced run also names its kept work dir (`# spans`), which holds every
span (spans.jsonl) and the self time of each span name (self_times.json).
`--selftest` checks the checkers: injected faults must be counted.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("consumer_backlog", "analytics_suite")
ANALYTICS_SF = 0.01
ANALYTICS_TABLES_SEED = 1  # the tables are fixed; the run's seed sets the query order
HEAP = "3g"
RUN_LIMIT_S = 175
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(out):
    """Compiles graft plus the harness; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"graft sources not found ({need}); run from a full checkout")
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=f, stderr=subprocess.STDOUT, timeout=800).returncode
    lines = [l.strip() for l in open(log) if l.strip() and not l.startswith("[")]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[0] + v[1] + v[2] + v[5] + v[6], v[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(classpath, work, jvm_args, limit_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--work", work] + jvm_args
    log = os.path.join(work, "jvm.log")
    busy0, steal0 = cpu_ticks()
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"benchmark JVM timed out; see {log}")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"benchmark JVM failed (rc={rc}); see {log}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    busy1, steal1 = cpu_ticks()
    # CPU time the host gave to other guests while this run needed it
    res["env"]["steal_frac"] = round((steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0), 4)
    return res


def tables(out):
    """Generates (once per checkout) the analytics tables; returns their dir."""
    import tables as gen
    d = os.path.join(out, "data", f"sf{ANALYTICS_SF}-seed{ANALYTICS_TABLES_SEED}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, ANALYTICS_TABLES_SEED, ANALYTICS_SF)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def corrupt_result(results, name):
    """Adds 1 to the first numeric value of a query's result parquet:
    same schema and row count, different hash (the checker's self-test)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(results, name)
    f = next(os.path.join(d, p) for p in sorted(os.listdir(d)) if p.endswith(".parquet"))
    t = pq.read_table(f)
    i = next(i for i, fld in enumerate(t.schema)
             if pa.types.is_integer(fld.type) or pa.types.is_floating(fld.type))
    col = t.column(i).to_pylist()
    col[0] = (col[0] or 0) + 1
    pq.write_table(t.set_column(i, t.schema[i], pa.array(col, t.schema[i].type)), f)


def verify(data, work, limit_s):
    """Compares each warm-pass result with its DuckDB oracle using the
    repository's own compare (tools/local_verify.py: same columns, same
    row count, same rows once sorted). Returns {query: matched}."""
    results = os.path.join(work, "results")
    names = sorted(d for d in os.listdir(results) if os.path.isdir(os.path.join(results, d)))
    records = os.path.join(work, "verify.json")
    env = dict(os.environ, GRAFT_VERIFY_JSON=records)
    env.pop("GRAFT_VERIFY_EXT", None)
    with open(os.path.join(work, "verify.log"), "w") as f:
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "local_verify.py"),
                        data, results], cwd=work, env=env, stdout=f,
                       stderr=subprocess.STDOUT, timeout=max(10, limit_s))
    got = {}
    if os.path.exists(records):
        with open(records) as f:
            got = {k: bool(v.get("hash_match")) for k, v in json.load(f).items()}
    return {n: got.get(n, False) for n in names}


def run(workload, seed, seconds, trace, extra=(), corrupt=None):
    out = build_dir()
    classpath = build(out)
    t_start = time.time()  # the build does not count against the run's time limit
    work = os.path.join(out, "runs", f"{workload}-{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--cores", str(min(4, os.cpu_count() or 1))]
    data = None
    if workload == "analytics_suite":
        data = tables(out)
        jvm_args += ["--data", data]
    try:
        res = run_jvm(classpath, work, jvm_args + list(extra),
                      RUN_LIMIT_S - (time.time() - t_start) - 15)
        res["oracle"] = {}
        if data:
            if corrupt:
                corrupt_result(os.path.join(work, "results"), corrupt)
            res["oracle"] = verify(data, work, RUN_LIMIT_S - (time.time() - t_start) - 3)
            res["failed"] += sum(1 for ok in res["oracle"].values() if not ok)
    finally:
        # a traced run keeps its spans (spans.jsonl, self_times.json)
        if not trace:
            shutil.rmtree(work, ignore_errors=True)
    res["work"] = work
    return res


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def result_line(res, trace, bench):
    if trace:
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    bad = [k for k, v in metrics.items() if not isinstance(v["value"], (int, float))]
    correct = res["failed"] == 0 and not bad
    return {"correct": correct, "attempted": res["attempted"],
            "failed": res["failed"] + len(bad), "metrics": metrics}


def selftest():
    """Each checker must pass a correct run and count each injected fault."""
    ok = True
    res = run("consumer_backlog", 7, 1, 0, extra=["--selftest", "1"])
    for kind in ("none", "drop", "dup", "reorder"):
        failed = sum(v for k, v in res["details"][f"selftest_{kind}"].items() if k != "records")
        good = failed == 0 if kind == "none" else failed > 0
        ok &= good
        print(f"consumer {kind:8s} failed={failed} {'ok' if good else 'WRONG'}")
    subset = "q13_topk,q01_pricing_summary,d01_dedup_exact"
    for corrupt in (None, "q01_pricing_summary"):
        res = run("analytics_suite", 7, 1, 0, extra=["--queries", subset],
                  corrupt=corrupt)
        good = (res["failed"] == 0) if corrupt is None else res["failed"] > 0
        ok &= good
        print(f"analytics {corrupt or 'none':20s} failed={res['failed']} "
              f"frac={res['failed'] / res['attempted']:.3f} {'ok' if good else 'WRONG'}")
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    bench = spec()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        fail("--workload is required")
    res = run(a.workload, a.seed, a.seconds, a.trace)
    failures = sorted(k for k, ok in res["oracle"].items() if not ok)
    if failures:
        print("# oracle mismatches " + json.dumps(failures))
    print("# env " + json.dumps(res["env"]))
    if a.trace:
        print("# spans " + os.path.relpath(res["work"], ROOT))
    print(json.dumps(result_line(res, a.trace, bench)))


if __name__ == "__main__":
    main()
