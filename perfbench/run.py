#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <iterative|curation>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the library and the harness from
source (once per source state, into $CARGO_TARGET_DIR or .bench_build),
writes the seeded inputs, runs one JVM (set-up, then a timed window of
`--seconds`), checks every result, and prints as its last stdout line one
JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics, or with `--trace 1` the per-layer ones). The line
before it is a host/run record. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import digest  # noqa: E402
import estimators  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("iterative", "curation")
ITERATIVE = ["q84_pagerank", "q88_bpe_encode", "q65_neardup_clusters"]
STAGES = ["gate", "exact", "neardup", "decontam", "mix", "chunk", "pack"]
OPS = {"iterative": ITERATIVE, "curation": STAGES}
TABLES = list(gen.QUERY_TABLES)

# local[k] leaves one core to the client thread, the JIT and GC.
CORES = max(1, min(3, (os.cpu_count() or 4) - 1))
SHUFFLE_PARTITIONS = 8
HEAP = "2g"
RUN_LIMIT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(args, classes, jars, data_dir, work, deadline):
    out = os.path.join(work, "harness.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Xms = Xmx with pre-touch: the whole heap is committed and faulted in
    # at launch, so heap growth cannot fault pages in inside the window.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "graftbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--out", out, "--cores", str(CORES),
              "--partitions", str(SHUFFLE_PARTITIONS),
              "--ops", ",".join(OPS[args.workload])]
           + [x for k, v in gen.CURATION_PARAMS.items() for x in (f"--{k}", str(v))])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = open(os.path.join(work, "jvm.log"), "w")
    launched = time.time()
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise build.BenchError("harness did not finish in time")
    finally:
        log.close()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise build.BenchError(f"harness exited with {code}")
    with open(out) as fh:
        return launched, json.load(fh)


def oracle_digests(data_dir, oracle_sql):
    """DuckDB results of `SparkEntry.oracleSql`, run after the JVM ended."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    out = {}
    for op, sql in oracle_sql.items():
        try:
            cur = con.execute(sql)
        except duckdb.Error as e:
            sys.stderr.write(f"oracle {op} failed: {e}\n")
            out[op] = None      # every sample of op then counts as failed
            continue
        cols = [d[0] for d in cur.description]
        maps = {d[0] for d in cur.description if str(d[1]).startswith("MAP")}
        out[op] = digest.of(cols, cur.fetchall(), maps)
    con.close()
    return out


def truth_digests(data_dir):
    with open(os.path.join(data_dir, "truth.json")) as fh:
        truth = json.load(fh)
    return {s: digest.of(t["columns"], t["rows"]) for s, t in truth.items()}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec, setup_s):
    timed = [(s["op"], s["ms"]) for s in rec["samples"] if s["pass"] >= 0]
    pooled = [ms for _, ms in timed]
    level, high, beyond = estimators.high_percentile(pooled)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (estimators.wall_s(timed), "s"),
        "latency_p50_ms": (median(pooled), "ms"),
        "latency_phigh_ms": (high, "ms"),
        "retained_heap_mb": (rec["retained_heap_mb"], "MiB"),
    }
    ops = {}
    for op, ms in timed:
        ops.setdefault(op, []).append(ms)
    return metrics, {"samples": len(pooled), "phigh_level": level,
                     "phigh_beyond": beyond,
                     "op_median_ms": {op: round(median(v), 1) for op, v in ops.items()}}


def per_layer(rec, failed, attempted):
    tr = rec["trace"]
    cores = tr["cores"]
    passes = [p for p in tr["passes"] if p["pass"] >= 0]
    first = passes[0]

    def total(p, key, scale=1.0):
        return sum(o.get(key, 0.0) for o in p["ops"].values()) * scale

    def count(key):
        return total(first, key)

    def per_pass(key, scale=1.0):
        return median([total(p, key, scale) for p in passes])

    m = {
        "entry.construct_ms": (per_pass("entry.construct_ms"), "ms"),
        "entry.driver_jobs": (count("entry.driver_jobs"), "count"),
        "catalyst.analysis_ms": (per_pass("catalyst.analysis_us", 1e-3), "ms"),
        "catalyst.optimization_ms": (per_pass("catalyst.optimization_us", 1e-3), "ms"),
        "catalyst.planning_ms": (per_pass("catalyst.planning_us", 1e-3), "ms"),
        "codegen.compiles": (count("codegen.compiles"), "count"),
        "codegen.compile_ms": (per_pass("codegen.compile_us", 1e-3), "ms"),
        "jvm.jit_ms": (per_pass("jvm.jit_ms"), "ms"),
        "sched.jobs": (count("sched.jobs"), "count"),
        "sched.stages": (count("sched.stages"), "count"),
        "sched.tasks": (count("sched.tasks"), "count"),
        "sched.jobs_per_s": (median([total(p, "sched.jobs") /
                                     ((p["wall_ms"] - p["overhead_ms"]) / 1e3)
                                     for p in passes]), "1/s"),
        "sched.driver_gap_ms": (median([p["driver_gap_ms"] for p in passes]), "ms"),
        "ckpt.jobs": (count("ckpt.jobs"), "count"),
        "ckpt.retained_mb": (median([total(p, "ckpt.retained_mb") / len(p["ops"])
                                     for p in passes]), "MiB"),
        "exec.task_run_ms": (per_pass("exec.task_run_ms"), "ms"),
        "exec.task_cpu_ms": (per_pass("exec.task_cpu_us", 1e-3), "ms"),
        "exec.core_busy_ratio": (median([total(p, "exec.task_run_ms") /
                                         ((p["wall_ms"] - p["overhead_ms"]) * cores)
                                         for p in passes]), "ratio"),
        "jvm.gc_ms": (per_pass("jvm.gc_ms"), "ms"),
        "shuffle.write_bytes": (count("shuffle.write_bytes"), "B"),
        "shuffle.read_bytes": (count("shuffle.read_bytes"), "B"),
        "shuffle.spill_bytes": (count("shuffle.spill_bytes"), "B"),
    }
    n = max(1, rec["passes"])
    timed = [s for s in rec["samples"] if s["pass"] >= 0]
    for wl, ops in OPS.items():
        for op in ops:
            xs = [s["ms"] for s in timed if s["op"] == op] if wl == rec["workload"] else []
            m[f"op.{op}_ms"] = (median(xs), "ms")
    for st in STAGES:
        rows = [s["rows"] for s in timed if s["op"] == st and s["pass"] == 0]
        m[f"curation.{st}_rows_out"] = (rows[0] if rows else 0, "count")
    one_core = [s["ms"] for s in rec["samples"] if s["pass"] == -2]
    m["curation.cores_speedup"] = (
        sum(one_core) / (estimators.wall_s([(s["op"], s["ms"]) for s in timed]) * 1e3)
        if one_core else 0.0, "ratio")
    m["host.steal_ms"] = (rec["host"]["steal_ms"] / n, "ms")
    m["host.foreign_cpu_ms"] = (rec["host"]["foreign_cpu_ms"] / n, "ms")
    m["trace.overhead_s"] = (median([p["overhead_ms"] for p in passes]) / 1e3, "s")
    m["check.fail_ratio"] = (failed / attempted, "ratio")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_LIMIT_S
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        jars = build.spark_jars()
        classes = build.build(root, build_dir, jars)
        deadline = time.monotonic() + RUN_LIMIT_S
        work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        data_dir = os.path.join(work, "data")
        t0 = time.time()
        gen.write_inputs(data_dir, args.seed, args.workload == "curation")
        gen_s = time.time() - t0
        launched, rec = run_jvm(args, classes, jars, data_dir, work, deadline)
        setup_s = gen_s + rec["ready_epoch_ms"] / 1e3 - launched
        t1 = time.time()
        if rec["oracle_sql"]:
            expected = oracle_digests(data_dir, rec["oracle_sql"])
        else:
            expected = truth_digests(data_dir)
        check_s = time.time() - t1
        failed = 0
        mismatched = set()
        for s in rec["samples"]:
            if s["error"] or expected.get(s["op"]) is None or s["digest"] != expected[s["op"]]:
                failed += 1
                mismatched.add(s["op"])
        attempted = len(rec["samples"])
        e2e, info = end_to_end(rec, setup_s)
        metrics = per_layer(rec, failed, attempted) if args.trace else e2e
        errors = sorted({s["error"] for s in rec["samples"] if s["error"]})
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": rec["cores"],
            "shuffle_partitions": rec["partitions"],
            "spark_version": rec["spark_version"], "passes": rec["passes"],
            "window_s": round(rec["window_s"], 3), **info,
            "gen_s": round(gen_s, 3), "jvm_s": round(t1 - launched, 3),
            "check_s": round(check_s, 3),
            "host": rec["host"], "mismatched": sorted(mismatched),
            "errors": errors[:5]}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        shutil.rmtree(work, ignore_errors=True)
        return 0
    except (build.BenchError, subprocess.SubprocessError, OSError) as e:
        sys.stderr.write(f"benchmark failed: {e}\n")
        return 1


if __name__ == "__main__":
    sys.exit(main())
