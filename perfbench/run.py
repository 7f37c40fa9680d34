"""Benchmark entry point: one run of one workload.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py) in a private working directory under .bench_build/,
runs the workload in one JVM at local[N] (N = min(4, nproc)), checks the
outputs (perfbench/checks.py), prints every metric by name and unit, and
ends with one JSON line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. The full record of the run, stamped with its
environment, is kept under .bench_build/results/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("rideshare_csv", "parquet_mix")
HEAP = "2g"
# Spark task threads (local[N]). The passes are latency-bound (about 1.7
# tasks per stage), so two threads run them as fast as four did, and the
# other cores are left to the driver thread, the JIT and the GC.
CORES = 2
JVM_TIMEOUT_S = 160
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# tables one parquet_mix pass reads (the core and corpus queries)
MIX_TABLES = ["nation", "customer", "orders", "events", "documents",
              "embeddings"]
# end-to-end metrics (BENCHMARK.json); op_p50_s, op_tail_s, live_heap_mb
# and error_rate are printed beside them
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_gmean_s": "s",
             "rows_per_s": "1/s", "peak_rss_mb": "MB"}


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it, as
    (value, percentile), or None when that percentile would not even
    reach the median (fewer than 2 * beyond samples)."""
    s = sorted(values)
    n = len(s)
    if n < 2 * beyond:
        return None
    return s[n - beyond - 1], 100.0 * (n - beyond) / n


def inputs(workload, data, seed):
    """Generates the workload's inputs; returns the rows one pass reads
    from its tables (the stream's docs are added from the run's result)."""
    if workload == "rideshare_csv":
        gen.gen_rideshare(f"{data}/rideshare", seed)
        return gen.RIDESHARE_ROWS
    gen.gen_tables(f"{data}/tables", seed)
    gen.gen_stream(f"{data}/stream", seed)
    return sum(pq.ParquetFile(f"{data}/tables/{n}.parquet").metadata.num_rows
               for n in MIX_TABLES)


def provenance(root, key, res):
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                               capture_output=True, text=True, timeout=10)
            commit = r.stdout.strip() if r.returncode == 0 else None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"nproc": os.cpu_count(), "cores": res.get("cores"),
            "heap_max_bytes": res.get("heap_max_bytes"),
            "jdk": res.get("jdk"), "spark_version": res.get("spark_version"),
            "git_commit": commit, "source_hash": key}


def run_jvm(cp, args, cwd, log_path, deadline):
    # a fixed-size heap: with a growing one, heap resizing moved pass times
    # by 10-15 % from run to run; touched up front, so the peak resident
    # size does not depend on how much of it a run happened to use. Two GC
    # and two JIT compiler threads, so with two task threads the JVM does
    # not ask for more cores than the machine has (on 4 vCPUs the
    # defaults, 4 and 3, competed with the tasks). C1 only: within the
    # few passes a run can afford, C2 never reached its steady state; side
    # by side it made the cold pass half as long again (26 s against 18 s)
    # and each timed pass faster than the one before, with no gain in
    # pass time over C1
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2",
            "-XX:TieredStopAtLevel=1", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={cwd}/tmp"] +
           [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.BenchMain"] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description="spark-graft benchmark run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()

    try:
        cp, key = build.build(root)
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    # the build may take long on a first run; the run's own clock starts here
    t_run = time.time()
    cores = max(1, min(CORES, os.cpu_count() or 1))
    work = os.path.join(root, build.BUILD_DIR, "work",
                        f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = f"{work}/data", f"{work}/out"
    for d in (data, out, f"{work}/tmp"):
        os.makedirs(d)
    rows = inputs(a.workload, data, a.seed)
    log = f"{work}/jvm.log"
    rc = run_jvm(cp.split(os.pathsep)[0] + os.pathsep +
                 os.path.join(os.path.dirname(build.spark_jars()[0]), "*"),
                 [a.workload, data, out, str(a.seconds), str(a.trace),
                  str(cores)], work, log, t_run + JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(f"{out}/result.json"):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: JVM run failed (exit {rc})")
    with open(f"{out}/result.json") as f:
        res = json.load(f)

    failed_checks, n_checks = checks.run(a.workload, data, out)
    errors = res["errors"] + failed_checks
    attempted = res["attempted"] + n_checks
    failed = len(errors)
    for e in errors:
        print(f"FAILED: {e}")

    prov = provenance(root, key, res)
    rows += int(res.get("stream_docs_per_pass", 0))
    # pass and action times are host-normalised (HostProbe in
    # BenchMain.scala): seconds on a host where the probe takes 0.4 s. A
    # session build runs no Spark job, and divided by the probe it spread
    # 26 % over ten seeds against 11 % raw, so set-up time is wall clock
    passes = res["pass_norm_s"]
    ops = res["op_norm_s"]
    pass_s = statistics.median(passes)
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "pass_s": pass_s,
        "op_gmean_s": statistics.geometric_mean(ops),
        "rows_per_s": rows / pass_s,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    print(f"workload {a.workload}  seed {a.seed}  passes {len(passes)}  "
          f"actions {len(ops)}  " +
          "  ".join(f"{k}={v}" for k, v in prov.items()))
    for k, v in e2e.items():
        print(f"{k:12s} {v:.6g} {E2E_UNITS[k]}")
    print(f"host probe   {statistics.median(res['probe_s']):.6g} s "
          "(median around the timed passes; 0.4 s is the reference host)")
    print(f"raw pass_s   {statistics.median(res['pass_s']):.6g} s, "
          f"cold pass {res['cold_pass_s']:.6g} s (wall clock, not normalised)")
    print(f"op_p50_s     {statistics.median(ops):.6g} s")
    t = tail(ops)
    print(f"op_tail_s    {t[0]:.6g} s (p{t[1]:.1f} of {len(ops)} actions)" if t else
          f"op_tail_s    n/a ({len(ops)} actions; a tail needs 20)")
    print(f"live_heap_mb {statistics.median(res['live_heap_mb']):.6g} MB "
          "(heap in use after a full GC, median over the timed passes)")
    print(f"error_rate   {failed / attempted:.6g} ({failed} of {attempted})")
    layer = res["layer"]
    if a.trace:
        for k, v in layer.items():
            print(f"{k:40s} {v}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layer if a.trace else e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0) or 0.0,
                           "unit": m["unit"]} for m in names}

    os.makedirs(os.path.join(root, build.BUILD_DIR, "results"), exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "provenance": prov, "raw": res,
              "errors": errors, "metrics": metrics,
              "wall_s": time.time() - t_start}
    with open(os.path.join(root, build.BUILD_DIR, "results",
                           f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        shutil.copy(f"{out}/spans.json", os.path.join(
            root, build.BUILD_DIR, "results",
            f"{a.workload}-{a.seed}-spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
