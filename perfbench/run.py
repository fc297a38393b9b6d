#!/usr/bin/env python3
"""graft benchmark: one seeded workload, run as a closed loop (one client
issuing one op at a time) against Spark local[nproc], with every result
checked against a reference computed without graft.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload scan-pushdown|analytics|table-churn \
      --seed N --seconds S --trace 0|1

Builds graft and the benchmark on first use (see build.py), prints every
metric by name with its unit, and as the last line of stdout one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, from a
run that alternates untraced and traced passes and first measures the
parser layers in a JVM of their own.

The analytics workload reads the parquet tables in $SPARK_GRAFT_SF_DIR
(default ~/testdata/sf0.1). Outputs of the last run of each workload
stay in .bench_out/<workload>/ (result.json, spans.jsonl).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("scan-pushdown", "analytics", "table-churn")
# every run must end within this many seconds, build excluded
DEADLINE_S = 170
# no hsperfdata file in the system temp directory: a run writes only
# inside its checkout
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + [
    # Spark on JDK 17 outside spark-submit needs these opens
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def java(classes, main, args, out, timeout):
    cmd = (["java"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", build.classpath(classes), main] + args)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    # the JVM's own output goes to stderr: stdout carries only the metrics
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr,
                   timeout=timeout, cwd=ROOT)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(build.GRAFT_MAIN, "scala", "graft")):
        log(f"graft sources not found under {build.GRAFT_MAIN}; run from a graft checkout")
        return 2
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if a.workload == "analytics" and not os.path.exists(os.path.join(sf, "lineitem.parquet")):
        log(f"analytics needs the parquet tables in {sf} (SPARK_GRAFT_SF_DIR)")
        return 2

    classes = build.build()
    start = time.monotonic()
    cpus = len(os.sched_getaffinity(0))
    out = os.path.join(ROOT, ".bench_out", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    def left():
        return DEADLINE_S - (time.monotonic() - start)

    parser = {}
    if a.trace:
        # the parser layers first, in their own JVM (see ParserBench)
        java(classes, "graft.perfbench.ParserBench", [str(a.seed), os.path.join(out, "parser.json")],
             out, left())
        with open(os.path.join(out, "parser.json")) as f:
            parser = json.load(f)
    java(classes, "graft.perfbench.Main",
         ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
          "--trace", str(a.trace), "--out", out, "--cpus", str(cpus), "--sf", sf,
          "--bench-dir", HERE], out, left())
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    shutil.rmtree(os.path.join(out, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)

    e2e, wm, notes, attempted, failed = stats.summarize(result)
    print(f"graft perfbench: workload={a.workload} seed={a.seed} cpus={cpus} "
          f"passes={notes['passes']} ops={notes['op_samples']} attempted={attempted} failed={failed}")
    print(f"session: {json.dumps(result['session'], sort_keys=True)}")
    for k, v in e2e.items():
        print(f"  {k:<26} {v:>14.6f} {stats.END_TO_END[k]}")
    print("printed, not gated:")
    for k, (unit, home) in stats.WORKLOAD_METRICS.items():
        v = f"{wm[k]:>14.6f}" if k in wm else f"{'n/a':>14}"
        print(f"  {k:<26} {v} {unit}" + ("" if k in wm else f" (measured on {home})"))
    print(f"  (op_tail_s is the p{notes['op_tail_percentile']:.1f} of {notes['op_samples']} op latencies)")
    if a.trace:
        metrics = stats.layers(result, parser)
        units = stats.PER_LAYER
        for k, v in metrics.items():
            print(f"  {k:<26} {v:>18.6f} {units[k]}")
        print(f"spans: {os.path.relpath(os.path.join(out, 'spans.jsonl'), ROOT)}")
    else:
        metrics = e2e
        units = stats.END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired, OSError, ValueError, KeyError) as e:
        log(f"run failed: {e}")
        sys.exit(1)
