#!/usr/bin/env python3
"""The repository benchmark: one workload, one run.

    python3 perfbench/run.py --workload mix-extract --seed 1 --seconds 30 --trace 0

Run from the repository root. Prints progress to stderr, an ``env`` line
(cores, RAM, Spark master, seed, sample counts) to stdout, and as the last
stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics named in
BENCHMARK.json, with ``--trace 1`` the per-layer ones. The traced run also
writes its spans to ``.perfbench_out/``. Exits 1 when any output is wrong,
and non-zero without a result line when the run itself fails.

Everything the run writes (the registry's extract-once store, Spark's local
dirs, the JVM's temp dir) lives in a directory under ``.perfbench_tmp/``
that is removed at exit, so no store survives from one run, or one commit,
to the next.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CORES = 4
DRIVER_MEMORY_MB = 2048


def log(msg: str) -> None:
    print("[perfbench %s] %s" % (time.strftime("%H:%M:%S"), msg), file=sys.stderr, flush=True)


def machine() -> dict:
    with open("/proc/meminfo") as f:
        ram_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    nproc = len(os.sched_getaffinity(0))
    return {"nproc": nproc, "ram_mb": ram_kb // 1024}


def isolate(tmp: str) -> None:
    """Point every temp and scratch location of this process, the JVM it
    starts and the Python workers at ``tmp``."""
    for sub in ("spark-local", "jvm", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.local.dir=%s" % os.path.join(tmp, "spark-local"),
            "--conf spark.sql.warehouse.dir=%s" % os.path.join(tmp, "warehouse"),
            "--driver-java-options -Djava.io.tmpdir=%s" % os.path.join(tmp, "jvm"),
            "pyspark-shell",
        ]
    )
    tempfile.tempdir = tmp


def stop_spark(spark) -> set[int]:
    """Stop the session and the JVM behind it; return the JVM's pid."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return set()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    return {proc.pid}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.probes import wait_gone
    from perfbench.workload import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        ap.error("unknown workload %r (have %s)" % (args.workload, ", ".join(WORKLOADS)))
    import tika_wrap_spark.pipeline  # noqa: F401  fail fast without the package

    host = machine()
    cores = min(MAX_CORES, host["nproc"])
    mem_mb = min(DRIVER_MEMORY_MB, host["ram_mb"] // 4)
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    isolate(tmp)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
              tmp, cores, "%dm" % mem_mb, log)
    code = 2
    try:
        log("set-up %s seed=%d local[%d]" % (args.workload, args.seed, cores))
        run.setup()
        log("window %.0fs" % args.seconds)
        run.measure()
        log("checks")
        run.check()
        log("checks done")
        if run.trace:
            log("layer probes")
            run.probe_layers()
        code = 0
    except Exception:
        traceback.print_exc()
    finally:
        run.close()
        jvm = stop_spark(run.spark) if run.spark is not None else set()
        left = wait_gone(run.sampler.seen_pids - {os.getpid()} | jvm, 30)
        if left:
            log("processes still alive: %s" % sorted(left))
        shutil.rmtree(tmp, ignore_errors=True)
        log("stopped")
    if code:
        return code

    attempted, failed = run.attempted, run.failed
    run.put("ok_frac", (attempted - failed) / attempted, "fraction")
    section = "per_layer" if run.trace else "end_to_end"
    wanted = [m["name"] for m in spec[section]]
    missing = [m for m in wanted if m not in run.metrics]
    if missing:
        log("metrics not measured: %s" % missing)
        return 2
    env = {**host, "master": "local[%d]" % cores, "driver_memory_mb": mem_mb,
           "workload": args.workload, "seed": args.seed, "trace": args.trace,
           **run.info, "failures": run.failures}
    print(json.dumps({"env": env}), flush=True)
    if run.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        run.tracer.write(
            os.path.join(out, "trace-%s-%d.json" % (args.workload, args.seed)),
            {"env": env, "metrics": {k: v for k, (v, _u) in run.metrics.items()}},
        )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": run.metrics[m][0], "unit": run.metrics[m][1]} for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
