"""One fresh Spark session: set up, build the workload's index, run a
fixed number of jobs, read memory, write one JSON result.

Started by ``run.py`` as the leader of a new process group, so the JVM,
``pyspark.daemon`` and its workers all share this process's group id and
their CPU is read from ``/proc`` around every job.

    python3 session.py --spec SPEC.json --out RESULT.json --schedule CWUU --spawn T [--trace]

The schedule names each step in order: ``C`` the cold job, ``W`` a warm
job left out while the JIT settles, ``U`` an untraced warm job, ``T`` a
traced warm job, ``D`` the workload's direct operator calls (traced).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402

def live_heap_mb(spark) -> float:
    """JVM heap still in use after forced full collections.

    Python's collection first releases the py4j proxies the driver no
    longer holds; the pause lets Spark's ContextCleaner drop the blocks
    of RDDs the first JVM collection found unreachable."""
    gc.collect()
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    time.sleep(1.0)
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / float(2**20)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--schedule", required=True)
    ap.add_argument("--spawn", type=float, required=True,
                    help="time.monotonic() at which the parent started this process")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import promi_spark
    from promi_spark.session import get_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(promi_spark.__file__))) != ROOT:
        raise SystemExit(f"promi_spark imported from {promi_spark.__file__}, not this checkout")
    with open(args.spec) as f:
        spec = json.load(f)
    workdir = os.getcwd()
    spark = get_spark("e2ebench")
    setup_s = time.monotonic() - args.spawn
    spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(workdir, "checkpoints"))

    from jobs import WORKLOADS
    from tracer import Tracer

    tracer = Tracer(spark, args.trace)
    wl = WORKLOADS[spec["workload"]](spark, spec, workdir, tracer)
    pgid = os.getpgrp()

    wl.build_index()

    jobs, failures, recalls = [], [], []
    for i, kind in enumerate(args.schedule):
        tracer.on = kind in "TD" or (kind == "C" and args.trace)
        tracer.job, tracer.part = i, "direct" if kind == "D" else "job"
        n0 = len(tracer.spans)
        cpu0 = procstat.group_cpu_s(pgid)
        t0 = time.perf_counter()
        if kind == "D":
            out = wl.direct()
        else:
            with tracer.span("job"):
                out = wl.job(i)
        wall = time.perf_counter() - t0
        cpu = procstat.group_cpu_s(pgid) - cpu0
        try:
            bad = wl.check(out)
        except Exception:  # a malformed output is a failed job, not a crash
            bad = [traceback.format_exc(limit=2)]
        if bad:
            failures.append({"job": i, "kind": kind, "errors": bad})
        if hasattr(wl, "recall"):
            recalls.append(wl.recall(out))
        job = {"index": i, "kind": kind, "wall_s": wall, "cpu_s": cpu, "ok": not bad}
        if tracer.on:
            job["storage_mb_left"] = tracer.storage_mb()
            # summed wall time of the step's public calls
            job["calls_s"] = sum(sp["counters"]["wall_s"] for sp in tracer.spans[n0:]
                                 if "counters" in sp)
        jobs.append(job)

    result = {
        "setup_s": setup_s,
        "jobs": jobs,
        "failures": failures,
        "recalls": recalls,
        "live_heap_mb": live_heap_mb(spark),
        "driver_rss_mb": procstat.vm_hwm_mb(),
    }
    if args.trace:
        result["trace"] = tracer.dump()
    spark.stop()
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
