"""End-to-end benchmark of promi_spark: one workload, one seed, one run.

    python3 e2ebench/run.py --workload mining --seed 1 --seconds 36 --trace 0

Generates the workload's inputs from the seed (``gen.py``), starts a
fresh Spark session in its own process group (``session.py``), builds
the workload's index, runs one cold and then warm jobs, and checks every
job's output against the generator's truth. The last stdout line is one
JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the session traces every public call; the metrics are the
per-layer ones, and the per-call counters and spans are written to
``e2ebench/traces/<workload>-<seed>.json``. A noise stamp (steal share,
canary) goes to stderr. Exits non-zero without a result line if the
program cannot be run from this checkout.
"""

from __future__ import annotations

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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procstat  # noqa: E402

WORKLOADS = ("mining", "corpus", "search")
# Per-session cost model that turns --seconds into a job count:
# ``fixed_s`` is set-up + index build + the cold job, ``job_s`` one warm
# job; the first ``discard`` warm jobs are left out while the JIT settles
# (corpus's first warm job still runs ~10% slow, mining's much less).
PLAN = {
    "mining": {"fixed_s": 26.0, "job_s": 7.0, "discard": 0},
    "corpus": {"fixed_s": 28.0, "job_s": 6.8, "discard": 1},
    "search": {"fixed_s": 18.0, "job_s": 0.85, "discard": 8},
}
MIN_WARM = 2
# A traced session's compared steps, after the same discarded warm jobs
# as an untraced one: T traced and U untraced warm jobs, D the direct
# operator calls. ABBA order, so a JIT still settling biases neither the
# traced/untraced nor the flow/direct comparison.
TRACE_STEPS = {"mining": "TUUT", "corpus": "TUDDUT", "search": "TUUT" * 5}
SESSION_TIMEOUT_S = 170
DRIVER_HEAP = "1g"

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "job_s_p50": "s", "job_s_p90": "s", "job_cpu_s": "s",
    "live_heap_mb": "MB", "driver_rss_mb": "MB", "recall_at_10": "ratio",
}
# Per-layer metrics, reported by every workload's traced run: its index
# build and a warm traced job, each summed over their public calls, plus
# the overheads. Per-call figures go to the trace file.
COUNTERS = ("build_s", "py4j_calls", "plan_s", "run_s", "sched_gap_s", "exec_cpu_s", "tasks",
            "shuffle_mb", "spill_mb", "arrow_mb")


def unit_of(counter: str) -> str:
    if counter in ("py4j_calls", "tasks"):
        return "count"
    return "MB" if counter.endswith("_mb") else "s"


PER_LAYER = {
    "session.get_spark.s": "s",
    "index.run_s": "s", "index.exec_cpu_s": "s", "index.py4j_calls": "count",
    **{f"job.{c}": unit_of(c) for c in COUNTERS},
    "job.storage_mb_left": "MB", "job.overhead_s": "s", "tracing.overhead_s": "s",
}


def schedule(workload: str, seconds: int, trace: bool) -> str:
    """The session's steps (see ``session.py``): the cold job, the
    discarded warm jobs, then the measured ones that fit in ``seconds``
    (untraced run) or the compared traced/untraced steps (traced run)."""
    p = PLAN[workload]
    head = "C" + "W" * p["discard"]
    if trace:
        return head + TRACE_STEPS[workload]
    warm = max(MIN_WARM + p["discard"], int((seconds - p["fixed_s"]) / p["job_s"]))
    return head + "U" * (warm - p["discard"])


def group_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rindex(")") + 2 :].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def stop_group(pgid: int) -> None:
    """TERM, then KILL, every process left in the session's group, and
    wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10.0
        while group_members(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def session_env(workdir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "PYTHONHASHSEED": "0",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
            # pin the driver heap (no resizing between runs) and keep the
            # JVM's files inside the run directory (no /tmp/hsperfdata_*)
            "PYSPARK_SUBMIT_ARGS": (
                f'--driver-java-options "-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} '
                f'-XX:-UsePerfData" pyspark-shell'
            ),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    return env


def run_session(spec_path: str, workdir: str, steps: str, trace: bool) -> dict:
    """Run ``session.py`` in a new process group, stop whatever it leaves
    behind, and return its result."""
    os.makedirs(workdir, exist_ok=True)
    out = os.path.join(workdir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "session.py"), "--spec", spec_path,
           "--out", out, "--schedule", steps]
    if trace:
        cmd.append("--trace")
    log_path = os.path.join(workdir, "session.log")
    with open(log_path, "w") as log:
        spawn = time.monotonic()
        proc = subprocess.Popen(cmd + ["--spawn", repr(spawn)], cwd=workdir,
                                env=session_env(workdir), stdin=subprocess.DEVNULL,
                                stdout=log, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=SESSION_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"session exited with {code}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def end_to_end(workload: str, res: dict) -> dict:
    warm = [j for j in res["jobs"] if j["kind"] == "U"]
    walls = [j["wall_s"] for j in warm]
    if workload == "search":
        recall = statistics.fmean(res["recalls"])
    else:  # share of checked outputs that matched the truth
        recall = sum(j["ok"] for j in res["jobs"]) / len(res["jobs"])
    values = {
        "setup_s": res["setup_s"],
        "cold_s": res["jobs"][0]["wall_s"],
        "job_s_p50": statistics.median(walls),
        # linear interpolation between the sorted samples
        "job_s_p90": statistics.quantiles(walls, n=10, method="inclusive")[-1],
        "job_cpu_s": statistics.median(j["cpu_s"] for j in warm),
        "live_heap_mb": res["live_heap_mb"],
        "driver_rss_mb": res["driver_rss_mb"],
        "recall_at_10": recall,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_call(records: dict[str, list[dict]]) -> dict[str, float]:
    """``<module>.<function>.<counter>`` medians over the warm traced
    calls (over every call for those made only once, e.g. the index)."""
    out = {}
    for call, recs in sorted(records.items()):
        warm = [r for r in recs if r["job"] > 0] or recs
        for c in COUNTERS + ("storage_mb_left", "wall_s"):
            vals = [r[c] for r in warm if c in r]
            if vals:
                out[f"{call}.{c}"] = statistics.median(vals)
    return out


def per_layer(res: dict) -> dict:
    records = [r for recs in res["trace"]["records"].values() for r in recs]
    index = [r for r in records if r["part"] == "index"]
    steps = {k: [j for j in res["jobs"] if j["kind"] == k] for k in "TUD"}
    traced = steps["T"]

    def job_records(j):
        return [r for r in records if r["job"] == j["index"] and r["part"] == "job"]

    values = {
        "session.get_spark.s": res["setup_s"],
        "index.run_s": sum(r["run_s"] for r in index),
        "index.exec_cpu_s": sum(r["exec_cpu_s"] for r in index),
        "index.py4j_calls": sum(r["py4j_calls"] for r in index),
        "job.storage_mb_left": statistics.median(j["storage_mb_left"] for j in traced),
        "tracing.overhead_s": (statistics.median(j["wall_s"] for j in traced)
                               - statistics.median(j["wall_s"] for j in steps["U"])),
    }
    for c in COUNTERS:
        values[f"job.{c}"] = statistics.median(
            sum(r.get(c, 0.0) for r in job_records(j)) for j in traced)
    if steps["D"]:  # the flow layer's own time, beside its operators
        values["job.overhead_s"] = (statistics.median(j["wall_s"] for j in traced)
                                    - statistics.median(d["calls_s"] for d in steps["D"]))
    else:  # what the job spends outside its public calls and the tracer
        values["job.overhead_s"] = statistics.median(
            j["wall_s"] - sum(r["wall_s"] + r["trace_s"] for r in job_records(j))
            for j in traced)
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through run_session so the session group is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "promi_spark", "__init__.py")):
        print(f"e2ebench: no promi_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    stat0, canary0 = procstat.cpu_times(), procstat.canary_s()
    t_start = time.monotonic()
    try:
        gen.generate(args.workload, args.seed, os.path.join(base, "inputs"))
        spec = os.path.join(base, "inputs", "spec.json")
        steps = schedule(args.workload, args.seconds, bool(args.trace))
        res = run_session(spec, os.path.join(base, "session"), steps, bool(args.trace))
    except Exception as exc:  # noqa: BLE001 - report, print no result
        print(f"e2ebench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(base, ignore_errors=True)
    detail = {"jobs": len(res["jobs"]), "failures": res["failures"][:5]}
    if args.trace:
        metrics = per_layer(res)
        trace_path = os.path.join(HERE, "traces", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({"calls": per_call(res["trace"]["records"]),
                       "spans": res["trace"]["spans"]}, f, indent=1)
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = end_to_end(args.workload, res)
    stat1, canary1 = procstat.cpu_times(), procstat.canary_s()
    detail.update({
        "run_s": round(time.monotonic() - t_start, 2),
        "steal_share": round(procstat.steal_share(stat0, stat1), 5),
        "canary_s": [round(canary0, 4), round(canary1, 4)],
    })
    print("e2ebench detail: " + json.dumps(detail), file=sys.stderr)
    failed = len({f["job"] for f in res["failures"]})
    print(json.dumps({"correct": failed == 0, "attempted": len(res["jobs"]), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
