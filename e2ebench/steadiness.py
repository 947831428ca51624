"""Repeat ``run.py`` over seeds and record each metric's spread.

    python3 e2ebench/steadiness.py --runs 10 --seconds 36 \
        --out e2ebench/steadiness.json [--workloads mining corpus search]

For every workload and end-to-end metric it records the values, their
median and quartiles (``statistics.quantiles(values, n=4)``) and the
spread ``(q3 - q1) / median``, next to the bound in BENCHMARK.json. A
run that fails or reports wrong output stops the record.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "bound": bound,
        "values": values,
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"runs": args.runs, "seconds": args.seconds, "workloads": {}}
    for w in args.workloads:
        per_metric: dict[str, list[float]] = {}
        stamps = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            if not res["correct"]:
                print(f"{w} seed {seed}: wrong output: {proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            for name, m in res["metrics"].items():
                per_metric.setdefault(name, []).append(m["value"])
            stamp = [ln for ln in proc.stderr.splitlines() if ln.startswith("e2ebench detail:")]
            stamps.append(json.loads(stamp[-1].split(":", 1)[1]) if stamp else {})
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        record["workloads"][w] = {
            "metrics": {k: summarize(v, bounds[k]) for k, v in per_metric.items()},
            "noise": [{k: s.get(k) for k in ("run_s", "steal_share", "canary_s")} for s in stamps],
        }
        for k, s in record["workloads"][w]["metrics"].items():
            print(f"{w:7s} {k:14s} median={s['median']:.4g} spread={s['spread']:.3f} "
                  f"bound={s['bound']}", flush=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
