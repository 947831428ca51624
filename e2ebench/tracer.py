"""Per-call tracing for the traced run (``--trace 1``).

``Tracer.call(name, fn, *args, force=...)`` runs one public call of the
program and, when it must, an action that forces its result. With
tracing off it is a plain call. With tracing on it records a span (name,
start, end, parent, job group) and reads, for that call only:

- ``build_s`` / ``py4j_calls``: the driver side of the call and its
  forcing action, i.e. wall time no Spark job of it covered, and the py4j
  round trips it made (counted by wrapping the gateway client);
- ``plan_s``: Catalyst phases of a returned DataFrame's
  ``queryExecution().tracker()``;
- ``run_s``, ``exec_cpu_s``, ``tasks``, ``shuffle_mb``, ``spill_mb``,
  ``sched_gap_s``: Spark's status store, for the job group set around
  the call;
- ``arrow_mb``: the Python SQL metrics of the SQL executions it started;
- ``storage_mb_left``: persisted bytes still registered afterwards.

Spans stay in memory and are returned by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import re
import time

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_ARROW_METRICS = ("data sent to Python workers", "data returned from Python workers")
MB = float(2**20)


def parse_size(text: str) -> float:
    """Bytes in a formatted SQL size metric: ``'1.5 KiB'`` or the
    ``'total (min, med, max ...)\\n1.5 KiB (...)'`` form."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)]


def busy_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of ``[start_ms, end_ms]`` intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


class Tracer:
    def __init__(self, spark, on: bool):
        self.on = on
        self.spark = spark
        self.spans: list[dict] = []
        self.records: dict[str, list[dict]] = {}
        self._stack: list[int] = []
        # which job (-1: the index build) and which part of it
        # ("index", "job", or "direct" for the corpus's direct calls)
        self.job, self.part = -1, "index"
        self._py4j = 0
        self._paused = False
        if not on:
            return
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*a, **kw):
            if not self._paused:
                self._py4j += 1
            return send(*a, **kw)

        client.send_command = counting_send
        self._paused = True
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_mod.__getattr__("MODULE$"))
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        self._paused = False

    # -- spans -----------------------------------------------------------

    def span(self, name: str):
        """A parent span with no counters (e.g. one whole job)."""
        return _Span(self, name)

    def _open(self, name: str, group: str | None) -> int:
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "job_group": group,
            }
        )
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx]["end"] = time.time()

    def call(self, name: str, fn, *args, force=None, **kwargs):
        """``force(fn(*args, **kwargs))`` (or the bare result without
        ``force``); traced as one span when tracing is on."""
        if not self.on:
            out = fn(*args, **kwargs)
            return force(out) if force else out
        t_pre = time.perf_counter()
        sc = self.spark.sparkContext
        group = f"e2e-{len(self.spans)}"
        self._paused = True
        sc.setJobGroup(group, name)
        last_exec = self._last_execution_id()
        self._paused = False
        idx = self._open(name, group)
        c0, t0 = self._py4j, time.perf_counter()
        result = fn(*args, **kwargs)
        out = force(result) if force else result
        t1, c1 = time.perf_counter(), self._py4j
        self._close(idx)
        self._paused = True
        try:
            rec = {"job": self.job, "part": self.part, "py4j_calls": c1 - c0, "wall_s": t1 - t0}
            # a drained stream's micro-batches run under its run id
            rec.update(self._stage_counters(str(getattr(out, "runId", group))))
            rec["build_s"] = max(0.0, rec["wall_s"] - rec["run_s"])
            rec["arrow_mb"] = self._arrow_mb(last_exec)
            rec["storage_mb_left"] = self._storage_mb()
            plan = self._plan_s(result)
            if plan is not None:
                rec["plan_s"] = plan
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            # the tracer's own time around this call
            rec["trace_s"] = (t0 - t_pre) + (time.perf_counter() - t1)
            self.spans[idx]["counters"] = rec
            self.records.setdefault(name, []).append(rec)
        finally:
            self._paused = False
        return out

    # -- status store readings ---------------------------------------------

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _stage_counters(self, group: str) -> dict:
        jobs, stages = [], []
        for jid in self._tracker.getJobIdsForGroup(group):
            jd = self._json(self._store.job(jid))
            if jd.get("submissionTime") and jd.get("completionTime"):
                jobs.append((jd["submissionTime"], jd["completionTime"]))
            for sid in jd["stageIds"]:
                sd = self._json(self._store.lastStageAttempt(sid))
                if sd["status"] != "SKIPPED":
                    stages.append(sd)
        run_s = busy_s(jobs)
        stage_busy = busy_s(
            [(s["submissionTime"], s["completionTime"]) for s in stages
             if s.get("submissionTime") and s.get("completionTime")]
        )
        return {
            "run_s": run_s,
            "sched_gap_s": max(0.0, run_s - stage_busy),
            "exec_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "tasks": sum(s["numTasks"] for s in stages),
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "spill_mb": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in stages) / MB,
        }

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if not n:
            return -1
        return max(e["executionId"] for e in self._json(self._sql.executionsList(n - 1, 1)))

    def _arrow_mb(self, after_id: int) -> float:
        total = 0.0
        for eid in range(after_id + 1, self._last_execution_id() + 1):
            ex = self._json(self._sql.execution(eid))
            if not ex:
                continue
            names = {m["accumulatorId"]: m["name"] for m in ex["metrics"]}
            values = self._json(self._sql.executionMetrics(ex["executionId"]))
            for acc, text in values.items():
                if names.get(int(acc)) in _ARROW_METRICS:
                    total += parse_size(text)
        return total / MB

    def storage_mb(self) -> float:
        """Persisted bytes (memory + disk) registered right now."""
        self._paused = True
        try:
            return self._storage_mb()
        finally:
            self._paused = False

    def _storage_mb(self) -> float:
        infos = self._json(self.spark.sparkContext._jsc.sc().getRDDStorageInfo())
        return sum(i.get("memSize", 0) + i.get("diskSize", 0) for i in infos) / MB

    def _plan_s(self, result) -> float | None:
        df = getattr(result, "df", result)
        jdf = getattr(df, "_jdf", None)
        if jdf is None:
            return None
        phases = self._json(jdf.queryExecution().tracker().phases())
        return sum(p["endTimeMs"] - p["startTimeMs"] for p in phases.values()) / 1000.0

    def dump(self) -> dict:
        return {"spans": self.spans, "records": self.records}


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        if self.tracer.on:
            self.idx = self.tracer._open(self.name, None)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer._close(self.idx)
        return False
