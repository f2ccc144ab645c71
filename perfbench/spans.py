"""Outside-in tracing: spans around calls into the engine, plus the
job, stage, task and plan counts Spark records for them.

Spans are kept in memory and written out when the run ends. Counts are
read from the driver's status store (which Spark keeps with the UI
disabled) right after each op, so the ``spark.ui.retainedJobs`` limit
never drops an op's jobs. Job ids are allocated in submission order,
so the jobs of one phase of an op are exactly the ids handed out
between the phase's start and end; this also catches the jobs a
streaming query runs on its own thread.

With tracing off, ``Tracer`` still times ops (the end-to-end metrics
need op latency) but records no spans, reads no counts and marks no
job ids.
"""

from __future__ import annotations

import contextlib
import json
import time

STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                "shuffleWriteBytes", "shuffleReadBytes", "memoryBytesSpilled",
                "diskBytesSpilled", "inputRecords", "outputRecords",
                "outputBytes", "numCompleteTasks", "numFailedTasks")

class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._jsc = spark.sparkContext._jsc.sc()
        self._stack: list[int] = []
        self.collect_s = 0.0  # time spent reading counts, outside every op span

    def job_mark(self) -> int:
        """Id the next submitted job will get; 0 with tracing off, so an
        untraced op makes no calls into the JVM beyond its own."""
        return self._jsc.dagScheduler().numTotalJobs() if self.enabled else 0

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "op": op, **attrs}
        if self.enabled:
            self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def counting(self):
        """Time spent collecting counts, kept out of op spans."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.collect_s += time.perf_counter() - t0

    def job_stats(self, first: int, end: int) -> dict[str, float]:
        """Job, stage and task totals of the jobs with ids in [first, end)."""
        store = self._jsc.statusStore()
        out = {"jobs": end - first, "stages": 0, "job_s": 0.0, **{f: 0 for f in STAGE_FIELDS}}
        seen = set()
        for jid in range(first, end):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            ids = job.stageIds().iterator()
            while ids.hasNext():
                sid = ids.next()
                if sid in seen:
                    continue
                seen.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for f in STAGE_FIELDS:
                    out[f] += getattr(stage, f)()
        return out

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


def catalyst_phases(qe) -> dict[str, int]:
    """``QueryPlanningTracker`` phase times (ms) of a query execution."""
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = got.get().durationMs() if got.isDefined() else 0
    return out


def plan_counts(qe) -> dict[str, int]:
    """Operator counts from a walk of the final (post-AQE) physical plan,
    subqueries included. Query-stage and AQE wrappers are descended
    through and not counted."""
    counts = {"nodes": 0, "exchanges": 0, "reused_exchanges": 0, "broadcasts": 0,
              "smj": 0, "bhj": 0}
    kinds = {"ShuffleExchangeExec": "exchanges", "ReusedExchangeExec": "reused_exchanges",
             "BroadcastExchangeExec": "broadcasts", "SortMergeJoinExec": "smj",
             "BroadcastHashJoinExec": "bhj"}
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        counts["nodes"] += 1
        if cls in kinds:
            counts[kinds[cls]] += 1
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return counts
