"""Per-op Spark cost, read from outside the program.

An op runs inside :meth:`Census.op`, under its own job group. When it
ends, the census reads the jobs the op started from Spark's status
store through py4j and sums their stages:

- ``jobs``, ``stages`` (stages that ran; skipped stages are not counted)
- ``exec_s``: summed task executorRunTime
- ``idle_core_s``: cores x wall - exec_s, the time cores waited on
  driver planning, scheduling and job barriers
- ``shuffle_bytes``: shuffle read + write bytes

The op's jobs are the jobs whose ids were assigned while it ran. That
window, not the job group alone, is what is read: some ops submit jobs
from their own thread pools, and those threads do not carry the
caller's job group. The benchmark is a closed loop with one client, so
every job in the window belongs to the op.

``exchanges`` counts the Exchange nodes in the executed plan of a
returned DataFrame (``ReusedExchange`` nodes shuffle nothing and are not
counted).

``sc.statusTracker()`` gives job ids and their stage ids;
``statusStore().lastStageAttempt(sid)`` gives each stage's task
metrics. ``statusStore().stageList(None)`` does not resolve through
py4j on Spark 4.1, so stages are read one by one.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_NODE = re.compile(r"^[\s:|+\-]*(\w+)")


def final_plan_lines(plan: str) -> list[str]:
    """The lines of an executed plan minus every adaptive plan's
    ``== Initial Plan ==`` section, which repeats the nodes of the plan
    before AQE re-planned it."""
    out: list[str] = []
    section = None  # column of the "+-" that opens an Initial Plan section
    for line in plan.splitlines():
        content = len(line) - len(line.lstrip(" :|+-"))
        if section is not None:
            if content > section:
                continue
            section = None
        if "+- == Initial Plan ==" in line:
            section = line.index("+- == Initial Plan ==")
            continue
        out.append(line)
    return out


def count_exchanges(df: DataFrame) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = (_NODE.match(line) for line in final_plan_lines(plan))
    return sum(
        1 for m in nodes
        if m and m.group(1).endswith("Exchange") and m.group(1) != "ReusedExchange"
    )


class Census:
    """Reads per-op job and stage counts for one SparkSession."""

    def __init__(self, spark: SparkSession, cores: int) -> None:
        self.sc = spark.sparkContext
        self.cores = cores
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._empty = spark._jvm.java.util.ArrayList()
        self._seq = 0
        self.overhead_s = 0.0  # time spent reading Spark's status, outside ops

    def _drain(self) -> None:
        # Stage metrics reach the status store through the listener
        # bus; wait until it has delivered every event of the op.
        self._jsc.listenerBus().waitUntilEmpty()

    def _last_job_id(self) -> int:
        jobs = self._store.jobsList(self._empty)  # a Scala Seq, newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _jobs_after(self, last: int) -> list[int]:
        jobs = self._store.jobsList(self._empty)
        out = []
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= last:
                break
            out.append(jid)
        return out

    def read(self, job_ids: list[int], wall_s: float) -> dict:
        tracker = self.sc.statusTracker()
        stages = 0
        exec_ms = 0
        shuffle = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                exec_ms += sd.executorRunTime()
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        exec_s = exec_ms / 1000.0
        return {
            "jobs": len(job_ids),
            "stages": stages,
            "exec_s": exec_s,
            "idle_core_s": self.cores * wall_s - exec_s,
            "shuffle_bytes": shuffle,
        }

    @contextmanager
    def op(self, name: str):
        """Run the body as one op under its own job group. Yields a
        dict that holds ``wall_s`` and the counts once the body ends;
        the body may set ``result`` to a materialised DataFrame to get
        its ``exchanges``."""
        t0 = time.perf_counter()
        self._drain()
        last = self._last_job_id()
        self._seq += 1
        self.sc.setJobGroup(f"perfbench-{self._seq}-{name}", name)
        rec: dict = {"name": name}
        start = time.perf_counter()
        self.overhead_s += start - t0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["wall_s"] = end - start
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - end
        t1 = time.perf_counter()
        self._drain()
        rec.update(self.read(self._jobs_after(last), rec["wall_s"]))
        df = rec.pop("result", None)
        if isinstance(df, DataFrame):
            rec["exchanges"] = count_exchanges(df)
        self.overhead_s += time.perf_counter() - t1
