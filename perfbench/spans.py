"""Outside-in tracing: spans around the benchmark's calls into the package,
plus Spark's own accounting for the jobs each span launched.

Nothing here touches package code. A span records wall time and the range
of Spark job ids created while it was open; job ids are handed out in
submission order, so the range attributes every job to the span whose call
launched it — including jobs a streaming query runs on its own thread under
its own job group. The job group is still set around each call, so every
job carries the span's name as its description.

Per-stage counters come from the application status store
(``sc.statusStore().stageData``, all five arguments spelled out because
py4j cannot fill Scala defaults), after the listener bus has drained.
Catalyst phase times come from ``df._jdf.queryExecution().tracker()``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputRecords", "inputBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "peakExecutionMemory",
)


class SparkCounters:
    """Reads job and stage counters for job-id ranges from the status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_statuses = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def jobs(self, lo: int, hi: int) -> dict:
        """Totals over jobs ``lo <= id < hi``: job, stage and task counts and
        the sum (or, for ``peakExecutionMemory``, the max) of every stage
        field. Skipped stages reused an earlier shuffle and count as none."""
        self._jsc.listenerBus().waitUntilEmpty()
        tot = {"jobs": 0, "stages": 0, "tasks": 0, **{f: 0 for f in STAGE_FIELDS}}
        for jid in range(lo, hi):
            try:
                sids = self._store.job(jid).stageIds()
            except Py4JJavaError:  # the store no longer retains this job
                continue
            tot["jobs"] += 1
            for i in range(sids.size()):
                attempts = self._store.stageData(
                    sids.apply(i), False, self._no_statuses, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    for f in STAGE_FIELDS:
                        v = int(getattr(sd, f)())
                        if f == "peakExecutionMemory":
                            tot[f] = max(tot[f], v)
                        else:
                            tot[f] += v
        tot["tasks"] = tot.pop("numTasks")
        return tot


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning ms of ``df``'s own query execution
    (0 for phases that have not run)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += float(p.get().durationMs())
    return total


class Tracer:
    """Collects spans for one op. Disabled, its spans record nothing; the
    caller still reads the op's whole job range for peak memory."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.counters = SparkCounters(spark)
        self._sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time one public call and remember the jobs it launched."""
        if not self.enabled:
            yield {}
            return
        rec = {"name": name}
        self._sc.setJobGroup(name, f"perfbench {name}")
        lo = self.counters.next_job_id()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
            rec["job_lo"], rec["job_hi"] = lo, self.counters.next_job_id()
            self._sc.setJobGroup("perfbench", "perfbench")
            self.spans.append(rec)

    def resolve(self) -> list[dict]:
        """Attach status-store counters to every span recorded so far (call
        after the op's timer stopped) and return the spans."""
        for rec in self.spans:
            if "spark" not in rec:
                rec["spark"] = self.counters.jobs(rec["job_lo"], rec["job_hi"])
        return self.spans
