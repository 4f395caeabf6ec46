"""Per-call Spark counters, read from outside the engine.

Each traced call runs under its own Spark job group. After the call the
tracer waits for Spark's listener bus to drain, then reads:

- the group's jobs and the stages that ran (``statusTracker``);
- per-stage shuffle-write and disk-spill bytes from the driver's status
  store;
- SQL plan metrics of the SQL executions those jobs belong to: rows that
  parquet scans of ``postings`` directories returned, and bytes sent to
  Python workers.

The untraced run uses ``NoSpans``, which only times.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_number(s: str) -> float:
    """Parse a formatted SQL metric: '1,234' or, for size metrics, the
    total of 'total (min, med, max ...)\\n12.3 MiB (...)' or '12.3 MiB'."""
    s = s.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([0-9.,]+)\s*([KMGT]?i?B)?", s)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


@dataclass
class Span:
    name: str
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    postings_rows: int = 0
    python_bytes_sent: float = 0.0


class NoSpans:
    """Timing only; adds nothing to the engine's calls."""

    @contextmanager
    def span(self, name: str):
        sp = Span(name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0


class SparkSpans(NoSpans):
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    @contextmanager
    def span(self, name: str):
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        sp = Span(name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._collect(group, sp)

    def _collect(self, group: str, sp: Span) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        job_ids = set(st.getJobIdsForGroup(group))
        sp.jobs = len(job_ids)
        jvm, gw = self.sc._jvm, self.sc._gateway
        store = self._jsc.statusStore()
        no_q = gw.new_array(jvm.double, 0)
        stage_ids = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in stage_ids:
            it = store.stageData(s, False, jvm.java.util.ArrayList(), False, no_q).iterator()
            ran = False
            while it.hasNext():
                d = it.next()
                if d.numCompleteTasks() > 0:
                    ran = True
                sp.shuffle_bytes += int(d.shuffleWriteBytes())
                sp.spill_bytes += int(d.diskBytesSpilled())
            sp.stages += ran
        if job_ids:
            self._sql_metrics(job_ids, sp)

    def _sql_metrics(self, job_ids: set[int], sp: Span) -> None:
        sq = self.spark._jsparkSession.sharedState().statusStore()
        n = sq.executionsCount()
        window = 64 + 4 * len(job_ids)
        it = sq.executionsList(max(0, n - window), window).iterator()
        while it.hasNext():
            e = it.next()
            ks = e.jobs().keys().iterator()
            mine = False
            while ks.hasNext():
                if int(ks.next()) in job_ids:
                    mine = True
                    break
            if not mine:
                continue
            values = sq.executionMetrics(e.executionId())
            nodes = sq.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                scan = name.startswith("Scan parquet") and "/postings" in node.desc()
                if not (scan or "Pandas" in name or "Python" in name):
                    continue
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if scan and m.name() == "number of output rows":
                        sp.postings_rows += int(_metric_number(v.get()))
                    elif m.name() == "data sent to Python workers":
                        sp.python_bytes_sent += _metric_number(v.get())


def driver_rss_peak_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
