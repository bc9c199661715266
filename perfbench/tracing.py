"""Tracing for the per-layer run (``--trace 1``).

* ``Tracer`` records spans (name, start, end, parent) around the benchmark's
  calls into each layer and keeps them in memory until ``dump``.
* ``pass_stats`` reads Spark's own status stores for the jobs of one job
  group (one timed pass): the SQL store gives the Python-UDF operator's
  metrics and names the kernel stage; the app store gives stage wall time,
  shuffle bytes, GC time and task durations.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_time(self, sid: int) -> float:
        """Span duration minus the time its direct children cover."""
        s = self.spans[sid]
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == sid and c["end"] is not None)
        return (s["end"] - s["start"]) - kids

    def dump(self, path: str, extra: dict) -> None:
        for s in self.spans:
            if s["end"] is not None:
                s["self"] = self.self_time(s["id"])
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1,
                      default=str)


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------

_QTY = re.compile(r"^([\d.,]+)\s*(ms|s|m|min|h|B|KiB|MiB|GiB|TiB)?")
_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
         "TiB": 1024.0 ** 4, None: 1.0}
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def parse_metric(text: str) -> tuple[float, int | None]:
    """A SQL metric string -> (total in seconds or bytes, stage id or None).
    Multi-task values read 'total (min, med, max (stageId: taskId))\\n<total>
    (<min>, <med>, <max> (stage S.A: task T))'."""
    last = text.strip().splitlines()[-1]
    m = _QTY.match(last)
    total = float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m \
        else 0.0
    st = _STAGE.search(last)
    return total, (int(st.group(1)) if st else None)


def _ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def pass_stats(spark, group: str) -> dict:
    """Status-store metrics of the jobs in job group ``group``."""
    from py4j.protocol import Py4JJavaError
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    app = sc._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    python_init = python_run = 0.0
    kernel_stages: set[int] = set()
    for ex in _seq(sql.executionsList()):
        ex_jobs = {int(j) for j in
                   _seq(ex.jobs().keys().toSeq())}
        if not ex_jobs or not ex_jobs <= jobs:
            continue
        values = sql.executionMetrics(ex.executionId())
        for node in _seq(sql.planGraph(ex.executionId()).allNodes()):
            if node.name() != "MapInArrow":
                continue
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                total, stage = parse_metric(v.get())
                if m.name() == "time to initialize Python workers":
                    python_init += total
                elif m.name() == "time to run Python workers":
                    python_run += total
                    if stage is not None:
                        kernel_stages.add(stage)
    stages = {}
    for j in jobs:
        info = sc.statusTracker().getJobInfo(j)
        for s in (info.stageIds if info else []):
            try:
                sd = app.lastStageAttempt(s)
            except Py4JJavaError:  # a stage dropped from the store
                continue
            if sd.status().toString() == "COMPLETE":
                stages[s] = sd
    gc_s = sum(sd.jvmGcTime() for sd in stages.values()) / 1000.0

    def wall(sd) -> float:
        a, b = _ms(sd.submissionTime()), _ms(sd.completionTime())
        return (b - a) / 1000.0 if a is not None and b is not None else 0.0

    kernel = [stages[s] for s in sorted(kernel_stages) if s in stages]
    first_kernel = min(kernel_stages) if kernel_stages else None
    # reassembly: stages after the first kernel stage that read a shuffle
    # and run no Python (the groupBy(doc_id) merge and the spine join)
    reassemble = [sd for s, sd in sorted(stages.items())
                  if first_kernel is not None and s > first_kernel
                  and s not in kernel_stages and sd.shuffleReadBytes() > 0]
    skews = []
    for sd in kernel:
        d = sorted(t.duration().get() for t in
                   _seq(app.taskList(sd.stageId(), sd.attemptId(), 100000))
                   if t.duration().isDefined())
        if d:
            skews.append(d[-1] / max(statistics.median(d), 1))
    mb = 1024.0 ** 2
    return {
        "jobs": len(jobs),
        "kernel_stages": sorted(kernel_stages),
        "kernel_stage_s": sum(wall(sd) for sd in kernel),
        "reassemble_stage_s": sum(wall(sd) for sd in reassemble),
        "exchange_read_mb": sum(sd.shuffleReadBytes() for sd in kernel) / mb,
        "reassemble_shuffle_mb":
            sum(sd.shuffleWriteBytes() for sd in kernel) / mb,
        "python_init_s": python_init,
        "python_run_s": python_run,
        "gc_s": gc_s,
        "kernel_task_skew": max(skews) if skews else 0.0,
    }
