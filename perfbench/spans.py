"""Per-layer spans read from Spark's in-process status store.

A span wraps one call into the library. It tags every Spark job the call
launches (``SparkContext.addJobTag``), and once the iteration is over it
reads those jobs and their stages back from the status store. Nothing is
read while a call runs, and no extra Spark job is launched.

Span fields: ``wall_s``, ``jobs``, ``stages`` (completed, not skipped),
``exec_cpu_s``, ``gc_s``, ``input_bytes``, ``shuffle_write_bytes``,
``spill_bytes`` (memory + disk), ``output_bytes`` and ``driver_gap_s``
(span wall time minus the union of the span's job intervals).
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

SPAN_FIELDS = (
    "wall_s", "jobs", "stages", "exec_cpu_s", "gc_s", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes", "driver_gap_s",
)


class Tracer:
    """Collects spans for one traced iteration; ``enabled=False`` is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._ids = itertools.count()
        self._open: list[tuple[str, str, float, float]] = []
        self.values: dict[str, float] = {}  # extra per-iteration counters

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        tag = f"perfbench-{next(self._ids)}"
        sc.addJobTag(tag)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            sc.removeJobTag(tag)
            self._open.append((name, tag, t0, t1))

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name] = self.values.get(name, 0.0) + value

    def collect(self) -> dict[str, float]:
        """Resolve this iteration's spans into ``<span>.<field>`` sums."""
        out = dict(self.values)
        if not self.enabled:
            return out
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = jsc.statusTracker()
        gw = self.spark.sparkContext._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        no_status = gw.jvm.java.util.ArrayList()
        for name, tag, t0, t1 in self._open:
            f = dict.fromkeys(SPAN_FIELDS, 0.0)
            f["wall_s"] = t1 - t0
            intervals = []
            stage_ids = set()
            for job_id in tracker.getJobIdsForTag(tag):
                jd = store.job(job_id)
                f["jobs"] += 1
                sub, end = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and end.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0)
                    )
                ids = jd.stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.size()))
            for sid in stage_ids:
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    f["stages"] += 1
                    f["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                    f["gc_s"] += sd.jvmGcTime() / 1e3
                    f["input_bytes"] += sd.inputBytes()
                    f["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    f["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    f["output_bytes"] += sd.outputBytes()
            f["driver_gap_s"] = max(0.0, f["wall_s"] - _union(intervals, t0, t1))
            for k, v in f.items():
                key = f"{name}.{k}"
                out[key] = out.get(key, 0.0) + v
        self._open.clear()
        self.values = {}
        return out


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
