"""Layer profiler: spans recorded around layer calls, attributed to
Spark's own per-query metrics read from the status store.

A traced run wraps each call into a layer in ``Tracer.span(layer)``,
which records the wall-clock interval. After the run,
``Tracer.collect(spark)`` waits for the listener bus to drain, then
assigns every SQL execution and every Spark job to the innermost span
whose interval holds its submission time, and sums per layer:

* from the SQL plan graph (``sharedState().statusStore()``): Python
  worker start / initialise / run time and the Arrow bytes sent to and
  returned from Python workers;
* from the stage list (``statusStore().stageList`` with its 5-argument
  signature): tasks, shuffle write bytes, spill bytes, and task
  durations for the longest-over-median task ratio;
* from the job list: each job's submission and completion time.

All of these are populated with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "B": 1.0,
          "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?")

# SQL metric name -> per-layer key; times in ms, sizes in bytes
PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "arrow_in_bytes",
    "data returned from Python workers": "arrow_out_bytes",
}


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value as a number (ms for times, bytes
    for sizes). Aggregated values read 'total (min, med, max ...)'
    with the total on the second line."""
    if not text:
        return 0.0
    lines = text.strip().split("\n")
    line = lines[1] if len(lines) > 1 else lines[0]
    m = _VALUE.search(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch ms."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class Tracer:
    """Wall-clock spans around layer calls, nested by call order."""

    def __init__(self):
        self.spans: list[dict] = []
        self._depth = 0

    @contextmanager
    def span(self, layer: str):
        rec = dict(layer=layer, depth=self._depth, t0=time.time() * 1e3)
        self._depth += 1
        try:
            yield rec
        finally:
            self._depth -= 1
            rec["t1"] = time.time() * 1e3
            self.spans.append(rec)

    def _owner(self, t_ms: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["t0"] <= t_ms <= s["t1"] and (
                    best is None or s["depth"] > best["depth"]):
                best = s
        return best

    def collect(self, spark) -> dict[str, dict]:
        """Per-layer sums of wall time, Spark jobs, tasks, Python
        worker time, Arrow and shuffle bytes and spill, plus the
        (start, end) ms interval of every Spark job."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        sql = spark._jsparkSession.sharedState().statusStore()
        app = jsc.statusStore()
        layers: dict[str, dict] = {}
        for s in self.spans:
            acc = layers.setdefault(s["layer"], _empty())
            acc["s"] += (s["t1"] - s["t0"]) / 1e3
        for ex in _seq(sql.executionsList()):
            owner = self._owner(float(ex.submissionTime()))
            if owner is None:
                continue
            acc = layers[owner["layer"]]
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            for node in _seq(sql.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    key = PY_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    acc[key] += parse_metric(v.get() if v.isDefined()
                                             else None)
        stages = {}
        empty = spark.sparkContext._gateway.new_array(
            spark.sparkContext._jvm.double, 0)
        for sd in _seq(app.stageList(None, False, False, empty, None)):
            stages[(sd.stageId(), sd.attemptId())] = sd
        by_id: dict[int, list] = {}
        for (sid, _), sd in stages.items():
            by_id.setdefault(sid, []).append(sd)
        for jd in _seq(app.jobsList(None)):
            t = _opt_ms(jd.submissionTime())
            owner = None if t is None else self._owner(t)
            if owner is None:
                continue
            acc = layers[owner["layer"]]
            acc["spark_jobs"] += 1
            t1 = _opt_ms(jd.completionTime())
            if t1 is not None:
                acc["job_intervals"].append((t, t1))
            for sid in _seq(jd.stageIds()):
                for sd in by_id.get(sid, ()):
                    if sd.status().toString() != "COMPLETE":
                        continue
                    acc["tasks"] += sd.numCompleteTasks()
                    acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    acc["spill_bytes"] += (sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
                    acc["stages"].append((sd.executorRunTime(),
                                          sd.stageId(), sd.attemptId()))
        for acc in layers.values():
            acc["max_over_median_task"] = _task_skew(app, acc.pop("stages"))
        return layers


def _empty() -> dict:
    d = dict(s=0.0, spark_jobs=0, tasks=0, shuffle_write_bytes=0,
             spill_bytes=0, job_intervals=[], stages=[])
    d.update({k: 0.0 for k in PY_METRICS.values()})
    return d


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of (t0, t1) ms intervals, seconds."""
    total, end = 0.0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total / 1e3


def _task_skew(app, stages: list) -> float:
    """Longest over median task duration in the layer's busiest stage
    (largest executor run time) with more than one task."""
    for _, sid, att in sorted(stages, reverse=True):
        tasks = _seq(app.taskList(sid, att, 100000))
        durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
        if len(durs) > 1:
            med = statistics.median(durs)
            return max(durs) / med if med > 0 else 0.0
    return 0.0
