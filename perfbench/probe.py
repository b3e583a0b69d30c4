"""Spark status-store probe: what the engine did during a call, read from
outside the program.

``StoreProbe.measure(fn)`` runs ``fn`` and diffs two stores around it:

* the core status store (``stageData`` of each new stage): jobs, stages,
  tasks, executor run and CPU time, GC, input, shuffle, spill and output —
  exact integers;
* the SQL status store: per-execution metric values of the Python nodes
  (Arrow bytes to and from the workers, worker start, init and run time,
  each summed over tasks) and the output rows of every plan node, keyed
  ``rows.<node name>``.  Spark keeps only their rendered strings ("1.2 MiB",
  "3.4 s"), so sizes and times parse to within the rendering's 1-decimal
  precision; row counts are exact.

Both stores work with ``spark.ui.enabled=false``.  The stores are fed by an
asynchronous listener bus, so every read first waits for the bus to drain.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

#: status-store stage fields, summed over the stages a call ran
_STAGE_FIELDS = {
    "spark.tasks": "numCompleteTasks",
    "spark.failed_tasks": "numFailedTasks",
    "spark.executor_run_s": "executorRunTime",  # ms
    "spark.executor_cpu_s": "executorCpuTime",  # ns
    "spark.gc_s": "jvmGcTime",  # ms
    "spark.input_bytes": "inputBytes",
    "spark.input_records": "inputRecords",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.shuffle_write_records": "shuffleWriteRecords",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_read_records": "shuffleReadRecords",
    "spark.memory_spill_bytes": "memoryBytesSpilled",
    "spark.disk_spill_bytes": "diskBytesSpilled",
    "spark.output_bytes": "outputBytes",
}
_SCALE = {"spark.executor_run_s": 1e-3, "spark.executor_cpu_s": 1e-9, "spark.gc_s": 1e-3}

#: SQL metric names of the Python-UDF nodes (pyspark's PythonSQLMetrics)
_PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric: "1,000", "8.4 KiB", or the
    "total (min, med, max ...)\\n7.0 s (...)" form."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Counters:
    """What one call moved: its wall time, the probe's own bookkeeping time
    around it, and the store counters by name."""

    wall_s: float = 0.0
    probe_s: float = 0.0
    values: dict[str, float] = field(default_factory=dict)

    def _combine(self, other: Counters, sign: int) -> Counters:
        keys = set(self.values) | set(other.values)
        return Counters(
            self.wall_s + sign * other.wall_s, self.probe_s + sign * other.probe_s,
            {k: self.values.get(k, 0.0) + sign * other.values.get(k, 0.0)
             for k in keys})

    def __add__(self, other: Counters) -> Counters:
        return self._combine(other, 1)

    def __sub__(self, other: Counters) -> Counters:
        return self._combine(other, -1)

    def get(self, key: str) -> float:
        return self.values.get(key, 0.0)


class StoreProbe:
    """Diffs the status stores of one SparkSession around calls.

    New work is found by id: job and stage ids come from the scheduler's
    counters and SQL execution ids increase, so a diff reads only the
    stages and executions a call created, never the whole retained store.
    """

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._gateway.jvm
        self._empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _marks(self) -> tuple[int, int, int]:
        self._jsc.listenerBus().waitUntilEmpty()
        dag = self._jsc.dagScheduler()
        n = self._sql.executionsCount()
        last = list(_iter(self._sql.executionsList(max(0, n - 1), 1)))
        return dag.nextJobId(), dag.nextStageId(), (
            last[0].executionId() if last else -1)

    def measure(self, fn) -> tuple[object, Counters]:
        """Run ``fn()``; return its result and the counters it moved."""
        t0 = time.perf_counter()
        marks = self._marks()
        t1 = time.perf_counter()
        out = fn()
        t2 = time.perf_counter()
        counters = self._since(marks)
        counters.wall_s = t2 - t1
        counters.probe_s = (t1 - t0) + (time.perf_counter() - t2)
        return out, counters

    def _since(self, marks: tuple[int, int, int]) -> Counters:
        job0, stage0, ex0 = marks
        job1, stage1, _ = self._marks()
        v: dict[str, float] = dict.fromkeys(_STAGE_FIELDS, 0.0)
        v.update(dict.fromkeys(_PY_METRICS.values(), 0.0))
        v["spark.jobs"] = float(job1 - job0)
        v["spark.stages"] = 0.0
        store = self._jsc.statusStore()
        for sid in range(stage0, stage1):
            try:
                attempts = store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False, self._empty)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            for s in _iter(attempts):
                if s.status().toString() == "SKIPPED":
                    continue
                v["spark.stages"] += 1
                for key, attr in _STAGE_FIELDS.items():
                    v[key] += getattr(s, attr)() * _SCALE.get(key, 1)
        for e in self._executions_after(ex0):
            values = e.metricValues()
            if values is None:
                continue
            for m in _iter(e.metrics()):
                key = _PY_METRICS.get(m.name())
                if key and values.contains(m.accumulatorId()):
                    v[key] += parse_metric(values.apply(m.accumulatorId()))
            for n in _iter(self._sql.planGraph(e.executionId()).allNodes()):
                for m in _iter(n.metrics()):
                    if (m.name() == "number of output rows"
                            and values.contains(m.accumulatorId())):
                        key = f"rows.{n.name()}"
                        v[key] = v.get(key, 0.0) + parse_metric(
                            values.apply(m.accumulatorId()))
        return Counters(values=v)

    def _executions_after(self, ex0: int) -> list:
        out, n, page = [], self._sql.executionsCount(), 32
        hi = n
        while hi > 0:
            lo = max(0, hi - page)
            chunk = list(_iter(self._sql.executionsList(lo, hi - lo)))
            out.extend(e for e in chunk if e.executionId() > ex0)
            if not chunk or chunk[0].executionId() <= ex0:
                break
            hi = lo
        return out


def _iter(seq):
    """Iterate a Scala Seq / Java collection returned through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()
