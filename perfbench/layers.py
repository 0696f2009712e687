"""Per-layer measurement for the traced run, taken from outside the engine.

Three sources, none of which needs code inside the engine:

* Spark's own SQL status store (``sharedState().statusStore()``, populated
  with the UI disabled): the per-operator metrics of every SQL execution an
  entry started, in its builder call (eager persists, writes, drains) or in
  its action. Each metric is attributed to the repository module whose
  layer it measures: ``sources`` (file scans and writes), ``operators``
  (shuffle, sort, aggregation, broadcast, generated code) and ``functions``
  (the Python/Arrow kernel crossings).
* A ``StreamingQueryListener`` for the ``streaming`` layer.
* The executor summary (tasks, JVM GC) for the ``session`` layer.

``SpanRecorder`` keeps the trace spans (workload -> pass -> entry -> plan
build / action) in memory until the run writes them out.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_NODE = re.compile(r"Python|Pandas|InArrow")

# (layer metric, node-name test, SQL metric name)
_RULES: list[tuple[str, object, str]] = [
    ("sources.scan_s", "Scan", "scan time"),
    ("sources.scan_bytes", "Scan", "size of files read"),
    ("sources.scan_files", "Scan", "number of files read"),
    ("sources.write_bytes", None, "written output"),
    ("sources.write_files", None, "number of written files"),
    ("operators.shuffle_write_bytes", None, "shuffle bytes written"),
    ("operators.shuffle_records", None, "shuffle records written"),
    ("operators.shuffle_write_s", None, "shuffle write time"),
    ("operators.spill_bytes", None, "spill size"),
    ("operators.sort_s", None, "sort time"),
    ("operators.agg_build_s", None, "time in aggregation build"),
    ("operators.agg_sort_fallback_tasks", None, "number of sort fallback tasks"),
    ("operators.broadcast_bytes", "BroadcastExchange", "data size"),
    ("operators.broadcast_collect_s", "BroadcastExchange", "time to collect"),
    ("operators.broadcast_build_s", "BroadcastExchange", "time to build"),
    ("operators.codegen_s", "WholeStageCodegen", "duration"),
    ("functions.py_init_s", None, "time to initialize Python workers"),
    ("functions.py_run_s", None, "time to run Python workers"),
    ("functions.py_bytes_sent", None, "data sent to Python workers"),
    ("functions.py_bytes_returned", None, "data returned from Python workers"),
    ("functions.py_rows_out", _PY_NODE, "number of output rows"),
]
_BY_METRIC: dict[str, list[tuple[str, object]]] = defaultdict(list)
for _key, _test, _metric in _RULES:
    _BY_METRIC[_metric].append((_key, _test))

_DOT_NODE = re.compile(r'label="(?:<br>)?<b>(.*?)</b>(.*?)" tooltip=')
_DOT_CLUSTER = re.compile(r'^\s*label="(.*)";$')
_PER_TASK = re.compile(r"^(.*?):? (?:total )?\(min, med, max")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric, in bytes, seconds or a count.

    The status store keeps metrics as display strings: ``"1,000"``,
    ``"12.5 MiB"``, ``"788 ms"``, or for per-task metrics a
    ``"total (min, med, max ...)"`` header line followed by
    ``"<total> (<min>, ...)"``.
    """
    line = text.split("\n")[-1].strip()
    parts = line.split()
    if not parts:
        return 0.0
    number = float(parts[0].replace(",", ""))
    unit = parts[1] if len(parts) > 1 else ""
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME_S:
        return number * _TIME_S[unit]
    return number


def _matches(test, node_name: str) -> bool:
    if test is None:
        return True
    if isinstance(test, str):
        return node_name.startswith(test)
    return bool(test.search(node_name))


def dot_metrics(dot: str) -> list[tuple[str, str, str]]:
    """(node name, metric name, display value) for every metric shown in a plan
    graph rendered by ``SparkPlanGraph.makeDotFile``.

    Operator nodes carry ``<br>``-separated ``name: value`` lines; a
    whole-stage-codegen cluster carries its ``duration`` in its own label
    with ``\\n`` separators. A per-task metric spans two lines: a
    ``name total (min, med, max ...)`` header, then the values.
    """
    out = []
    for line in dot.splitlines():
        node = _DOT_NODE.search(line)
        if node:
            name, items = node.group(1), node.group(2).split("<br>")
        else:
            cluster = _DOT_CLUSTER.match(line)
            if not cluster:
                continue
            items = cluster.group(1).split("\\n")
            name = items.pop(0)
        i = 0
        while i < len(items):
            item = items[i].strip()
            per_task = _PER_TASK.match(item)
            if per_task and i + 1 < len(items):
                metric, raw = per_task.group(1), items[i + 1]
                i += 2
            elif ": " in item:
                metric, raw = item.split(": ", 1)
                i += 1
            else:
                i += 1
                continue
            out.append((name, metric, raw))
    return out


class _StreamListener(StreamingQueryListener):
    """Sums micro-batch progress for the ``streaming`` layer."""

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.batches = 0
        self.input_rows = 0
        self.drain_s = 0.0
        self.state_mem_bytes = 0
        self._state_rows: dict[tuple[str, int], int] = {}

    @property
    def state_rows(self) -> int:
        return sum(self._state_rows.values())

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches += 1
        self.input_rows += int(p.numInputRows)
        self.drain_s += p.batchDuration / 1000.0
        mem = 0
        for i, op in enumerate(p.stateOperators):
            # rows held in state after the query's latest batch
            self._state_rows[(str(p.id), i)] = int(op.numRowsTotal)
            mem += int(op.memoryUsedBytes)
        self.state_mem_bytes = max(self.state_mem_bytes, mem)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class LayerCollector:
    """Reads per-entry layer metrics out of a live session."""

    def __init__(self, spark):
        self.spark = spark
        self._jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._last_id = self._newest_id()
        self.stream = _StreamListener()
        spark.streams.addListener(self.stream)

    def close(self) -> None:
        self.spark.streams.removeListener(self.stream)

    def _java_list(self, seq):
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _flush(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _newest_id(self) -> int:
        self._flush()
        n = self._store.executionsCount()
        if n == 0:
            return -1
        tail = self._java_list(self._store.executionsList(n - 1, 1))
        return max((e.executionId() for e in tail), default=-1)

    def executor_totals(self) -> tuple[int, float]:
        """(tasks, JVM GC seconds) summed over executors since start."""
        tasks, gc_ms = 0, 0
        for e in self._java_list(self._sc.statusStore().executorList(True)):
            tasks += e.totalTasks()
            gc_ms += e.totalGCTime()
        return tasks, gc_ms / 1000.0

    def begin(self) -> None:
        """Mark the start of an entry."""
        self._last_id = self._newest_id()
        self.stream.reset()
        self._exec_base = self.executor_totals()

    def split(self) -> int:
        """Mark the end of the builder call; returns the number of SQL
        executions the builder started (eager persists, writes, drains)."""
        return self._newest_id() - self._last_id

    def end(self) -> dict[str, float]:
        """Layer metrics of every execution since ``begin``."""
        newest = self._newest_id()
        out: dict[str, float] = defaultdict(float)
        write_s = 0.0
        for eid in range(self._last_id + 1, newest + 1):
            dot = self._store.planGraph(eid).makeDotFile(self._store.executionMetrics(eid))
            writes = False
            for node, metric, raw in dot_metrics(dot):
                for key, test in _BY_METRIC.get(metric, ()):
                    if _matches(test, node):
                        out[key] += parse_metric(raw)
                        writes = writes or key == "sources.write_files"
            if writes:
                e = self._store.execution(eid).get()
                done = e.completionTime()
                if done.isDefined():
                    write_s += (done.get().getTime() - e.submissionTime()) / 1000.0
        out["sources.write_s"] = write_s
        tasks, gc_s = self.executor_totals()
        out["session.tasks"] = tasks - self._exec_base[0]
        out["session.jvm_gc_s"] = gc_s - self._exec_base[1]
        out["streaming.drain_s"] = self.stream.drain_s
        out["streaming.batches"] = self.stream.batches
        out["streaming.input_rows"] = self.stream.input_rows
        out["streaming.state_rows"] = self.stream.state_rows
        out["streaming.state_mem_bytes"] = self.stream.state_mem_bytes
        self._last_id = newest
        return dict(out)


class SpanRecorder:
    """In-memory trace spans: name, start, end, parent, attributes. All spans
    of one run share its trace id."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []

    def start(self, name: str, parent: int | None = None) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "parent": parent,
                "trace": self.trace_id,
                "name": name,
                "start_s": time.perf_counter() - self.t0,
                "end_s": None,
                "attrs": {},
            }
        )
        return len(self.spans) - 1

    def end(self, span_id: int, **attrs) -> None:
        s = self.spans[span_id]
        s["end_s"] = time.perf_counter() - self.t0
        s["attrs"].update(attrs)

    def write(self, path: str) -> None:
        """Write every span, each with its self time: its duration minus the
        time its child spans cover. A span left open by a failing entry is
        closed at its start."""
        for s in self.spans:
            if s["end_s"] is None:
                s["end_s"] = s["start_s"]
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end_s"] - s["start_s"]
        for s in self.spans:
            s["self_s"] = s["end_s"] - s["start_s"] - covered[s["id"]]
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)
