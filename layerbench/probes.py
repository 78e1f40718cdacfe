"""Readings taken from outside the engine: Spark's schedulers and status
stores, Catalyst's phase tracker, the streaming listener bus, the JVM's
management beans, and wrappers around the layer functions' public entry
points.

Nothing here edits the engine's source. The traced run replaces the
layer functions' module attributes with timing wrappers for the life of
the worker process; untraced runs install none of them.
"""
from __future__ import annotations

import functools
import re
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# layer function -> (module that defines it, span name). Calls are timed
# wherever they are made from: every loaded module of the package that
# holds the same function object gets the wrapper.
LAYER_FUNCTIONS = (
    ("sciencebeam_parser_spark.sources.pdf", "read_pdf_corpus", "sources.read_pdf_corpus"),
    ("sciencebeam_parser_spark.sources.pdf", "pdf_to_alto", "sources.pdf_to_alto"),
    ("sciencebeam_parser_spark.sources.alto", "parse_alto_tokens_df", "sources.parse_alto_tokens"),
    ("sciencebeam_parser_spark.plans.cascade", "run_fulltext_cascade", "plans.cascade"),
    ("sciencebeam_parser_spark.sinks.tei", "entities_to_tei", "sinks.tei"),
    # q130's TEI sink: builds each document's TEI and parses it back in one
    # mapInPandas instead of going through entities_to_tei
    ("sciencebeam_parser_spark.queries.pipeline_ops", "_xml_histogram_fused", "sinks.tei"),
)
JOIN_NODES = ("Join", "CartesianProduct")
PYTHON_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def parse_sql_metric(text: str | None) -> float:
    """Total of a formatted SQL metric ('1,234', '5.8 s', '88.7 KiB', or the
    'total (min, med, max ...)' form), in seconds, bytes or rows."""
    if not text:
        return 0.0
    line = text.strip().split("\n")[-1]
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Spans:
    """In-memory spans: name, start, end, parent index, workload, pass."""

    def __init__(self, workload: str):
        self.workload = workload
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.pass_no: int | None = None

    def add(self, name: str, start: float, end: float, **attrs) -> int:
        self.records.append({
            "name": name, "start": start, "end": end,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload, "pass": self.pass_no, **attrs,
        })
        return len(self.records) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        idx = self.add(name, time.perf_counter(), float("nan"), **attrs)
        self._stack.append(idx)
        try:
            yield self.records[idx]
        finally:
            self._stack.pop()
            self.records[idx]["end"] = time.perf_counter()

    def self_times(self) -> None:
        """Set each span's ``self_s``: its duration minus the part of it
        that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for r in self.records:
            if r["parent"] is not None:
                kids.setdefault(r["parent"], []).append((r["start"], r["end"]))
        for i, r in enumerate(self.records):
            covered, edge = 0.0, r["start"]
            for s, e in sorted(kids.get(i, ())):
                s, e = max(s, edge), min(e, r["end"])
                if e > s:
                    covered += e - s
                    edge = e
            r["self_s"] = (r["end"] - r["start"]) - covered

    def totals(self, pass_no: int) -> dict[str, float]:
        """Seconds per span name within one pass."""
        out: dict[str, float] = {}
        for r in self.records:
            if r["pass"] == pass_no:
                out[r["name"]] = out.get(r["name"], 0.0) + r["end"] - r["start"]
        return out


class StreamProgress(StreamingQueryListener):
    """Collects streaming progress events. Events arrive on the listener
    bus thread; call ``Engine.drain`` before reading them."""

    def __init__(self):
        self.events: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Engine:
    """py4j handles on the session's scheduler and status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.stream = StreamProgress()
        spark.streams.addListener(self.stream)

    def drain(self) -> None:
        """Wait until every posted listener event has been delivered."""
        self.jsc.listenerBus().waitUntilEmpty()

    def ids(self) -> tuple[int, int, int]:
        """Next job id, next stage id, SQL executions so far."""
        dag = self.jsc.dagScheduler()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        return int(dag.nextJobId()), int(dag.nextStageId()), int(sql.executionsCount())

    def retained(self) -> tuple[int, int]:
        """RDDs holding stored blocks, and their bytes in memory and on disk."""
        n = size = 0
        for info in self.jsc.getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                size += info.memSize() + info.diskSize()
        return n, size

    def jvm_times(self) -> tuple[float, float]:
        """Cumulative GC and JIT-compile seconds of the driver JVM."""
        mf = self.jvm.java.lang.management.ManagementFactory
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def catalyst(self, df) -> dict[str, float]:
        phases = self.conv.asJava(df._jdf.queryExecution().tracker().phases())
        return {f"catalyst.{k}_s": phases[k].durationMs() / 1e3 for k in phases}

    def stages(self, lo: int, hi: int, wall_s: float, slots: int) -> dict[str, float]:
        """Task totals of stages ``lo``..``hi - 1`` from the status store."""
        store = self.jsc.statusStore()
        quant = self.sc._gateway.new_array(self.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        out = dict.fromkeys((
            "exec.stages", "exec.tasks", "exec.failed_tasks", "exec.task_run_s",
            "exec.task_cpu_s", "exec.shuffle_write_bytes",
            "exec.shuffle_read_bytes", "exec.spill_bytes",
        ), 0.0)
        skew_num = skew_den = 0.0
        for sid in range(lo, hi):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            run_s = st.executorRunTime() / 1e3
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numTasks()
            out["exec.failed_tasks"] += st.numFailedTasks()
            out["exec.task_run_s"] += run_s
            out["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.numTasks() > 1:
                summ = store.taskSummary(sid, st.attemptId(), quant)
                if summ.isDefined():
                    med, top = list(self.conv.asJava(summ.get().executorRunTime()))
                    if med > 0:
                        # slowest task over median task, weighted by stage time
                        skew_num += run_s * top / med
                        skew_den += run_s
        out["exec.task_skew"] = skew_num / skew_den if skew_den else 1.0
        out["exec.slot_util"] = out["exec.task_run_s"] / (wall_s * slots) if wall_s else 0.0
        return out

    def sql(self, lo: int, hi: int) -> dict[str, float]:
        """Python-crossing totals and the largest join output over SQL
        executions ``lo``..``hi - 1``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        out["operators.max_join_rows"] = 0.0
        for ex in self.conv.asJava(store.executionsList(lo, hi - lo)):
            eid = ex.executionId()
            values = self.conv.asJava(store.executionMetrics(eid))
            for node in self.conv.asJava(store.planGraph(eid).allNodes()):
                is_join = any(j in node.name() for j in JOIN_NODES)
                for met in self.conv.asJava(node.metrics()):
                    name = met.name()
                    if name in PYTHON_METRICS:
                        out[PYTHON_METRICS[name]] += parse_sql_metric(
                            values.get(met.accumulatorId()))
                    elif is_join and name == "number of output rows":
                        out["operators.max_join_rows"] = max(
                            out["operators.max_join_rows"],
                            parse_sql_metric(values.get(met.accumulatorId())))
        return out


class LayerTimer:
    """Times calls into the layer functions and counts materializations.

    ``install`` swaps module attributes for wrappers; the wrappers record a
    span only while ``spans.pass_no`` is set and ``enabled`` is true.
    """

    def __init__(self, spans: Spans):
        self.spans = spans
        self.enabled = False
        self.checkpoints = 0

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.spans.span(name):
                return fn(*args, **kwargs)
        return timed

    def install(self, df_class: type) -> None:
        """Wrap the layer functions, and the materialization methods of
        ``df_class`` (the session's concrete DataFrame class)."""
        import importlib

        for mod_name, attr, span in LAYER_FUNCTIONS:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(original, span)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("sciencebeam_parser_spark") \
                        and getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapper)
        for attr in ("localCheckpoint", "checkpoint"):
            original = getattr(df_class, attr)
            setattr(df_class, attr, self._counting(original, f"materialize.{attr}"))

    def _counting(self, fn, name):
        timed = self._wrap(fn, name)

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            if self.enabled:
                self.checkpoints += 1
            return timed(*args, **kwargs)
        return counted
