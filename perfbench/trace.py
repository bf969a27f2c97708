"""The traced run: spans at each layer boundary and Spark/process counters.

Each layer function is wrapped at the module (or class) attribute its
caller looks it up through, e.g. ``api.py`` calls ``retrieval.retrieve_chunks``
so ``morphik_core_spark.operators.retrieval.retrieve_chunks`` is wrapped.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Iterable

# (module, class or None, attribute, span name); a class attribute covers
# every instance, a module attribute covers every caller that looks it up
# through the module at call time
LAYER_WRAPS = (
    ("morphik_core_spark.api", "MorphikSpark", "retrieve_chunks", "api.retrieve_chunks"),
    ("morphik_core_spark.api", "MorphikSpark", "retrieve_chunks_grouped", "api.retrieve_chunks_grouped"),
    ("morphik_core_spark.api", "MorphikSpark", "retrieve_docs", "api.retrieve_docs"),
    ("morphik_core_spark.api", "MorphikSpark", "query", "api.query"),
    ("morphik_core_spark.api", "MorphikSpark", "list_documents", "api.list_documents"),
    ("morphik_core_spark.api", "MorphikSpark", "get_document", "api.get_document"),
    ("morphik_core_spark.api", "MorphikSpark", "update_document_text", "api.update_document_text"),
    ("morphik_core_spark.api", "MorphikSpark", "update_document_metadata", "api.update_document_metadata"),
    ("morphik_core_spark.api", None, "chunk_documents", "chunking.chunk_documents"),
    ("morphik_core_spark.operators.metadata_filters", "MetadataFilterCompiler", "compile", "metadata_filters.compile"),
    ("morphik_core_spark.operators.retrieval", None, "retrieve_chunks", "retrieval.retrieve_chunks"),
    ("morphik_core_spark.operators.retrieval", None, "scoped_chunks", "retrieval.scoped_chunks"),
    ("morphik_core_spark.operators.retrieval", None, "with_padding", "retrieval.with_padding"),
    ("morphik_core_spark.operators.retrieval", None, "document_results", "retrieval.document_results"),
    ("morphik_core_spark.operators.docstore", None, "grouped_response", "docstore.grouped_response"),
    ("morphik_core_spark.operators.rag", None, "rag_query", "rag.rag_query"),
    ("morphik_core_spark.operators.listing", None, "sorted_page", "listing.sorted_page"),
    ("morphik_core_spark.operators.listing", None, "project", "listing.project"),
    ("morphik_core_spark.plans.partitioning", None, "merge_upsert_partitioned", "partitioning.merge_upsert_partitioned"),
)
# Spark actions: every call that runs jobs on the engine
ACTION_WRAPS = (
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "count"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "isEmpty"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint"),
)
WRITER_WRAP = ("pyspark.sql.readwriter", "DataFrameWriter", "parquet")

# span name -> (layer metric, "self" or "total" time)
SPAN_METRICS = {
    "embedder.embed_text": ("embedder.query_ms", "total"),
    "metadata_filters.compile": ("metadata_filters.compile_ms", "total"),
    "retrieval.retrieve_chunks": ("retrieval.plan_ms", "self"),
    "retrieval.scoped_chunks": ("retrieval.probe_ms", "total"),
    "retrieval.with_padding": ("retrieval.padding_ms", "total"),
    "docstore.grouped_response": ("retrieval.padding_ms", "total"),
    "retrieval.document_results": ("retrieval.doc_results_ms", "total"),
    "rag.rag_query": ("rag.ms", "total"),
    "listing.sorted_page": ("listing.ms", "total"),
    "listing.project": ("listing.ms", "total"),
    "partitioning.merge_upsert_partitioned": ("partitioning.merge_ms", "total"),
    "chunking.chunk_documents": ("chunking.plan_ms", "total"),
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    attrs: dict[str, Any] = field(default_factory=dict)


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its children cover."""
    spans = list(spans)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (s.end - s.start) - covered
    return out


def written(path: str, since_ns: int) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` written since ``since_ns``."""
    total = files = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for name in filenames:
            if name.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, name))
            if st.st_mtime_ns >= since_ns:
                total += st.st_size
                files += 1
    return total, files


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._undo: list[tuple[Any, str, Any, bool]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), None, parent, self.op, attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        own = isinstance(owner, type) and attr in owner.__dict__
        original = owner.__dict__[attr] if own else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, original, own or not isinstance(owner, type)))

    def wrap_writer(self, owner: Any, attr: str) -> None:
        original = owner.__dict__[attr]
        tracer = self

        @functools.wraps(original)
        def traced(writer, path, *args, **kwargs):
            # file mtimes come from a coarse kernel clock: allow 50 ms
            since = time.time_ns() - 50_000_000
            with tracer.span("spark.write") as s:
                out = original(writer, path, *args, **kwargs)
            s.attrs["bytes"], s.attrs["files"] = written(path, since)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, original, True))

    def install(self, client: Any) -> None:
        for module, cls, attr, name in LAYER_WRAPS:
            owner = importlib.import_module(module)
            self.wrap(getattr(owner, cls) if cls else owner, attr, name)
        for module, cls, attr in ACTION_WRAPS:
            self.wrap(getattr(importlib.import_module(module), cls), attr, f"spark.{attr}")
        module, cls, attr = WRITER_WRAP
        self.wrap_writer(getattr(importlib.import_module(module), cls), attr)
        self.wrap(client, "_embed_text", "embedder.embed_text")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original, restore = self._undo.pop()
            if restore:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def op_layer_metrics(spans: list[Span]) -> dict[str, float]:
    """Layer metrics of one op from its spans (times in ms)."""
    selfs = self_times(spans)
    out: dict[str, float] = {"api.self_ms": 0.0, "spark.actions": 0.0, "spark.execute_ms": 0.0}
    for s in spans:
        total = (s.end - s.start) * 1000.0
        if s.name.startswith("api."):
            out["api.self_ms"] += selfs[s.id] * 1000.0
        elif s.name.startswith("spark."):
            out["spark.actions"] += 1
            out["spark.execute_ms"] += total
            if s.name == "spark.write":
                out["write.bytes_written"] = out.get("write.bytes_written", 0.0) + s.attrs["bytes"]
                out["write.files_written"] = out.get("write.files_written", 0.0) + s.attrs["files"]
        elif s.name in SPAN_METRICS:
            metric, kind = SPAN_METRICS[s.name]
            value = selfs[s.id] * 1000.0 if kind == "self" else total
            out[metric] = out.get(metric, 0.0) + value
    return out


class StatusSource:
    """Job/stage ids from the DAG scheduler and stage metrics from the
    status store of a live SparkContext."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gateway = spark.sparkContext._gateway
        self._no_quantiles = gateway.new_array(gateway.jvm.double, 0)

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def job_count(self) -> int:
        return int(self._dag.numTotalJobs())

    def stage_count(self) -> int:
        return int(self._dag.nextStageId())

    def stages(self, lo: int, hi: int) -> list[dict[str, Any]]:
        """Retained stages with lo <= id < hi. The store lists the newest
        stage first, so the walk stops at the first id below ``lo``."""
        out = []
        it = self._store.stageList(None, False, False, self._no_quantiles, None).iterator()
        while it.hasNext():
            st = it.next()
            sid = st.stageId()
            if sid < lo:
                break
            if sid >= hi:
                continue
            out.append(
                {
                    "id": sid,
                    "status": str(st.status()),
                    "tasks": st.numCompleteTasks(),
                    "cpu_ns": st.executorCpuTime(),
                    "gc_ms": st.jvmGcTime(),
                    "input_records": st.inputRecords(),
                    "input_bytes": st.inputBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                }
            )
        return out


class SparkCounters:
    """Spark work between two marks. Jobs and stages are counted from id
    deltas, never from the length of the status store's lists: those lists
    are capped (spark.ui.retainedJobs / retainedStages) and stop growing."""

    def __init__(self, source) -> None:
        self.source = source

    def mark(self) -> tuple[int, int]:
        self.source.drain()
        return self.source.job_count(), self.source.stage_count()

    def delta(self, before: tuple[int, int], after: tuple[int, int]) -> dict[str, float]:
        ran = [s for s in self.source.stages(before[1], after[1]) if s["status"] != "SKIPPED"]
        return {
            "spark.jobs": float(after[0] - before[0]),
            "spark.stages": float(len(ran)),
            "spark.tasks": float(sum(s["tasks"] for s in ran)),
            "spark.task_cpu_ms": sum(s["cpu_ns"] for s in ran) / 1e6,
            "spark.gc_ms": float(sum(s["gc_ms"] for s in ran)),
            "spark.input_records": float(sum(s["input_records"] for s in ran)),
            "spark.input_bytes": float(sum(s["input_bytes"] for s in ran)),
            "spark.shuffle_bytes": float(sum(s["shuffle_write_bytes"] for s in ran)),
            "spark.spill_bytes": float(sum(s["spill_bytes"] for s in ran)),
        }
