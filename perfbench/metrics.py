"""Names and units of the per-layer metrics the traced run reports."""

from __future__ import annotations

TYPES = ("retrieve", "grouped", "retrieve_docs", "query", "list", "update_text", "update_metadata")
RETRIEVAL_TYPES = ("retrieve", "grouped", "retrieve_docs", "query")
WRITE_TYPES = ("update_text", "update_metadata")
# driver CPU per op only where Python-side work is large: hydration of a
# retrieve, re-chunking of a text update, the merge of a metadata update
DRIVER_CPU_TYPES = ("retrieve", "update_text", "update_metadata")
SPARK = (
    ("spark.execute_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.input_records", "count"),
)
# the action count and shuffle bytes only for the retrieval types, which
# run the most actions and the grouping and ranking shuffles
RETRIEVAL_SPARK = (("spark.actions", "count"), ("spark.shuffle_bytes", "bytes"))
# measured after the window of a traced serve run (registry) and a traced
# mixed run (ingest); see registry.py and ingest.py
REGISTRY = (
    ("registry.pass_s", "s"),
    ("registry.construct_ms", "ms"),
    ("registry.execute_ms", "ms"),
    ("registry.spark.construct_jobs", "count"),
    ("registry.spark.execute_jobs", "count"),
)
INGEST = (
    ("ingest.docs_per_s", "1/s"),
    ("ingest.ingestion.plan_ms", "ms"),
    ("ingest.chunking.chunks_per_doc", "chunks/doc"),
    ("ingest.spark.task_cpu_ms_per_doc", "ms/doc"),
    ("ingest.python_workers.cpu_ms_per_doc", "ms/doc"),
    ("ingest.write.bytes_per_input_byte", "x"),
    ("ingest.spark.spill_bytes", "bytes"),
)


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric: each layer metric per
    request type, only for the types that run the layer."""
    out: list[tuple[str, str]] = []
    for t in TYPES:
        if t != "retrieve":  # retrieve.p50_ms is an end-to-end metric
            out.append((f"{t}.p50_ms", "ms"))
        out.append((f"{t}.api.self_ms", "ms"))
        out += [(f"{t}.{name}", unit) for name, unit in SPARK]
        if t in RETRIEVAL_TYPES:
            out += [(f"{t}.{name}", unit) for name, unit in RETRIEVAL_SPARK]
        out.append((f"{t}.process.jvm_cpu_ms", "ms"))
        if t in DRIVER_CPU_TYPES:
            out.append((f"{t}.process.driver_cpu_ms", "ms"))
    for t in RETRIEVAL_TYPES:
        out += [
            (f"{t}.embedder.query_ms", "ms"),
            (f"{t}.retrieval.plan_ms", "ms"),
            (f"{t}.retrieval.probe_ms", "ms"),
            (f"{t}.retrieval.records_per_hit", "records/row"),
        ]
    out += [
        ("retrieve.metadata_filters.compile_ms", "ms"),
        ("list.metadata_filters.compile_ms", "ms"),
        ("grouped.retrieval.padding_ms", "ms"),
        ("retrieve_docs.retrieval.doc_results_ms", "ms"),
        ("query.rag.ms", "ms"),
        ("list.listing.ms", "ms"),
        ("retrieve.spark.input_bytes", "bytes"),
    ]
    for t in WRITE_TYPES:
        out += [
            (f"{t}.write.bytes_written", "bytes"),
            (f"{t}.write.files_written", "count"),
            (f"{t}.write.amplification", "x"),
            (f"{t}.partitioning.merge_ms", "ms"),
        ]
    out += [
        ("update_text.chunking.plan_ms", "ms"),
        ("update_text.python_workers.cpu_ms", "ms"),
        ("update_text.spark.spill_bytes", "bytes"),
        ("tracing.overhead_pct", "%"),
    ]
    return out + list(REGISTRY) + list(INGEST)


END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("latency_tail_ms", "ms"),
    ("retrieve.p50_ms", "ms"),
)
