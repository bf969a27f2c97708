"""The batch ingest layer: seeded corpus batches through
``streaming.ingestion.ingest_batch`` (clean -> chunk -> embed), with both
outputs written as parquet, checked against ``split_text`` and
``hash_embed`` run in-process.

The raw batches are written as parquet before the clock starts; a timed
batch reads its raw parquet, plans the pipeline and writes documents and
chunks. The first batch warms the Python workers and the UDF code paths
up; the metrics are medians over the batches after it.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from morphik_core_spark.functions.chunking import split_text
from morphik_core_spark.functions.embedder import hash_embed
from perfbench import corpus, sparkenv, trace

BATCHES = 4
BATCH_DOCS = 500
TOL = 1e-6  # embeddings are stored as float32 or float64


def batches(seed: int) -> list[list[corpus.Doc]]:
    """``BATCHES`` disjoint batches of store-corpus documents, drawn by the seed."""
    picked = random.Random(f"ingest:{seed}").sample(range(corpus.N_DOCS), BATCHES * BATCH_DOCS)
    docs = [corpus.document(i) for i in picked]
    return [docs[b * BATCH_DOCS : (b + 1) * BATCH_DOCS] for b in range(BATCHES)]


def _raw(docs: list[corpus.Doc]) -> pa.Table:
    return pa.table(
        {
            "external_id": [f"doc-{d.index:05d}" for d in docs],
            "filename": [d.filename for d in docs],
            "content_type": ["text/plain"] * len(docs),
            "text": [d.text for d in docs],
            "metadata": [json.dumps(d.metadata) for d in docs],
            "app_id": [d.app for d in docs],
            "folder_path": [d.folder for d in docs],
        }
    )


def check(docs: list[corpus.Doc], out: str) -> list[str]:
    """Chunk counts, contents and embeddings of one written batch."""
    errors = []
    written = pq.read_table(os.path.join(out, "documents"), columns=["external_id", "status"]).to_pylist()
    if sorted((r["external_id"], r["status"]) for r in written) != sorted(
        (f"doc-{d.index:05d}", "completed") for d in docs
    ):
        errors.append(f"ingest batch {out}: documents differ from the input batch")
    chunks = pq.read_table(os.path.join(out, "chunks"), columns=["document_id", "chunk_number", "content", "embedding"])
    got: dict[str, list] = {}
    for r in chunks.to_pylist():
        got.setdefault(r["document_id"], []).append((r["chunk_number"], r["content"], r["embedding"]))
    for d in docs:
        pieces = split_text(d.text, corpus.CHUNK_SIZE, corpus.CHUNK_OVERLAP)
        rows = sorted(got.get(f"doc-{d.index:05d}", []), key=lambda r: r[0])
        if [(n, c) for n, c, _ in rows] != list(enumerate(pieces)):
            errors.append(f"ingest: chunks of doc-{d.index:05d} differ from split_text")
        elif not np.allclose(np.array([e for _, _, e in rows]), np.array([hash_embed(p) for p in pieces]), atol=TOL):
            errors.append(f"ingest: embeddings of doc-{d.index:05d} differ from hash_embed")
    return errors


def run(spark, work: str, seed: int, counters, jvm: int) -> tuple[dict[str, float], list[str]]:
    """Every batch: (per-layer metrics as medians over the timed batches, errors)."""
    from morphik_core_spark.streaming.ingestion import ingest_batch

    per_batch: list[dict[str, float]] = []
    errors: list[str] = []
    for b, docs in enumerate(batches(seed)):
        raw, out = os.path.join(work, f"ingest-raw-{b}"), os.path.join(work, f"ingest-out-{b}")
        os.makedirs(raw, exist_ok=True)
        pq.write_table(_raw(docs), os.path.join(raw, "part-0.parquet"))
        input_bytes = sum(len(d.text.encode()) for d in docs)
        try:
            mark = counters.mark()
            _, workers0 = sparkenv.jvm_and_worker_cpu_ms(jvm)
            t0 = time.perf_counter()
            raw_df = spark.read.parquet(raw)
            t1 = time.perf_counter()
            documents, chunks = ingest_batch(raw_df, chunk_size=corpus.CHUNK_SIZE, chunk_overlap=corpus.CHUNK_OVERLAP)
            t2 = time.perf_counter()
            documents.write.parquet(os.path.join(out, "documents"))
            chunks.write.parquet(os.path.join(out, "chunks"))
            t3 = time.perf_counter()
            _, workers1 = sparkenv.jvm_and_worker_cpu_ms(jvm)
            spark_delta = counters.delta(mark, counters.mark())
        except Exception as exc:  # noqa: BLE001 — a failed batch is counted, not fatal
            errors.append(f"ingest batch {b} failed: {type(exc).__name__}: {exc}"[:500])
            continue
        errors += check(docs, out)
        n_chunks = pq.read_table(os.path.join(out, "chunks"), columns=["chunk_number"]).num_rows
        if b > 0:
            per_batch.append(
                {
                    "ingest.docs_per_s": len(docs) / (t3 - t0),
                    "ingest.ingestion.plan_ms": (t2 - t1) * 1000.0,
                    "ingest.chunking.chunks_per_doc": n_chunks / len(docs),
                    "ingest.spark.task_cpu_ms_per_doc": spark_delta["spark.task_cpu_ms"] / len(docs),
                    "ingest.python_workers.cpu_ms_per_doc": (workers1 - workers0) / len(docs),
                    "ingest.write.bytes_per_input_byte": trace.written(out, 0)[0] / input_bytes,
                    "ingest.spark.spill_bytes": spark_delta["spark.spill_bytes"],
                }
            )
    if not per_batch:
        return {}, errors
    return {k: statistics.median(p[k] for p in per_batch) for k in per_batch[0]}, errors
