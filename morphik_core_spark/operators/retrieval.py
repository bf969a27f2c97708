"""Retrieval operators: filtered vector top-k and its surrounding plumbing.

Spark restatement of the reference's retrieve_chunks lifecycle
(/root/reference/core/services/document_service.py:178-692):

1. authorized_documents  — auth ∧ metadata-DSL ∧ system ∧ status predicates
                           over the documents table (postgres_database.py:1115)
2. scoped_chunks         — semi-join chunks against those doc ids
                           (pgvector_store.py:469-471 ``WHERE document_id IN``)
3. score + top-k         — exact cosine scoring, ORDER BY score DESC LIMIT k
                           (pgvector_store.py:444-507)
4. rerank hook           — oversample max(k, min(3k, 20)), rescore, cut to k
                           (document_service.py:386-395)
5. padding               — ±p neighboring chunks per match, score 0.0
                           (document_service.py:554-692)
6. doc-level results     — keep each document's best-scoring chunk
                           (document_service.py:1748-1799)
7. colpali merge         — multivector results replace regular ones on
                           (document_id, chunk_number) (document_service.py:975-990)

Scale notes (the part that matters at 100 TB):
- The doc-id set from (1) is usually small → broadcast semi-join; no shuffle
  of the chunks fact table.
- Top-k compiles to TakeOrderedAndProject: per-partition heap + driver merge
  of k rows — no global sort, no shuffle of scored rows.
- Padding uses explode(sequence(...)) + a shuffle-join keyed on
  (document_id, chunk_number); at scale both sides hash-partition on
  document_id so the join co-locates.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from morphik_core_spark.functions.vectors import retrieval_score
from morphik_core_spark.operators.metadata_filters import MetadataFilterCompiler
from morphik_core_spark.operators.scopes import (
    AuthContext,
    access_predicate,
    status_predicate,
    system_predicate,
)

__all__ = [
    "authorized_documents",
    "scoped_chunks",
    "score_chunks",
    "top_k",
    "retrieve_chunks",
    "rerank_oversample_size",
    "with_padding",
    "document_results",
    "merge_colpali",
    "BROADCAST_ROWS",
]

# default authorized-id count up to which `scoped_chunks` broadcasts
BROADCAST_ROWS = 1_000_000


def authorized_documents(
    documents: DataFrame,
    auth: AuthContext | None = None,
    filters: dict[str, Any] | None = None,
    system_filters: dict[str, Any] | None = None,
    status_filter: Sequence[str | None] | None = ("completed",),
    compiler: MetadataFilterCompiler | None = None,
    id_col: str = "external_id",
) -> DataFrame:
    """Doc ids passing auth + metadata DSL + system + status predicates.

    Retrieval pins status='completed' by default (document_service.py:344-349).
    """
    pred = F.lit(True)
    if auth is not None:
        pred = pred & access_predicate(auth)
    if filters:
        pred = pred & (compiler or MetadataFilterCompiler()).compile(filters)
    if system_filters:
        pred = pred & system_predicate(system_filters)
    if status_filter:
        pred = pred & status_predicate(list(status_filter))
    return documents.filter(pred).select(F.col(id_col).alias("document_id"))


def scoped_chunks(
    chunks: DataFrame,
    auth_docs: DataFrame,
    doc_col: str = "document_id",
    broadcast_threshold: int | None = BROADCAST_ROWS,
    auth_rows_hint: int | None = None,
) -> DataFrame:
    """Restrict the chunks fact table to authorized documents
    (pgvector_store.py:469-471 ``WHERE document_id IN``).

    The authorized-doc set is unbounded: a selective filter yields a handful
    of ids (broadcast semi-join — the fact table never shuffles), but a
    permissive filter (``status='completed'`` alone) authorizes nearly every
    document, and broadcasting a 100M-row id set is a driver/executor OOM at
    scale, not merely a slow plan. A bounded probe decides: ``limit(N+1)``
    compiles to Local/GlobalLimit, so every scan task stops after N+1 rows —
    the probe's cost is capped regardless of table size. ≤N ids → explicit
    broadcast (~40 MB hashed relation at the 1M default); >N → no hint, the
    semi-join shuffles on ``doc_col`` and AQE stays free to re-plan from real
    runtime sizes. ``broadcast_threshold=None`` skips the probe and forces
    the broadcast (callers that know the set is tiny by construction).
    ``auth_rows_hint`` (the authorized-document count, from persisted
    `plans/stats` manifests or the serving snapshot) answers the gate
    without running the probe. `MorphikSpark` passes its snapshot's
    documents row count, counted once per table version (api.py,
    "Storage"), but only while it is at most `BROADCAST_ROWS`: an upper
    bound settles the small case alone, since a selective filter on a
    larger store may still authorize a handful of ids, which the probe
    then finds.
    """
    if broadcast_threshold is None:
        small = True
    elif auth_rows_hint is not None:
        small = auth_rows_hint <= broadcast_threshold
    else:
        small = auth_docs.limit(broadcast_threshold + 1).count() <= broadcast_threshold
    if small:
        auth_docs = F.broadcast(auth_docs)
    return chunks.join(auth_docs, on=doc_col, how="left_semi")


def score_chunks(chunks: DataFrame, query_vector: Sequence[float], embedding_col: str = "embedding") -> DataFrame:
    """Attach the reference retrieval score (1 − cos_dist/2) vs a query vector."""
    q = F.lit(list(float(x) for x in query_vector)).cast("array<double>")
    emb = F.col(embedding_col).cast("array<double>")
    return chunks.withColumn("score", retrieval_score(emb, q))


def top_k(df: DataFrame, k: int, score_col: str = "score", tiebreak: Sequence[str] = ()) -> DataFrame:
    """ORDER BY score DESC LIMIT k — Catalyst plans TakeOrderedAndProject.

    Deterministic tiebreak columns keep result sets stable across engines
    (the oracle sorts the same way).
    """
    order = [F.col(score_col).desc()] + [F.col(c).asc() for c in tiebreak]
    return df.orderBy(*order).limit(k)


def rerank_oversample_size(k: int) -> int:
    """Candidates fetched ahead of the cross-encoder (document_service.py:386-395)."""
    return max(k, min(3 * k, 20))


def retrieve_chunks(
    documents: DataFrame,
    chunks: DataFrame,
    query_vector: Sequence[float],
    k: int = 5,
    auth: AuthContext | None = None,
    filters: dict[str, Any] | None = None,
    system_filters: dict[str, Any] | None = None,
    status_filter: Sequence[str | None] | None = ("completed",),
    reranker: Callable[[DataFrame], DataFrame] | None = None,
    embedding_col: str = "embedding",
    tiebreak: Sequence[str] = ("document_id", "chunk_number"),
    auth_rows_hint: int | None = None,
) -> DataFrame:
    """End-to-end filtered vector top-k (the reference's /retrieve/chunks).

    With a reranker: oversample → rescore → cut to k, mirroring
    document_service.py:386-466. ``auth_rows_hint`` is handed to
    `scoped_chunks` (an upper bound on the authorized-document count).
    """
    auth_docs = authorized_documents(documents, auth, filters, system_filters, status_filter)
    candidates = score_chunks(
        scoped_chunks(chunks, auth_docs, auth_rows_hint=auth_rows_hint), query_vector, embedding_col
    )
    if reranker is None:
        return top_k(candidates, k, tiebreak=tiebreak)
    shortlist = top_k(candidates, rerank_oversample_size(k), tiebreak=tiebreak)
    return top_k(reranker(shortlist), k, tiebreak=tiebreak)


def with_padding(
    matches: DataFrame,
    chunks: DataFrame,
    padding: int,
    doc_col: str = "document_id",
    num_col: str = "chunk_number",
) -> DataFrame:
    """Add ±padding neighboring chunks per match (document_service.py:554-692).

    Matched chunks keep their score; padding chunks get score 0.0; duplicates
    collapse to the matched row. Returns chunks columns + score.
    """
    if padding <= 0:
        return matches
    # duplicate wanted keys are harmless: the semi-join keeps each chunk once
    wanted = matches.select(
        F.col(doc_col),
        F.explode(F.sequence(F.col(num_col) - padding, F.col(num_col) + padding)).alias(num_col),
    )
    scores = matches.select(doc_col, num_col, "score")
    return (
        chunks.join(wanted, on=[doc_col, num_col], how="left_semi")
        .join(scores, on=[doc_col, num_col], how="left")
        .withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
    )


def document_results(
    scored_chunks: DataFrame,
    doc_col: str = "document_id",
    score_col: str = "score",
) -> DataFrame:
    """Document-level results: each doc's highest-scoring chunk
    (document_service.py:1748-1799). max_by keeps one map-side combine pass —
    no window/sort, one shuffle on document_id."""
    others = [c for c in scored_chunks.columns if c != doc_col]
    # deterministic winner under score ties: highest score, then lowest chunk_number
    rank = F.struct(
        F.col(score_col).alias("s"),
        (-F.col("chunk_number")).alias("n") if "chunk_number" in scored_chunks.columns else F.lit(0).alias("n"),
    )
    agg = [F.max_by(F.col(c), rank).alias(c) for c in others]
    return scored_chunks.groupBy(doc_col).agg(*agg)


def merge_colpali(regular: DataFrame, colpali: DataFrame, keys: Sequence[str] = ("document_id", "chunk_number")) -> DataFrame:
    """Union where colpali rows REPLACE regular rows on the chunk key
    (document_service.py:975-990)."""
    replaced = regular.join(colpali.select(*keys), on=list(keys), how="left_anti")
    return replaced.unionByName(colpali, allowMissingColumns=False)
