"""Vector scalar functions — all built-in JVM expressions, no Python UDFs.

The hot-path scoring (`cosine → retrieval score`) mirrors the reference's
pgvector scan (`/root/reference/core/vector_store/pgvector_store.py:444-507`):
score = 1 − cosine_distance/2 = (1 + cosine_similarity)/2, range [0,1].

Implementation note for scale: ``F.aggregate(F.zip_with(...))`` compiles to
Catalyst higher-order functions executed inside codegen — the per-row cost
is a tight JVM loop over the array, no Arrow hop, no Python. For very wide
embeddings (≥ 2k dims) a pandas-UDF matmul over batched rows can beat it;
that variant lives in the similarity operator, not here.

Two forms of the score:

- ``retrieval_score(a, b)`` scores two Columns; each row pays five array
  reductions (a·a and b·b twice each, a·b once).
- ``query_score(embedding_sql, q)`` scores a Column against a literal
  query vector. It is rendered to Spark SQL text in pure Python and built
  with one ``F.expr``: q is inlined as one ``array(…D, …)`` literal, and
  ‖q‖ is folded to a literal computed on the driver by summing ``x*x``
  left to right from ``0.0`` and taking ``math.sqrt``, the order of the
  plan's ``aggregate(zip_with…)``, so it is bit-identical to
  ``retrieval_score(a, lit(q))``. Each row pays three reductions.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from morphik_core_spark.plans.literal import sql_double

__all__ = ["dot", "l2_norm", "cosine_similarity", "retrieval_score", "query_score"]


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a, b); NULL when either vector is NULL or zero-norm."""
    denominator = l2_norm(a) * l2_norm(b)
    return F.when(denominator != 0.0, dot(a, b) / denominator)


def retrieval_score(a: Column, b: Column) -> Column:
    """Reference score normalization: 1 − cosine_distance/2 ∈ [0, 1]."""
    return (F.lit(1.0) + cosine_similarity(a, b)) / F.lit(2.0)


def _dot_sql(a: str, b: str) -> str:
    # lambda variables named so that no column of a scored table shadows them
    return f"aggregate(zip_with({a}, {b}, (__qs_x, __qs_y) -> __qs_x * __qs_y), 0.0D, (__qs_acc, __qs_v) -> __qs_acc + __qs_v)"


def query_score(embedding_sql: str, query_vector: Sequence[float]) -> Column:
    """``retrieval_score`` of the array expression ``embedding_sql`` (SQL
    text) against the literal ``query_vector``, with ‖q‖ folded to a
    literal; NULL when the embedding is NULL or either norm is zero."""
    q = [float(x) for x in query_vector]
    qq = 0.0
    for x in q:
        qq += x * x
    q_sql = f"array({', '.join(sql_double(x) for x in q)})" if q else "CAST(array() AS ARRAY<DOUBLE>)"
    a = f"({embedding_sql})"
    denominator = f"(sqrt({_dot_sql(a, a)}) * {sql_double(math.sqrt(qq))})"
    cosine = f"CASE WHEN {denominator} != 0.0D THEN {_dot_sql(a, q_sql)} / {denominator} END"
    return F.expr(f"(1.0D + {cosine}) / 2.0D")
