"""`query_score` (one SQL expression, ‖q‖ folded to a literal) against
`retrieval_score(col, lit(q))` (the Column form): bit-identical on every
row and the same top-k order, ties included."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from morphik_core_spark.functions.vectors import query_score, retrieval_score
from morphik_core_spark.operators.retrieval import score_chunks, top_k

QUERIES = {
    "unit": [0.6, -0.8, 0.0, 0.0],
    "odd": [0.1, 1e-7, -0.0, 3.0],
    "zero": [0.0, 0.0, 0.0, 0.0],
    "big": [1e154, 1e154, -1e-300, 2.0**53 + 1],
}


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [(i, [math.sin(i * 0.7 + d) * (1 + i % 3) for d in range(4)], [i % 5 - 2, 3, -(i % 2), 1]) for i in range(60)]
    rows += [
        (60, None, None),  # NULL embedding
        (61, [0.0, 0.0, 0.0, 0.0], [0, 0, 0, 0]),  # zero norm
        (62, [0.6, -0.8, 0.0, 0.0], [6, -8, 0, 0]),  # ties with 63 and 64
        (63, [0.6, -0.8, 0.0, 0.0], [6, -8, 0, 0]),
        (64, [1.2, -1.6, 0.0, 0.0], [3, -4, 0, 0]),
    ]
    return spark.createDataFrame(rows, "id int, emb array<double>, emb_int array<int>").cache()


@pytest.mark.parametrize("name", sorted(QUERIES))
@pytest.mark.parametrize("column", ["emb", "emb_int"])
def test_query_score_is_bit_identical(vectors, name, column):
    q = QUERIES[name]
    q_lit = F.array(*[F.lit(float(x)) for x in q])
    got = vectors.select(
        "id",
        retrieval_score(F.col(column), q_lit).alias("column_form"),
        query_score(f"`{column}`", q).alias("sql_form"),
    ).collect()
    assert len(got) == 65
    for r in got:
        a, b = r.column_form, r.sql_form
        assert (a is None and b is None) or (
            a is not None and b is not None and (math.isnan(a) and math.isnan(b) or a.hex() == b.hex())
        ), (r.id, a, b)


@pytest.mark.parametrize("name", ["unit", "odd"])
def test_score_chunks_top_k_order_matches_column_form(vectors, name):
    q = QUERIES[name]
    chunks = vectors.select(F.col("id").alias("document_id"), F.lit(0).alias("chunk_number"), F.col("emb").alias("embedding"))
    tiebreak = ("document_id", "chunk_number")
    want = top_k(
        chunks.withColumn(
            "score", retrieval_score(F.col("embedding").cast("array<double>"), F.lit(q).cast("array<double>"))
        ),
        20,
        tiebreak=tiebreak,
    ).collect()
    got = top_k(score_chunks(chunks, q), 20, tiebreak=tiebreak).collect()
    assert [(r.document_id, r.score.hex()) for r in got] == [(r.document_id, r.score.hex()) for r in want]
    if name == "unit":
        assert [r.document_id for r in got[:3]] == [62, 63, 64]  # a three-way tie at score 1.0
