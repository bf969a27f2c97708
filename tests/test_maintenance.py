"""The authorized-row hint and the broadcast gate it drives."""

from __future__ import annotations


def test_stats_hint_drives_scoped_chunks_gate(spark):
    from morphik_core_spark.operators.retrieval import scoped_chunks

    chunks = spark.createDataFrame([(i, i % 10) for i in range(200)], "chunk_id int, document_id int")
    auth = spark.createDataFrame([(i,) for i in range(10)], "document_id int")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # small hint -> broadcast without any probe job
    p_small = plan(scoped_chunks(chunks, auth, broadcast_threshold=100, auth_rows_hint=10))
    assert "BroadcastHashJoin" in p_small
    # large hint -> shuffle semi-join, AQE free to re-plan
    p_large = plan(scoped_chunks(chunks, auth, broadcast_threshold=100, auth_rows_hint=10_000))
    assert "BroadcastHashJoin" not in p_large
