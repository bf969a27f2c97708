"""Table statistics sidecar and the broadcast gate it drives."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_table_stats_roundtrip_and_broadcast_gate(spark, tmp_path):
    from morphik_core_spark.plans.stats import (
        compute_table_stats, read_stats, should_broadcast, write_stats,
    )

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("grp"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id").cast("string")).alias("name"),
    )
    stats = compute_table_stats(df)
    assert stats["row_count"] == 100
    assert stats["columns"]["grp"]["min"] == "0" and stats["columns"]["grp"]["max"] == "6"
    assert stats["columns"]["name"]["null_count"] == 10
    assert abs(stats["columns"]["grp"]["approx_ndv"] - 7) <= 1

    t = str(tmp_path / "tbl")
    import os
    os.makedirs(t)
    write_stats(t, stats)
    assert read_stats(t) == stats
    assert should_broadcast(stats, 1000) is True
    assert should_broadcast(stats, 10) is False
    assert should_broadcast(None, 10) is None
    assert read_stats(str(tmp_path / "missing")) is None


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
