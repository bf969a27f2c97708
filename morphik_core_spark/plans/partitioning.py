"""Partitioning & skew toolkit — the knobs that decide whether a plan
survives 100 TB.

These helpers encode the project's physical-layout conventions:

- ``merge_upsert_partitioned``: the documents table is partitioned by
  ``app_id`` (tenant pruning — the reference's flattened-auth-columns
  lesson), and an upsert rewrites only the partitions its rows land in
  (`MorphikSpark._merge_documents`). The chunks table is a flat parquet
  snapshot that every chunk write rewrites whole.
- ``write_partitioned`` / ``write_chunks_table``: plain partitioned and
  ``document_id``-bucketed writers; bucketing lets chunk⋈document and
  padding self-joins co-locate without a shuffle.
- ``salted_join``: explicit skew-salting for joins whose key histogram is
  pathological even for AQE (one viral document, one giant tenant): the
  hot side explodes each build row into N salted copies, the probe side
  picks a random salt, turning one hot partition into N.
- ``explain_has``: plan assertions used by the regression tests — keeps
  "the semi-join is broadcast" true over time, not just today.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "write_partitioned",
    "write_chunks_table",
    "merge_upsert_partitioned",
    "salted_join",
    "zorder_value",
    "zorder_write",
    "explain_has",
]


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
) -> None:
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def merge_upsert_partitioned(
    table_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
) -> list:
    """MERGE-style upsert touching only the partitions the updates hit —
    the scale path for docstore.upsert's whole-snapshot rewrite.

    Plan: (1) the update batch names its partitions (tiny distinct +
    collect — the update batch is the small side by definition); (2) only
    those partitions are read back (partition pruning at the scan);
    (3) surviving rows anti-join the update keys and union the updates;
    (4) dynamic partition overwrite rewrites exactly the affected
    partitions. Untouched partitions are neither read nor written — at
    100 TB a 1k-row update costs one partition's IO, not the table's.
    New partition values in the update batch create partitions naturally.

    The reference mutates per row in Postgres (postgres_database.py
    update_document); a table format (Delta/Iceberg MERGE) is the
    transactional version of exactly this rewrite.

    Returns the list of affected partition values (useful for logging /
    test assertions).
    """
    spark = updates.sparkSession
    affected = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if not affected:
        return []
    import os

    # NULL partition values land in __HIVE_DEFAULT_PARTITION__ and dynamic
    # overwrite WILL rewrite that partition — so the base read-back must
    # include its survivors too. isin() never matches NULL; add an explicit
    # isNull branch or those rows are silently dropped by the merge.
    non_null = [v for v in affected if v is not None]
    pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if None in affected:
        pred = pred | F.col(partition_col).isNull()

    if os.path.exists(table_path):
        base = spark.read.parquet(table_path).filter(pred)
        survivors = base.join(updates.select(*keys), on=list(keys), how="left_anti")
        # materialize before overwriting the same path we just read —
        # bounded by the affected partitions, not the table
        merged = survivors.unionByName(updates).localCheckpoint(eager=True)
    else:
        merged = updates
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(table_path)
    )
    return affected


def write_chunks_table(
    chunks: DataFrame,
    table_name: str,
    buckets: int = 32,
    bucket_col: str = "document_id",
    partition_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table: joins/aggregations on ``bucket_col`` skip
    the shuffle (bucket pruning + co-located join)."""
    writer = chunks.write.mode("overwrite").bucketBy(buckets, bucket_col).sortBy(bucket_col)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.saveAsTable(table_name)


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join with explicit key salting.

    The small side is exploded ×salt_buckets (one copy per salt); the
    skewed side draws a uniform salt per row. The join key becomes
    (key, salt), splitting each hot key across ``salt_buckets`` partitions.
    Use when AQE's skew split can't help (single-key hotspots in
    build-side aggregations).
    """
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    salted_big = skewed.withColumn(
        "_salt", (F.abs(F.hash(F.monotonically_increasing_id())) % salt_buckets).cast("int")
    )
    out = salted_big.join(salted_small, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def explain_has(df: DataFrame, *needles: str) -> dict[str, bool]:
    """Which substrings appear in the formatted physical plan."""
    spark = df.sparkSession
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return {n: (n in plan) for n in needles}


def zorder_value(cols: list[Column], bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of non-negative integer columns
    into a Z-order (Morton) value. With k columns the result uses
    ``bits*k`` bits (must stay under 63).

    Bit i of column j lands at position ``i*k + j`` — pure shift/mask
    codegen, no UDF. Inputs are expected pre-gridded (see
    ``zorder_write``); values >= 2**bits wrap (masked), so grid first.
    """
    k = len(cols)
    if bits * k > 62:
        raise ValueError("bits * len(cols) must be <= 62")
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        for i in range(bits):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * k + j)
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int = 8,
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols`` — the multi-column
    layout that makes parquet min/max (row-group / file) pruning work for
    filters on ANY of the clustered columns, where a linear sort only
    serves its leading column. This is the Delta OPTIMIZE ZORDER BY /
    pgvector-composite-B-tree analog for our parquet layout (reference
    indexes `(app_id, folder_*)` B-trees — `core/database/models.py:35-47`).

    Columns are first normalized onto a 2**bits grid with per-column
    min/max from a one-row broadcast aggregate (no global sort, no
    sampling pass), then range-partitioned and sorted by the interleaved
    value so each output file covers a compact hyper-rectangle.
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    stats = df.agg(*aggs)
    grid = 1 << bits
    gridded = df.crossJoin(F.broadcast(stats))
    gcols = []
    for c in cols:
        gcols.append(
            F.expr(f"CAST((CAST(`{c}` - `_mn_{c}` AS DOUBLE) / CAST(`_mx_{c}` - `_mn_{c}` + 1 AS DOUBLE)) * {grid} AS BIGINT)")
        )
    gridded = gridded.withColumn("_z", zorder_value(gcols, bits))
    (
        gridded.drop(*[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols])
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
