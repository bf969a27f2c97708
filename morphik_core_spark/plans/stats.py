"""Key-skew audit and the salted aggregation that answers it.

`key_skew_histogram` tells you, before a large join or aggregation runs,
whether its key is skewed; `salted_agg` is the two-stage aggregation
shape for a hot key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["key_skew_histogram", "salted_agg"]


def key_skew_histogram(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Shuffle-skew audit for a prospective join/agg key: per-key counts
    bucketed into power-of-two bins — the count-of-counts histogram that
    tells you BEFORE running a 100 TB join whether the key needs
    salting/AQE skew handling (one hot key = one straggler task).

    Output: (bucket, bucket_lo, n_keys, n_rows, pct_rows) where
    bucket = floor(log2(per-key count)) computed in INTEGER space
    (length of the binary rendering — no libm, so engines can't
    disagree at power-of-two boundaries) and bucket_lo = 2^bucket.

    Cost: one key-keyed aggregate (map-side combined) + one bucket-sized
    aggregate; the grand total rides a one-row broadcast. The histogram
    is O(log max_count) rows no matter the table size.
    """
    counts = df.groupBy(*[F.col(k) for k in key_cols]).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hist = (
        counts.withColumn("bucket", (F.length(F.bin(F.col("cnt"))) - 1).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_keys"), F.sum("cnt").alias("n_rows"))
    )
    total = hist.agg(F.sum("n_rows").alias("total"))
    return hist.crossJoin(F.broadcast(total)).select(
        "bucket",
        F.expr("shiftleft(1L, bucket)").alias("bucket_lo"),
        "n_keys",
        "n_rows",
        F.round(F.col("n_rows").cast("double") / F.col("total").cast("double"), 6).alias(
            "pct_rows"
        ),
    )


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, str],
    n_salts: int = 16,
    salt_col: str | None = None,
) -> DataFrame:
    """Two-stage salted aggregation — the manual skew-mitigation shape
    for a hot-keyed groupBy (what AQE's skew handling does for joins,
    applied to aggregation): stage 1 aggregates on (key, salt) so a hot
    key's rows spread over ``n_salts`` reducers; stage 2 merges the
    per-salt partials on the key alone, touching at most ``n_salts``
    rows per key.

    ``agg_exprs`` maps output column → a SQL aggregate over the input
    (e.g. ``{"revenue": "SUM(CAST(x AS DECIMAL(18,2)))", "n": "COUNT(1)"}``).
    Only associative aggregates are legal (SUM/COUNT/MIN/MAX — the
    partials merge by the same function; COUNT partials merge by SUM,
    handled here). Results are bit-identical to the direct groupBy —
    that equivalence is what the oracle checks.

    ``salt_col`` names a column whose hash spreads the hot key's rows; by
    default a per-row deterministic spread from ``spark_partition_id`` is
    NOT used (non-deterministic under retries) — instead the first
    non-key column hash. Callers pick a high-cardinality column.
    """
    if salt_col is None:
        non_key = [c for c in df.columns if c not in key_cols]
        salt_col = non_key[0]
    salt = F.pmod(F.hash(F.col(salt_col)), F.lit(n_salts)).alias("_salt")
    stage1 = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(*[F.expr(e).alias(name) for name, e in agg_exprs.items()])
    )
    merge_exprs = []
    for name, e in agg_exprs.items():
        fn = e.strip().split("(", 1)[0].upper()
        merge_fn = {"COUNT": "SUM", "SUM": "SUM", "MIN": "MIN", "MAX": "MAX"}[fn]
        merge_exprs.append(F.expr(f"{merge_fn}(`{name}`)").alias(name))
    return stage1.groupBy(*key_cols).agg(*merge_exprs)
