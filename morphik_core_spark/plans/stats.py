"""Table statistics (ANALYZE analog): row counts, per-column min/max,
null counts, and approximate distinct counts, persisted as a JSON
manifest next to the table.

This closes the planning loop SCALE.md promises: the broadcast gates
(`retrieval.scoped_chunks`'s limit-probe, bench-time join choices) can
consult persisted stats instead of probing — on a cluster the probe
costs a scan-task launch per query, while stats are computed once per
snapshot (e.g. right after the write that produced it) and read for
free.

The ndv estimate uses Spark's built-in HLL (`approx_count_distinct`) —
engine-internal planning data needs no cross-engine oracle; the
oracle-checkable HLL lives in `operators/sketches`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "compute_table_stats",
    "write_stats",
    "read_stats",
    "should_broadcast",
    "key_skew_histogram",
    "top_heavy_keys",
    "estimate_join_rows",
    "salted_agg",
]

_STATS_FILE = "_stats.json"


def compute_table_stats(df: DataFrame, cols: list[str] | None = None) -> dict:
    """One aggregation pass → {row_count, columns: {col: {min, max,
    null_count, approx_ndv}}}. min/max are stringified (JSON-safe across
    types); numeric consumers parse back."""
    cols = cols or [c for c, t in df.dtypes if not t.startswith(("array", "map", "struct", "binary"))]
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nulls_{c}"),
            F.approx_count_distinct(c).alias(f"_ndv_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    return {
        "row_count": row["_rows"],
        "columns": {
            c: {
                "min": row[f"_min_{c}"],
                "max": row[f"_max_{c}"],
                "null_count": row[f"_nulls_{c}"],
                "approx_ndv": row[f"_ndv_{c}"],
            }
            for c in cols
        },
    }


def write_stats(table_path: str, stats: dict) -> None:
    p = os.path.join(table_path, _STATS_FILE)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=1)
    os.replace(tmp, p)


def read_stats(table_path: str) -> dict | None:
    p = os.path.join(table_path, _STATS_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def should_broadcast(stats: dict | None, max_rows: int) -> bool | None:
    """Gate decision from persisted stats; None = unknown (caller falls
    back to its probe)."""
    if not stats or "row_count" not in stats:
        return None
    return stats["row_count"] <= max_rows


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


def top_heavy_keys(df: DataFrame, key_cols: list[str], k: int = 20) -> DataFrame:
    """The named offenders behind a skewed histogram: top-k keys by row
    count, ties broken by key so the report is deterministic. Served by
    TakeOrderedAndProject (per-partition heaps), never a full sort."""
    counts = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.orderBy(
        F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols]
    ).limit(k)


def estimate_join_rows(
    stats_a: dict | None,
    stats_b: dict | None,
    key_a: str,
    key_b: str | None = None,
) -> int | None:
    """Classic System-R equi-join cardinality estimate from persisted
    table stats: |A ⋈ B| ≈ rows_A · rows_B / max(ndv_A, ndv_B) — the
    containment-of-value-sets assumption every cost-based optimizer
    ships. Returns None when either side lacks stats (callers fall back
    to probing, exactly like `should_broadcast`).

    The ndv's come from the same HLL `compute_table_stats` persists, so
    the estimate is free at plan time. Use it to pick shuffle-partition
    counts for the join output or to veto a join order BEFORE launching
    a 100 TB stage; Spark's own CBO does this when ANALYZE stats exist —
    this is the same arithmetic for tables managed outside the catalog.
    """
    key_b = key_b or key_a
    if not stats_a or not stats_b:
        return None
    ca = stats_a.get("columns", {}).get(key_a)
    cb = stats_b.get("columns", {}).get(key_b)
    if not ca or not cb or not ca.get("approx_ndv") or not cb.get("approx_ndv"):
        return None
    ndv = max(ca["approx_ndv"], cb["approx_ndv"])
    return int(stats_a["row_count"] * stats_b["row_count"] // ndv)


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
