"""Sketch operators: approximate distinct (HLL), count-min frequency
estimation, and bloom-filter membership prefilters.

The reference has no sketch machinery (its cardinalities live in Postgres
planner stats) — these are the sketches a 100 TB pipeline needs where exact
answers stop being affordable:

- ``hll_distinct``: HyperLogLog-style per-group distinct estimate. The
  register table is tiny (``m`` rows per group) and builds with map-side
  partial MAX aggregation — one shuffle of at most ``groups x m`` rows no
  matter how many input rows, which is the entire point vs
  ``countDistinct`` (whose shuffle carries every distinct value).
- ``cms_sketch`` / ``cms_estimates``: count-min sketch over a token
  stream. The sketch is ``depth x width`` integers, built by additive
  groupBy (map-side combine collapses each partition to the sketch size
  before the shuffle); estimates come from a broadcast join against the
  sketch — the classic heavy-hitters-without-a-vocabulary-table shape.
- ``bloom_bits`` / ``bloom_pass_keys``: bloom-filter semi-join prefilter.
  The scale path for the authorized-docs semi-join
  (reference `core/vector_store/pgvector_store.py:469-471` consumes a
  doc-id list) when the key set is too large to ship as a literal list
  but small as bits: ship ``num_bits`` bits, drop most non-matching fact
  rows before the exact join. Spark injects runtime bloom filters itself
  (`spark.sql.optimizer.runtime.bloomFilter.enabled`); the explicit
  relational form here is oracle-checkable and engine-independent.

Every hash derives from the portable md5 scheme (`dedup.portable_hash`) so
DuckDB reproduces each operator bit-for-bit. All register/bucket math stays
in int64 (scaled powers of two, not float ``pow``) so aggregation order can
never change a result; the only float ops are the final estimate division
and (for HLL) one ``ln`` — single IEEE ops on exact integer operands.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from morphik_core_spark.operators.dedup import portable_hash
from morphik_core_spark.plans.literal import bounded_collect, literal_frame_from_schema

__all__ = [
    "hll_distinct",
    "hll_registers",
    "hll_merge",
    "hll_estimate_from_registers",
    "cms_sketch",
    "cms_estimates",
    "bloom_bits",
    "bloom_pass_keys",
    "cms_join_size_estimate",
]

# portable_hash is 60-bit; the rho window is what remains after the
# register index is peeled off
_HASH_BITS = 60

# Contract bounds of the driver-side pulls (past its bound an operator
# raises): the (day, token) grid of `sliding_cms_window`, and the keys of
# a `kmv_overlap` sketch, whose pair loop is quadratic in keys.
SLIDING_CMS_MAX_ROWS = 500_000
KMV_MAX_KEYS = 512


def hll_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 9,
) -> DataFrame:
    """Per-group approximate COUNT(DISTINCT value) via HyperLogLog.

    Returns ``group_cols + (registers_used, distinct_est)``. ``m = 2**p``
    registers; standard-error ~= 1.04/sqrt(m) (~4.6% at p=9). Uses the
    classic Flajolet/Fu sion/Gandouet/Meunier estimator with the
    linear-counting small-range correction.

    Exactness-for-parity notes (the whole design pivots on these):
    - register value = MAX(rho) is integer, so partial aggregation order
      is irrelevant;
    - the harmonic sum is computed in *scaled integer space*:
      ``sum(2**(SCALE - rho))`` with ``SCALE = window_bits + 1`` — an
      int64 sum (<= m * 2**SCALE = 2**(p + SCALE) <= 2**61), exact and
      associative, where a float ``sum(2**-rho)`` would depend on
      aggregation order;
    - rho uses the bit length of the windowed hash via binary-string
      length (``conv(w, 10, 2)`` / DuckDB ``to_base(w, 2)``), never
      ``log2`` (libm, inexact at boundaries).
    """
    regs = hll_registers(df, group_cols, value_col, p=p)
    return hll_estimate_from_registers(regs, group_cols, p=p)


def hll_registers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 9,
) -> DataFrame:
    """The HLL sketch itself: ``group_cols + (reg, max_rho)`` — at most
    ``m = 2**p`` integer rows per group, built by one map-side-combined
    MAX groupBy. This IS the mergeable state: sketches roll up to any
    coarser grain with another ``MAX(max_rho)`` per (coarse key, reg) —
    MAX is associative/idempotent, so merging per-nation registers into
    a region estimate is EXACTLY the estimate built from the region's
    raw rows (the re-aggregatable-materialized-view property that makes
    sketch columns storable beside rollup tables at 100 TB)."""
    m = 1 << p
    window_bits = _HASH_BITS - p
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, portable_hash(F.col(value_col).cast("string")).alias("h"))
        .select(*group_cols, (F.col("h") % m).alias("reg"), F.expr(f"h div {m}").alias("w"))
        .withColumn(
            "rho",
            F.expr(
                f"{window_bits} + 1 - (CASE WHEN w = 0 THEN 0 "
                f"ELSE length(conv(CAST(w AS STRING), 10, 2)) END)"
            ),
        )
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(regs: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Merge register tables to a coarser grain: MAX(max_rho) per
    (coarse keys, reg). Input register rows may come from different
    sub-groups, different batches, or storage — union them first."""
    return regs.groupBy(*group_cols, "reg").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: Sequence[str],
    p: int = 9,
) -> DataFrame:
    """Finalize register rows into ``(registers_used, distinct_est)``
    per group — the read side of the sketch. See :func:`hll_distinct`
    for the exactness design (scaled-int harmonic sum; float only in
    the final fixed expression tree)."""
    m = 1 << p
    window_bits = _HASH_BITS - p
    scale = window_bits + 1
    pow_scale = 1 << scale
    # the D suffix forces DOUBLE literals: a bare 0.7213 parses as
    # DECIMAL(5,4) in Spark SQL and the whole tree would go through
    # decimal division (different rounding than the oracle's doubles)
    alpha_expr = f"(0.7213D / (1.0D + 1.079D / {m}.0D))"
    est_raw = f"({alpha_expr} * {m}.0D * {m}.0D * {pow_scale}.0D) / CAST(s AS DOUBLE)"
    return (
        regs.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("registers_used"),
            F.expr(f"sum(shiftleft(CAST(1 AS BIGINT), {scale} - max_rho))").alias("s_occ"),
        )
        .withColumn("s", F.expr(f"s_occ + ({m} - registers_used) * CAST({pow_scale} AS BIGINT)"))
        .withColumn(
            "distinct_est",
            F.expr(
                f"ROUND(CASE WHEN {est_raw} <= 2.5D * {m}.0D AND registers_used < {m} "
                f"THEN {m}.0D * ln({m}.0D / ({m} - registers_used)) "
                f"ELSE {est_raw} END, 6)"
            ),
        )
        .select(*group_cols, "registers_used", "distinct_est")
    )


def cms_sketch(
    counts: DataFrame,
    token_col: str,
    count_col: str,
    depth: int = 3,
    width: int = 16,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Count-min sketch (depth x width) from an additive count table.

    ``counts`` may be raw rows with ``count_col = 1`` or (cheaper, what
    you'd do at scale) a pre-combined per-token count table — counts are
    additive, so both build the identical sketch. Returns
    ``(group_cols…, depth_i, bucket, bucket_count)``; with
    ``group_cols`` set, one independent sketch per group — and because
    CMS cells are SUMS, sketches re-aggregate to any coarser grain (or
    any window union) by adding cells, the additive sibling of the HLL
    register MAX-merge.
    """
    keys = list(group_cols)
    rows = []
    for d in range(depth):
        bucket = portable_hash(F.concat(F.lit(f"cms{d}|"), F.col(token_col))) % width
        rows.append(
            counts.select(
                *keys,
                F.lit(d).alias("depth_i"),
                bucket.alias("bucket"),
                F.col(count_col).alias("n"),
            )
        )
    stream = rows[0]
    for r in rows[1:]:
        stream = stream.unionByName(r)
    return stream.groupBy(*keys, "depth_i", "bucket").agg(F.sum("n").alias("bucket_count"))


def cms_estimates(
    candidates: DataFrame,
    sketch: DataFrame,
    token_col: str,
    depth: int = 3,
    width: int = 16,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Attach ``cms_est`` = min over sketch rows of the hashed bucket count.

    The sketch is depth*width rows per group — broadcast when the group
    count is bounded. CMS guarantees ``cms_est >= true count``
    (collisions only ever inflate). With ``group_cols``, candidates
    probe their own group's sketch (the sliding-window read path).
    """
    keys = list(group_cols)
    probes = candidates.select(
        *keys,
        token_col,
        F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("depth_i"),
    ).withColumn(
        "bucket",
        (portable_hash(F.concat(F.concat(F.lit("cms"), F.col("depth_i").cast("string"), F.lit("|")), F.col(token_col))) % width),
    )
    joined = probes.join(F.broadcast(sketch), keys + ["depth_i", "bucket"])
    est = joined.groupBy(*keys, token_col).agg(F.min("bucket_count").alias("cms_est"))
    return candidates.join(est, keys + [token_col])


def sliding_cms_window(
    day_counts: DataFrame,
    day_col: str,
    token_col: str,
    count_col: str,
    window_days: int = 7,
    depth: int = 3,
    width: int = 16,
) -> DataFrame:
    """Trailing-``window_days`` per-token counts from SLIDING count-min
    sketches beside the exact rollup: day-grain sketches fan to the
    windows they serve and cells ADD (the CMS additive-merge read path);
    output rows exist for every OBSERVED day (the semi-join convention)
    carrying ``exact_n`` and the one-sided ``cms_est >= exact_n``.

    Input must be the pre-combined (day, token, n) day-grain table.
    Output: (day, token_col, exact_n, cms_est).

    Driver-bounded: ONE collect pulls the day x token grid (more than
    ``SLIDING_CMS_MAX_ROWS`` rows raise), and the fanout, cell merge,
    exact rollup and min-over-depth estimates run in exact Python
    integers. The bucket hash is the md5 fold `portable_hash` computes,
    so the sketch equals the one `cms_sketch` builds; NULL days never
    fan out and NULL tokens never output. The result is a VALUES
    LocalRelation (every column is an exact integer/date/string; there
    is no double tree).
    """
    import datetime as _dt
    import hashlib as _hl

    rows = bounded_collect(
        day_counts.select(F.col(day_col), F.col(token_col), F.col(count_col)),
        SLIDING_CMS_MAX_ROWS,
        "sliding_cms_window day grid (SLIDING_CMS_MAX_ROWS)",
    )

    def _bucket(d: int, tok: str) -> int:
        h = int(_hl.md5(f"cms{d}|{tok}".encode("utf-8")).hexdigest()[:15], 16)
        return h % width

    obs_days = {r[0] for r in rows if r[0] is not None}
    sketch: dict = {}
    exact: dict = {}
    for day, tok, n in rows:
        if day is None:
            continue  # NULL days never fan out
        for k in range(window_days):
            wday = day + _dt.timedelta(days=k)
            if tok is not None:
                exact[(wday, tok)] = exact.get((wday, tok), 0) + n
                for d in range(depth):
                    cell = (wday, d, _bucket(d, tok))
                    sketch[cell] = sketch.get(cell, 0) + n
    out_rows = []
    for (wday, tok), ex in exact.items():
        if wday not in obs_days:
            continue
        est = min(sketch[(wday, d, _bucket(d, tok))] for d in range(depth))
        out_rows.append((wday, tok, ex, est))
    tok_t = day_counts.schema[token_col].dataType.simpleString()
    return literal_frame_from_schema(
        day_counts.sparkSession,
        f"day date, {token_col} {tok_t}, exact_n bigint, cms_est bigint",
        out_rows,
    )


def bloom_bits(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 8192,
    num_hashes: int = 3,
) -> DataFrame:
    """Distinct set bit positions of a bloom filter over ``keys``.

    At most ``num_bits`` rows regardless of key count — the build is a
    groupBy-distinct that combines map-side.
    """
    probes = keys.select(
        F.explode(
            F.array(
                *[
                    portable_hash(F.concat(F.lit(f"bloom{j}|"), F.col(key_col).cast("string"))) % num_bits
                    for j in range(num_hashes)
                ]
            )
        ).alias("bit")
    )
    return probes.distinct()


def bloom_pass_keys(
    keys: DataFrame,
    key_col: str,
    bits: DataFrame,
    num_bits: int = 8192,
    num_hashes: int = 3,
) -> DataFrame:
    """Keys whose every hash position is set in ``bits`` (no false
    negatives; false positives at the configured rate).

    ``bits`` is <= num_bits rows — broadcast — so the membership test
    costs one map-side join plus a small groupBy on the key, never a
    full-size shuffle of the fact table.
    """
    probes = keys.select(
        key_col,
        F.posexplode(
            F.array(
                *[
                    portable_hash(F.concat(F.lit(f"bloom{j}|"), F.col(key_col).cast("string"))) % num_bits
                    for j in range(num_hashes)
                ]
            )
        ).alias("j", "bit"),
    )
    matched = probes.join(F.broadcast(bits), "bit")
    return (
        matched.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == num_hashes)
        .select(key_col)
    )


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 128,
) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch per key: the ``k`` smallest
    DISTINCT portable-hash values of ``value_col`` within each key group.

    Output: (key, v, rk) with rk = 1..k ascending by hash value — plus
    every group's full value set when it has fewer than k distinct values
    (the sketch then IS the set and downstream estimates become exact).

    Why KMV next to HLL: HLL answers "how many distinct" per group; KMV
    sketches are *mergeable by union* and support SET operations —
    intersection/Jaccard/containment between groups (Beyer et al. 2007,
    Dasu et al. 2002) — which HLL registers cannot. That makes KMV the
    corpus-overlap sketch: "how much of crawl B is already in crawl A"
    without ever joining the corpora.

    Scale shape: distinct-(key, h30) collapses map-side, then ONE window
    over at most the distinct values ranks and cuts to k. The sketch is
    ``keys x k`` rows — driver-safe to collect, broadcast-safe to join.
    Hashes stay in exact int space (h30 = portable md5 folded to 30 bits)
    so every engine ranks identically; ties are impossible within a group
    (values are distinct post-fold — cross-fold collisions simply merge,
    identically everywhere).
    """
    from pyspark.sql import Window

    h30 = (portable_hash(F.col(value_col)) % (1 << 30)).alias("v")
    base = df.select(F.col(key_col), h30).distinct()
    w = Window.partitionBy(key_col).orderBy(F.col("v").asc())
    return (
        base.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def _kmv_overlap_tail(stats: DataFrame, k: int) -> DataFrame:
    """The estimate tail of `kmv_overlap` over its literal per-pair
    integer stats (ka, kb, cnt_a, kth_a, cnt_b, kth_b, cnt_u, kth_u,
    match_k): one fixed double tree per estimate."""
    space = float(1 << 30)

    def est(cnt, kth):  # exact below k, KMV estimator at k
        return F.when(cnt < k, cnt.cast("double")).otherwise(
            F.lit(float(k - 1)) * F.lit(space) / kth.cast("double")
        )

    jac = F.col("match_k").cast("double") / F.least(F.lit(k), F.col("cnt_u")).cast("double")
    est_u = est(F.col("cnt_u"), F.col("kth_u"))
    est_a = est(F.col("cnt_a"), F.col("kth_a"))
    est_b = est(F.col("cnt_b"), F.col("kth_b"))
    inter = jac * est_u
    return stats.select(
        "ka",
        "kb",
        F.round(est_a, 4).alias("est_distinct_a"),
        F.round(est_b, 4).alias("est_distinct_b"),
        F.round(est_u, 4).alias("est_union"),
        F.col("match_k").cast("bigint").alias("match_k"),
        F.round(jac, 6).alias("est_jaccard"),
        F.round(inter, 4).alias("est_intersection"),
        F.round(F.least(inter / est_a, F.lit(1.0)), 6).alias("est_containment_a"),
        F.round(F.least(inter / est_b, F.lit(1.0)), 6).alias("est_containment_b"),
    )


def kmv_overlap(
    sketches: DataFrame,
    key_col: str,
    k: int = 128,
) -> DataFrame:
    """Pairwise corpus-overlap estimates from per-key KMV sketches.

    For every key pair (a < b): distinct-count estimates for each side and
    the union, the k-min agreement count, the Jaccard estimate —
    match_k / min(k, |union sketch|) over the union's k minimum values
    (exact when a pair has fewer than k distinct values total) — and both
    directed containments C(A|B) = |A∩B|/|B| and C(B|A) = |A∩B|/|A|
    (est_intersection over the per-side estimates): the asymmetric
    "how much of crawl B is already inside A" question that Jaccard
    alone understates when the corpora differ in size.

    The KMV estimator: with v_k the k-th smallest of n distinct 30-bit
    hashes, D ≈ (k-1) * 2^30 / v_k; groups smaller than k report their
    exact count. est_intersection = jaccard * est_union (Beyer et al.).

    Input is the output of :func:`kmv_sketch`, at most k rows per key.
    Driver-bounded: ONE collect pulls the non-NULL-key sketch (NULL keys
    never pair), and the pairwise union/agreement combinatorics run in
    exact Python integers (hashes and counts are exact ints; ka < kb
    uses code-point order, which equals Spark's and DuckDB's UTF-8
    order); the integer stats feed `_kmv_overlap_tail` over a VALUES
    LocalRelation. The pair loop is quadratic in keys, so the bound is
    on keys: more than ``KMV_MAX_KEYS`` keys raise, and the pull stops
    at ``KMV_MAX_KEYS * k`` rows.
    """
    key_t = sketches.schema[key_col].dataType.simpleString()
    rows = bounded_collect(
        sketches.filter(F.col(key_col).isNotNull()).select(F.col(key_col), F.col("v")),
        KMV_MAX_KEYS * k,
        "kmv_overlap sketch (KMV_MAX_KEYS * k)",
    )
    by_key: dict = {}
    for kk, v in rows:
        by_key.setdefault(kk, set()).add(v)
    if len(by_key) > KMV_MAX_KEYS:
        raise ValueError(
            f"kmv_overlap sketch exceeds its bound of {KMV_MAX_KEYS} keys; "
            f"the bound is a contract, not a truncation"
        )
    keys_sorted = sorted(by_key)
    stat_rows = []
    for i, ka in enumerate(keys_sorted):
        a_set = by_key[ka]
        cnt_a, kth_a = len(a_set), max(a_set)
        for kb in keys_sorted[i + 1:]:
            b_set = by_key[kb]
            union_topk = sorted(a_set | b_set)[:k]
            stat_rows.append((
                ka, kb, cnt_a, kth_a, len(b_set), max(b_set),
                len(union_topk), union_topk[-1],
                sum(1 for v in union_topk if v in a_set and v in b_set),
            ))
    stats = literal_frame_from_schema(
        sketches.sparkSession,
        f"ka {key_t}, kb {key_t}, cnt_a bigint, kth_a bigint, "
        "cnt_b bigint, kth_b bigint, cnt_u bigint, kth_u bigint, "
        "match_k bigint",
        stat_rows,
    )
    return _kmv_overlap_tail(stats, k)


def cms_join_size_estimate(
    a_counts: DataFrame,
    b_counts: DataFrame,
    token_col: str,
    count_col: str,
    depth: int = 3,
    width: int = 64,
    decimals: int = 6,
) -> DataFrame:
    """Sketch-based equi-join CARDINALITY estimation — the optimizer
    statistic behind join reordering at 100 TB, where the exact
    |A ⋈ B| = Σ_k a_k·b_k is itself a join you can't afford to run:
    build a count-min sketch per side over the join key and take

        est = min_d  Σ_w  A[d][w] · B[d][w]

    — the CMS inner-product estimator (Cormode & Muthukrishnan 2005),
    an always-≥ upper bound on the true join size that tightens as
    width grows (hash collisions only ever ADD mass), the join-size
    sibling of `cms_estimates`' point lookups and the AMS F₂ family.

    Both sketches ride `cms_sketch` (shared portable row hashes, so the
    estimate is engine-reproducible); the inner product is a
    (depth × width)-bounded join of the two sketch tables — the corpus
    contributes one count aggregation per side. Output ONE row:
    (exact_join_size, estimate, rel_error) — exact computed here for
    the audit; a production estimator emits only the estimate.
    """
    from morphik_core_spark.plans.cache import scoped_persist

    # each side feeds its sketch AND the exact-size audit join — persist
    # the per-key count tables (key-domain-bounded) so the corpus
    # aggregation upstream runs once per side, not per consumer
    self_join = b_counts is a_counts
    a_counts = scoped_persist(a_counts)
    b_counts = a_counts if self_join else scoped_persist(b_counts)
    sa = cms_sketch(a_counts, token_col, count_col, depth=depth, width=width)
    # identical input -> identical sketch: the self-join estimate reuses
    # one sketch build, and the exact audit is SUM(c^2) per key without
    # the key-equality join (round-11; same numbers by construction)
    sb = sa if self_join else cms_sketch(b_counts, token_col, count_col, depth=depth, width=width)
    prod = (
        sa.select("depth_i", "bucket", F.col("bucket_count").alias("_a"))
        .join(
            sb.select("depth_i", "bucket", F.col("bucket_count").alias("_b")),
            ["depth_i", "bucket"],
        )
        .groupBy("depth_i")
        .agg(F.sum(F.col("_a") * F.col("_b")).alias("_ip"))
        .agg(F.min("_ip").alias("estimate"))
    )
    if self_join:
        exact = (
            a_counts.groupBy(token_col)
            .agg(F.sum(count_col).alias("_ca"))
            .agg(F.sum(F.col("_ca") * F.col("_ca")).alias("exact_join_size"))
        )
    else:
        exact = (
            a_counts.groupBy(token_col)
            .agg(F.sum(count_col).alias("_ca"))
            .join(
                b_counts.groupBy(token_col).agg(F.sum(count_col).alias("_cb")),
                token_col,
            )
            .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("exact_join_size"))
        )
    return (
        exact.join(F.broadcast(prod))
        .select(
            F.col("exact_join_size").cast("bigint").alias("exact_join_size"),
            F.col("estimate").cast("bigint").alias("estimate"),
            F.round(
                F.expr(
                    "(CAST(estimate AS DOUBLE) - CAST(exact_join_size AS DOUBLE)) "
                    "/ CAST(exact_join_size AS DOUBLE)"
                ),
                decimals,
            ).alias("rel_error"),
        )
    )
