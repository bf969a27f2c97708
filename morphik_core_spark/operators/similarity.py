"""Similarity search over embedding columns.

Brute-force exact top-k is the correctness baseline (and is genuinely the
right plan when the query batch is small: one scan, per-partition heaps,
no index to build). The scale path is sign-LSH bucketing: hash vectors to
buckets with fixed hyperplanes, search only the query's bucket — turning
top-k into a partition-pruned scan. Both are pure DataFrame ops.

At real 100 TB/billion-vector scale the bucketed table is written
partitioned by ``bucket`` so probes prune at the file level; multi-probe
(flip lowest-margin bits) trades recall for scan breadth the same way
ivfflat's ``probes`` knob does in the reference
(/root/reference/core/vector_store/pgvector_store.py:125).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from morphik_core_spark.functions.vectors import dot, query_score, retrieval_score
from morphik_core_spark.plans.literal import sql_ident

__all__ = [
    "knn_brute_force",
    "lsh_bucket",
    "probe_buckets",
    "knn_lsh",
    "ivf_assign",
    "knn_ivf",
    "kmeans_fit",
    "pq_codebooks",
    "knn_pq",
    "sq8_stats",
    "knn_sq8",
    "sq8_reconstruction_error",
    "hard_negatives",
    "knn_matryoshka",
    "write_ivf_layout",
    "probe_list_ids",
    "knn_ivf_partitioned",
    "ivf_append",
    "ivf_drift_audit",
    "semantic_decontaminate",
    "recall_at_k",
]


def knn_brute_force(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "qv",
    decimals: int | None = 6,
) -> DataFrame:
    """Exact top-k per query: broadcast the query batch, score every vector,
    keep k per query via a window rank (one shuffle keyed on q_id).

    Output: (q_id, vec_id, score) — score is the reference retrieval score.
    """
    scored = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(q_id_col),
        F.col(id_col),
        retrieval_score(F.col(emb_col).cast("array<double>"), F.col(q_emb_col)).alias("score"),
    )
    if decimals is not None:
        scored = scored.withColumn("score", F.round("score", decimals))
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _vec_sql(emb: str) -> str:
    return f"cast(`{emb}` as array<double>)"


def _bucket_sql(vec_sql: str, hyperplanes: Sequence[Sequence[float]]) -> str:
    """Sign-LSH bucket id as one SQL string (see _argmax_centroid_sql for
    why strings: the Column-API loop cost ~1s of py4j plan build/query)."""
    terms = [
        f"(CASE WHEN {_dot_sql(vec_sql, _arr_sql(hp))} > 0.0D THEN {1 << b} ELSE 0 END)"
        for b, hp in enumerate(hyperplanes)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _probes_sql(
    vec_sql: str, bucket_sql: str, hyperplanes: Sequence[Sequence[float]], n_probes: int
) -> str:
    """Own bucket + single-bit flips of the n_probes-1 lowest-|margin|
    planes, as one SQL string. ``bucket_sql`` may be a column reference so
    the bucket expression isn't re-evaluated per flip."""
    margins = (
        "array_sort(array("
        + ", ".join(
            f"named_struct('m', abs({_dot_sql(vec_sql, _arr_sql(hp))}), 'b', {b})"
            for b, hp in enumerate(hyperplanes)
        )
        + "))"
    )
    # 2^b via pow: exact in double up to 2^52, far beyond any plane count
    flips = (
        f"transform(slice({margins}, 1, {n_probes - 1}), "
        f"s -> CAST({bucket_sql} ^ CAST(pow(2.0D, s.b) AS BIGINT) AS BIGINT))"
    )
    return f"concat(array({bucket_sql}), {flips})"


def lsh_bucket(emb: str, hyperplanes: Sequence[Sequence[float]]) -> Column:
    """Sign-LSH bucket id: bit b set iff dot(v, hyperplane_b) > 0.

    ``emb`` is a column NAME (the expression is assembled as a single SQL
    string to keep driver-side plan build O(1) in py4j round-trips).
    """
    return F.expr(_bucket_sql(_vec_sql(emb), hyperplanes))


def probe_buckets(emb: str, hyperplanes: Sequence[Sequence[float]], n_probes: int) -> Column:
    """Multi-probe bucket list: the vector's own bucket plus single-bit
    flips of the ``n_probes - 1`` lowest-|margin| hyperplanes — the bits
    most likely to be on the wrong side of a noisy boundary. This is the
    ivfflat ``probes`` knob (reference pgvector_store.py:125) for sign-LSH:
    recall rises with probe count, scan breadth rises linearly, and every
    probe is still a partition-prunable bucket id. ``emb`` is a column name.
    """
    v = _vec_sql(emb)
    return F.expr(_probes_sql(v, _bucket_sql(v, hyperplanes), hyperplanes, n_probes))


def knn_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    hyperplanes: Sequence[Sequence[float]],
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "qv",
    decimals: int | None = 6,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket(s).

    The bucket equi-join replaces the cross join — candidate count drops
    ~2^bits-fold; recall follows the standard sign-LSH tradeoff.
    ``n_probes > 1`` additionally probes the buckets reached by flipping
    the lowest-margin hyperplane bits (see :func:`probe_buckets`); each
    data vector still lives in exactly one bucket, and probe buckets are
    distinct, so candidates never duplicate.
    """
    bucketed = embeddings.withColumn("bucket", lsh_bucket(emb_col, hyperplanes))
    if n_probes <= 1:
        q_bucketed = queries.withColumn("bucket", lsh_bucket(q_emb_col, hyperplanes))
    else:
        # bucket once into a column, then flip bits off that reference —
        # keeps the 4×64-dim dot expressions out of every probe element
        q_bucketed = (
            queries.withColumn("_bucket_main", lsh_bucket(q_emb_col, hyperplanes))
            .withColumn(
                "bucket",
                F.explode(
                    F.expr(
                        _probes_sql(_vec_sql(q_emb_col), "`_bucket_main`", hyperplanes, n_probes)
                    )
                ),
            )
            .drop("_bucket_main")
        )
    scored = bucketed.join(F.broadcast(q_bucketed), "bucket").select(
        F.col(q_id_col),
        F.col(id_col),
        retrieval_score(F.col(emb_col).cast("array<double>"), F.col(q_emb_col)).alias("score"),
    )
    if decimals is not None:
        scored = scored.withColumn("score", F.round("score", decimals))
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _arr_sql(vals: Sequence[float]) -> str:
    """SQL array<double> literal (D-suffixed so nothing parses as DECIMAL)."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in vals) + ")"


def _dot_sql(a: str, b: str) -> str:
    """SQL twin of functions.vectors.dot — same fold, same doubles."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _argmax_centroid_sql(
    vec_sql: str, norm_sql: str, centroids: Sequence[tuple[int, Sequence[float]]], decimals: int
) -> str:
    """array of (round(cos, d), -cid) structs; array_max/array_sort over it
    orders by cos desc then cid asc. Centroid norms are baked in as Python
    floats — sum(x*x) is the same left fold as the SQL aggregate, so the
    doubles (and the DuckDB oracle) agree bit-for-bit.

    Built as ONE SQL string: the Column-API form of this expression took
    ~350 py4j round-trips (8 centroids × 64-dim literals × lambda plumbing)
    ≈ 1.8 s of driver-side plan build per query — a constant cost, but one
    the bench pays on every call. One expr → one JVM parse.
    """
    entries = []
    for cid, cv in centroids:
        cnorm = math.sqrt(sum(float(x) * float(x) for x in cv))
        cos = f"{_dot_sql(vec_sql, _arr_sql(cv))} / ({norm_sql} * {cnorm!r}D)"
        entries.append(f"named_struct('c', round({cos}, {decimals}), 'n', -{cid})")
    return "array(" + ", ".join(entries) + ")"


def ivf_assign(
    embeddings: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    emb_col: str = "embedding",
    decimals: int = 6,
    with_cos: bool = False,
) -> DataFrame:
    """Append an ``ivf_cid`` column: the id of the nearest centroid by
    cosine (rounded to ``decimals``; ties break to the smallest cid).

    Centroids are a driver-side list — in a real deployment they come from
    an offline k-means fit (the IVF "training" step, cf. FAISS IVF /
    pgvector ivfflat lists, reference pgvector_store.py:125) and are a few
    KB, so inlining them as literals keeps assignment a PURE MAP: one
    expression per row inside whole-stage codegen, no join, no shuffle.
    Rounding before the argmax keeps the choice reproducible across
    engines (double near-ties would otherwise diverge).
    """
    v = f"cast(`{emb_col}` as array<double>)"
    vnorm = f"sqrt({_dot_sql(v, v)})"
    arr = _argmax_centroid_sql(v, vnorm, centroids, decimals)
    out = embeddings.withColumn("ivf_cid", F.expr(f"-array_max({arr}).n"))
    if with_cos:
        # assignment quality, persisted at write time so index audits
        # (`ivf_drift_audit`) never recompute distances over the corpus
        out = out.withColumn("ivf_cos", F.expr(f"array_max({arr}).c"))
    return out


def knn_ivf(
    embeddings: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    queries: DataFrame,
    k: int,
    n_probes: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "qv",
    decimals: int | None = 6,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize vectors to inverted lists
    (nearest-centroid assignment), search only the ``n_probes`` lists
    nearest the query — the ivfflat ``lists``/``probes`` model
    (reference pgvector_store.py:125) expressed as DataFrame ops.

    Scale shape: assignment is a map (see :func:`ivf_assign`); at rest the
    vector table is written partitioned by ``ivf_cid`` so a probe prunes
    at the file level exactly like a pgvector ivfflat index scan — a
    1000-list layout turns a billion-row scan into ~n_probes/1000 of the
    data. The probe restriction here is an equi-join on the list id
    against a broadcast query batch; the final exact rescore + top-k is a
    single window over the probed fraction.
    """
    assigned = ivf_assign(embeddings, centroids, emb_col=emb_col)
    qv = f"cast(`{q_emb_col}` as array<double>)"
    qnorm = f"sqrt({_dot_sql(qv, qv)})"
    arr = _argmax_centroid_sql(qv, qnorm, centroids, decimals=6)
    # top n_probes centroids: sort desc by (cos, -cid), take first n
    q_probed = queries.withColumn(
        "ivf_cid",
        F.explode(
            F.expr(f"transform(slice(reverse(array_sort({arr})), 1, {n_probes}), s -> -s.n)")
        ),
    )
    scored = assigned.join(F.broadcast(q_probed), "ivf_cid").select(
        F.col(q_id_col),
        F.col(id_col),
        retrieval_score(F.col(emb_col).cast("array<double>"), F.col(q_emb_col)).alias("score"),
    )
    if decimals is not None:
        scored = scored.withColumn("score", F.round("score", decimals))
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def kmeans_fit(
    embeddings: DataFrame,
    n_lists: int,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    sample_mod: int = 1,
    iters: int = 10,
    seed: int = 42,
) -> list[tuple[int, list[float]]]:
    """Offline IVF training: spherical k-means (Lloyd's on cosine) over a
    deterministic sample, run driver-side in numpy. Returns the
    ``centroids`` list :func:`knn_ivf` consumes, ids 1..n_lists.

    This is the FAISS ``train()`` / pgvector ``CREATE INDEX ... ivfflat``
    step: it runs once, offline, on a sample — only the resulting few-KB
    centroid table participates in query plans. ``sample_mod`` is the
    scale knob: ``pmod(hash(id), sample_mod) == 0`` keeps ~1/mod of the
    corpus, a deterministic scan-only filter with no sort and no shuffle
    (at 100 TB you'd fit on ~1M vectors: mod ≈ corpus/1e6). Driver-side
    k-means on ≤1M × few-hundred dims is seconds of numpy — there is no
    reason to distribute the fit itself.
    """
    import numpy as np

    sampled = embeddings.select(id_col, emb_col)
    if sample_mod > 1:
        sampled = sampled.filter(F.pmod(F.hash(F.col(id_col)), sample_mod) == 0)
    rows = sampled.collect()
    mat = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    mat = mat / (np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12)

    rng = np.random.default_rng(seed)
    cents = mat[rng.choice(len(mat), size=n_lists, replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(n_lists):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / (np.linalg.norm(m) + 1e-12)
            else:
                # re-seed empty lists from the point worst-served by its
                # current centroid (standard empty-cluster repair)
                worst = np.argmin((mat @ cents.T).max(axis=1))
                cents[c] = mat[worst]
    return [(c + 1, [float(x) for x in cents[c]]) for c in range(n_lists)]


def pq_codebooks(
    pivots: Sequence[tuple[int, Sequence[float]]], m: int
) -> list[list[list[float]]]:
    """Split pivot vectors into per-subspace codebooks: ``[m][k][d/m]``.

    Pivots play the role k-means training plays in FAISS's IndexPQ —
    deterministic here so the DuckDB oracle can rebuild the exact same
    codebooks relationally (same convention as the IVF centroids).
    """
    d = len(pivots[0][1])
    sub = d // m
    return [
        [[float(x) for x in vec[j * sub : (j + 1) * sub]] for _cid, vec in pivots]
        for j in range(m)
    ]


def knn_pq(
    embeddings: DataFrame,
    pivots: Sequence[tuple[int, Sequence[float]]],
    query_vec: Sequence[float],
    m: int = 8,
    k: int = 10,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    decimals: int | None = 6,
) -> DataFrame:
    """Product-quantization ANN (FAISS IndexPQ model): encode each vector
    as ``m`` subspace code ids, score candidates by asymmetric distance
    (per-subspace lookup tables built from the query), then exact-rescore
    the top ``n_candidates``.

    Scale shape: encoding and the ADC lookup are pure per-row codegen
    over broadcast-literal codebooks — no shuffle, no index structure;
    candidate selection and the rescore are two TakeOrderedAndProject
    stages. At rest, codes are ``m`` bytes/vector (64x compression at 64
    dims float64): the scan that serves ADC reads the code columns only,
    and exact rescore touches full vectors for n_candidates rows. All
    arithmetic is emitted in a fixed order with repr'd double literals so
    the relational oracle reproduces it bit-for-bit — no rounding needed
    before the final score.
    """
    d = len(query_vec)
    sub = d // m
    cbs = pq_codebooks(pivots, m)
    e = "_ev"  # pre-projected double array keeps the generated expr compact

    # Each subspace's centroid-distance array is projected ONCE as a
    # named column `_d{j}`; array_position/array_min then reference the
    # column instead of re-inlining the (16 centroids × sub dims) term
    # array twice per subspace. Halves the generated-SQL size (the
    # dominant cost here was driver-side parse/analysis of a ~100 KB
    # expression string) and guarantees the array is built once per row.
    # The arithmetic — term order, repr'd literals, 1-based
    # array_position, the -1/+1 dance — is byte-for-byte what the
    # inlined form computed, so oracle parity is unchanged.
    dist_cols: list = []
    adc_terms: list[str] = []
    for j, cb in enumerate(cbs):
        dists = ", ".join(
            " + ".join(
                f"({e}[{j * sub + i}] - ({c[i]!r})) * ({e}[{j * sub + i}] - ({c[i]!r}))"
                for i in range(sub)
            )
            for c in cb
        )
        dist_cols.append(F.expr(f"array({dists})").alias(f"_d{j}"))
        # asymmetric distance table: query-to-centroid per subspace,
        # plain Python float sums in the same left-to-right order
        table = [
            sum((float(query_vec[j * sub + i]) - c[i]) ** 2 for i in range(sub)) for c in cb
        ]
        tbl = ", ".join(repr(t) for t in table)
        adc_terms.append(
            f"element_at(array({tbl}), "
            f"int(array_position(_d{j}, array_min(_d{j})) - 1) + 1)"
        )

    approx = " + ".join(adc_terms)
    candidates = (
        embeddings.select(
            F.col(id_col),
            F.col(emb_col),
            F.col(emb_col).cast("array<double>").alias("_ev"),
        )
        .select(F.col(id_col), F.col(emb_col), *dist_cols)
        .select(F.col(id_col), F.col(emb_col), F.expr(approx).alias("approx_dist"))
        .orderBy(F.col("approx_dist").asc(), F.col(id_col).asc())
        .limit(n_candidates)
    )
    score = query_score(f"CAST({sql_ident(emb_col)} AS ARRAY<DOUBLE>)", query_vec)
    if decimals is not None:
        score = F.round(score, decimals)
    return (
        candidates.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def sq8_stats(embeddings: DataFrame, dims: int, emb_col: str = "embedding") -> DataFrame:
    """One-row per-dimension min/max arrays — the SQ8 'codebook' (a few
    hundred bytes; rides broadcasts, persisted offline at scale exactly
    like IVF centroids)."""
    mins = F.array(*[F.min(F.expr(f"CAST(`{emb_col}`[{i}] AS DOUBLE)")) for i in range(dims)])
    maxs = F.array(*[F.max(F.expr(f"CAST(`{emb_col}`[{i}] AS DOUBLE)")) for i in range(dims)])
    return embeddings.agg(mins.alias("mn"), maxs.alias("mx"))


def knn_sq8(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    dims: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "qv",
    decimals: int | None = 6,
) -> DataFrame:
    """Scalar-quantized ANN (SQ8, the pgvector scalar-quantization /
    FAISS SQ8 model): per-dimension affine uint8 codes (4x smaller at
    rest than float32, 8x vs double), scored by asymmetric distance —
    the query stays full precision, vectors reconstruct per dimension
    inside one array-ordered fold.

    Exactness-for-parity: the code assignment is ROUND on one fixed
    double tree then integer clamp; scoring folds dimensions in array
    order (same association as DuckDB's sequential list fold in the
    oracle); constant dimensions (span 0) reconstruct to their minimum
    via an explicit CASE mirrored in both engines.

    Scale shape: the stats row broadcasts; scoring is one codegen map
    over the fact table + TakeOrderedAndProject-style window top-k. At
    rest you store ONLY the uint8 codes + the stats row.
    """
    stats = sq8_stats(embeddings, dims, emb_col)
    code = (
        "transform(sequence(0, {d} - 1), i -> CAST(least(255, greatest(0, "
        "CASE WHEN (mx[i] - mn[i]) = 0.0D THEN 0 "
        "ELSE CAST(round(((CAST(`{e}`[i] AS DOUBLE) - mn[i]) / (mx[i] - mn[i])) * 255.0D) AS INT) END)) AS INT))"
    ).format(d=dims, e=emb_col)
    recon_dot = (
        "aggregate(sequence(0, {d} - 1), 0.0D, (acc, i) -> acc + "
        "(CASE WHEN (mx[i] - mn[i]) = 0.0D THEN mn[i] "
        "ELSE (CAST(codes[i] AS DOUBLE) / 255.0D) * (mx[i] - mn[i]) + mn[i] END) * `{q}`[i])"
    ).format(d=dims, q=q_emb_col)
    scored = (
        embeddings.crossJoin(F.broadcast(stats))
        .withColumn("codes", F.expr(code))
        .crossJoin(F.broadcast(queries))
        .withColumn("score", F.expr(recon_dot))
    )
    if decimals is not None:
        scored = scored.withColumn("score", F.round("score", decimals))
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(q_id_col, id_col, "score")
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    lo: float,
    hi: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    q_id_col: str = "q_id",
    q_emb_col: str = "qv",
    decimals: int | None = 6,
) -> DataFrame:
    """Hard-negative mining for embedding-model training: per query, the
    top-k vectors whose score lands in the band [lo, hi) — similar enough
    to be confusable, not so similar they are positives/near-dups
    (the standard contrastive-training negative selection, e.g. DPR /
    SimCSE hard negatives).

    Same plan as :func:`knn_brute_force` — broadcast query batch, one
    scan, band filter BEFORE the per-query window so the rank only sees
    band rows — plus the band predicate is applied to the rounded score
    both engines carry, keeping the boundary engine-exact. At billion-
    vector scale swap the scan for the LSH/IVF candidate generator and
    band-filter its rescored output; the band logic is unchanged.
    """
    scored = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(q_id_col),
        F.col(id_col),
        retrieval_score(F.col(emb_col).cast("array<double>"), F.col(q_emb_col)).alias("score"),
    )
    if decimals is not None:
        scored = scored.withColumn("score", F.round("score", decimals))
    banded = scored.filter((F.col("score") >= lo) & (F.col("score") < hi))
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def knn_matryoshka(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int,
    coarse_dims: int,
    candidates: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    decimals: int | None = 6,
) -> DataFrame:
    """Matryoshka two-stage retrieval (Kusupati et al. 2022, MRL): coarse
    top-``candidates`` on the embedding PREFIX (first ``coarse_dims``
    dims), exact full-dimension rescore, top-k — the dimension-truncation
    rung of the quantization ladder (binary -> SQ8 -> PQ -> prefix dims).

    With MRL-trained embeddings the prefix is itself a valid embedding,
    so stage 1 is just ``slice`` + the same cosine expression — no codes,
    no codebooks. Stage 1 is one scan + TakeOrderedAndProject over
    ``candidates`` rows; stage 2 rescores only those. At scale the prefix
    can be materialized as its own narrow column (or its own table,
    cutting stage-1 bytes read by dims/coarse_dims) without touching
    this logic.
    """
    q = [float(x) for x in query_vector]
    emb = f"CAST({sql_ident(emb_col)} AS ARRAY<DOUBLE>)"
    coarse_score = query_score(f"slice({emb}, 1, {int(coarse_dims)})", q[:coarse_dims])
    if decimals is not None:
        # cut candidates on the ROUND(decimals) value both engines carry —
        # the boundary is then engine-exact (id tiebreak settles ties)
        coarse_score = F.round(coarse_score, decimals)
    coarse = (
        embeddings.select(id_col, emb_col, coarse_score.alias("coarse_score"))
        .orderBy(F.col("coarse_score").desc(), F.col(id_col).asc())
        .limit(candidates)
    )
    rescored = coarse.select(id_col, query_score(emb, q).alias("score"))
    if decimals is not None:
        rescored = rescored.withColumn("score", F.round("score", decimals))
    return rescored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def write_ivf_layout(
    embeddings: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    path: str,
    emb_col: str = "embedding",
) -> None:
    """Materialize the at-rest IVF layout: nearest-centroid assignment
    (pure map) + parquet partitioned by ``ivf_cid`` — one directory per
    inverted list, so probes prune at the FILE level like a pgvector
    ivfflat / FAISS IVF index scan. This is the physical half of the
    `knn_ivf` docstring's scale story; `knn_ivf_partitioned` is the
    matching read path and the pruning is test-asserted via inputFiles.
    """
    ivf_assign(embeddings, centroids, emb_col=emb_col, with_cos=True).write.mode(
        "overwrite"
    ).partitionBy("ivf_cid").parquet(path)


def probe_list_ids(
    query_vector: Sequence[float],
    centroids: Sequence[tuple[int, Sequence[float]]],
    n_probes: int,
    decimals: int = 6,
) -> list[int]:
    """Driver-side twin of the query-probe selection in `knn_ivf`: the
    ids of the ``n_probes`` centroids nearest the query (rounded cosine,
    ties to the smaller cid) — the values a partitioned scan prunes on."""
    q = [float(x) for x in query_vector]
    qn = math.sqrt(sum(x * x for x in q))
    scored = []
    for cid, cv in centroids:
        cn = math.sqrt(sum(float(x) * float(x) for x in cv))
        cos = sum(a * float(b) for a, b in zip(q, cv)) / (qn * cn)
        scored.append((round(cos, decimals), -cid))
    scored.sort(reverse=True)
    return [-n for _, n in scored[:n_probes]]


def knn_ivf_partitioned(
    spark,
    path: str,
    query_vector: Sequence[float],
    centroids: Sequence[tuple[int, Sequence[float]]],
    k: int,
    n_probes: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    decimals: int | None = 6,
) -> DataFrame:
    """IVF search against the partitioned layout: read ONLY the probed
    list partitions (`ivf_cid` is a partition column, so the isin filter
    becomes a PartitionFilter — untouched lists contribute zero input
    files), exact-rescore the probed fraction, top-k."""
    probes = probe_list_ids(query_vector, centroids, n_probes, decimals=decimals or 6)
    df = spark.read.parquet(path).filter(F.col("ivf_cid").isin(probes))
    scored = df.select(
        id_col,
        query_score(f"CAST({sql_ident(emb_col)} AS ARRAY<DOUBLE>)", query_vector).alias("score"),
    )
    if decimals is not None:
        scored = scored.withColumn("score", F.round("score", decimals))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def _require_ivf_cos(layout_df: DataFrame, path: str) -> None:
    """Layouts written before `write_ivf_layout` stored `ivf_cos` would
    otherwise fail with a missing-column error deep in a job — or worse,
    read NULLs depending on which parquet footer Spark samples. Fail at
    the API boundary with the remedy instead (ADVICE, similarity.py)."""
    if "ivf_cos" not in layout_df.columns:
        raise ValueError(
            f"IVF layout at {path!r} has no 'ivf_cos' column — it was "
            "written by a pre-ivf_cos version of write_ivf_layout. "
            "Rebuild it with write_ivf_layout before appending/auditing."
        )


def ivf_append(
    new_embeddings: DataFrame,
    centroids: Sequence[tuple[int, Sequence[float]]],
    path: str,
    emb_col: str = "embedding",
) -> None:
    """Incremental IVF index maintenance: assign ONLY the new vectors to
    the EXISTING centroids (same shuffle-free nearest-centroid map as
    `ivf_assign`) and append into the partitioned layout — no rebuild, no
    read of existing lists, untouched list partitions keep their files
    byte-identical (parquet append only adds files).

    This is how a live vector index absorbs an ingest batch between
    retrains (FAISS `add` on a trained IVF / pgvector insert into
    ivfflat). The cluster structure degrades as the corpus drifts off the
    training distribution; run :func:`ivf_drift_audit` periodically and
    retrain (`kmeans_fit` + `write_ivf_layout`) when balance or
    assignment quality trips a threshold.
    """
    assigned = ivf_assign(new_embeddings, centroids, emb_col=emb_col, with_cos=True)
    # Schema-compat guard before mixing files: appending ivf_cos rows into
    # a legacy (pre-ivf_cos) layout would leave readers seeing the column
    # or not depending on which footer Spark samples. Footer-only check.
    spark = new_embeddings.sparkSession
    try:
        existing = spark.read.parquet(path)
    except Exception:
        existing = None  # first write into an empty/new path: nothing to clash with
    if existing is not None:
        _require_ivf_cos(existing, path)
    assigned.write.mode("append").partitionBy("ivf_cid").parquet(path)


def ivf_drift_audit(
    spark,
    path: str,
    n_total_lists: int,
    decimals: int = 6,
) -> DataFrame:
    """Per-list health report for a materialized IVF layout — the nightly
    index-audit job that decides when to recluster.

    Emits per inverted list: vector count, share of the corpus, the
    balance ratio vs the ideal uniform share (count / (total/lists) — a
    ratio ≫ 1 means the list absorbs a hot region and its probes rescore
    too much), and the assignment cosine stats (mean from exact micro-int
    sums, min) — a falling mean says new data sits far from the trained
    centroid: retrain.

    One scan of the layout (the `ivf_cos` column is written at
    assign time, so the audit never recomputes distances), one
    vocab-sized aggregate.
    """
    df = spark.read.parquet(path)
    _require_ivf_cos(df, path)
    per_list = df.groupBy("ivf_cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(round(ivf_cos * 1000000.0, 0) AS BIGINT)")).alias("cos_micro_sum"),
        F.round(F.min("ivf_cos"), decimals).alias("min_cos"),
    )
    total = per_list.agg(F.sum("n").alias("n_total"))
    return (
        per_list.crossJoin(F.broadcast(total))
        .select(
            "ivf_cid",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_total").cast("double"), decimals).alias(
                "share"
            ),
            F.round(
                F.col("n").cast("double")
                * F.lit(float(n_total_lists))
                / F.col("n_total").cast("double"),
                decimals,
            ).alias("balance_ratio"),
            F.round(
                F.col("cos_micro_sum").cast("double")
                / (F.col("n").cast("double") * F.lit(1000000.0)),
                decimals,
            ).alias("mean_cos"),
            "min_cos",
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.27,
    decimals: int = 6,
) -> DataFrame:
    """Embedding-level train/eval decontamination: per corpus vector, the
    max cosine against ANY benchmark vector, the nearest benchmark id,
    and a contamination flag — the semantic complement of the n-gram
    `curation.decontaminate` (near-paraphrases of eval items slip past
    string overlap; cf. the SemDeDup observation that semantic dups
    evade exact matching).

    Scale shape: benchmark/eval sets are SMALL by nature (thousands of
    rows), so the benchmark side broadcasts and the pass over the corpus
    is a map + one groupBy-max per corpus id — no corpus×corpus pair
    generation anywhere. Cosines are rounded BEFORE the max and ties
    break to the smallest benchmark id (struct max over
    (cos, -bench_id)), so engines agree bit-for-bit.
    """
    b = benchmark.select(
        F.col(id_col).alias("bench_id"), F.col(emb_col).cast("array<double>").alias("bv")
    )
    c = corpus.select(F.col(id_col), F.col(emb_col).cast("array<double>").alias("cv"))
    cos = F.expr(
        f"round({_dot_sql('cv', 'bv')} / "
        f"(sqrt({_dot_sql('cv', 'cv')}) * sqrt({_dot_sql('bv', 'bv')})), {decimals})"
    )
    pairs = c.join(F.broadcast(b)).select(id_col, "bench_id", cos.alias("cos"))
    best = pairs.groupBy(id_col).agg(
        F.max(F.struct(F.col("cos").alias("c"), (-F.col("bench_id")).alias("n"))).alias("m")
    )
    return best.select(
        id_col,
        F.col("m.c").alias("max_benchmark_cos"),
        (-F.col("m.n")).alias("nearest_bench_id"),
        (F.col("m.c") >= F.lit(threshold)).cast("int").alias("contaminated"),
    )


def sq8_reconstruction_error(
    embeddings: DataFrame,
    dims: int,
    group_col: str = "label",
    emb_col: str = "embedding",
) -> DataFrame:
    """Quantization QA for the SQ8 index: quantize every vector with the
    exact :func:`knn_sq8` code path, reconstruct, and report per-group
    reconstruction MSE — the audit that decides whether 4x-at-rest
    compression is safe for a corpus BEFORE the index is built (FAISS
    exposes the same number as quantizer training error).

    Determinism: the per-vector MSE folds dimensions in array order on
    one fixed double-expression tree (identical association in the
    DuckDB oracle's sequential list fold), then is quantized to a
    scaled BIGINT (round(mse·10¹²)) so the per-group SUM/MAX are exact
    integer arithmetic — aggregation order cannot change a digit.
    mean/max convert back through the same double division both engines
    evaluate identically.

    Scale: stats row broadcasts (few hundred bytes); one codegen map
    over the vectors; one uniform groupBy on ``group_col``.
    """
    stats = sq8_stats(embeddings, dims, emb_col)
    code = (
        "transform(sequence(0, {d} - 1), i -> CAST(least(255, greatest(0, "
        "CASE WHEN (mx[i] - mn[i]) = 0.0D THEN 0 "
        "ELSE CAST(round(((CAST(`{e}`[i] AS DOUBLE) - mn[i]) / (mx[i] - mn[i])) * 255.0D) AS INT) END)) AS INT))"
    ).format(d=dims, e=emb_col)
    sq_err = (
        "aggregate(sequence(0, {d} - 1), 0.0D, (acc, i) -> acc + "
        "((CASE WHEN (mx[i] - mn[i]) = 0.0D THEN mn[i] "
        "ELSE (CAST(codes[i] AS DOUBLE) / 255.0D) * (mx[i] - mn[i]) + mn[i] END) "
        "- CAST(`{e}`[i] AS DOUBLE)) * "
        "((CASE WHEN (mx[i] - mn[i]) = 0.0D THEN mn[i] "
        "ELSE (CAST(codes[i] AS DOUBLE) / 255.0D) * (mx[i] - mn[i]) + mn[i] END) "
        "- CAST(`{e}`[i] AS DOUBLE)))"
    ).format(d=dims, e=emb_col)
    per_vec = (
        embeddings.crossJoin(F.broadcast(stats))
        .withColumn("codes", F.expr(code))
        .withColumn(
            "_mse_pico",
            F.expr(f"CAST(round(({sq_err} / {dims}.0D) * 1000000000000.0D) AS BIGINT)"),
        )
    )
    return (
        per_vec.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("_mse_pico").alias("_sum_pico"),
            F.max("_mse_pico").alias("_max_pico"),
        )
        .select(
            group_col,
            "n_vecs",
            F.round(
                F.col("_sum_pico").cast("double")
                / F.col("n_vecs").cast("double")
                / F.lit(1000000000000.0),
                12,
            ).alias("mean_mse"),
            F.round(
                F.col("_max_pico").cast("double") / F.lit(1000000000000.0), 12
            ).alias("max_mse"),
        )
    )


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    q_col: str = "q_id",
    id_col: str = "vec_id",
    decimals: int = 6,
) -> DataFrame:
    """Recall audit of an approximate retrieval result set against the
    exact ground truth: per query, |approx ∩ exact| / |exact| — the
    index-quality gate run after every IVF/LSH/PQ (re)build before the
    index serves traffic (FAISS benchmarks report exactly this number).

    Both inputs are top-k frames (query, id) — k-sized per query, so
    every join/aggregate here touches only O(n_queries · k) rows no
    matter how large the corpus behind them was.

    Output: (q_col, n_exact, n_hits, recall).
    """
    e = exact.select(F.col(q_col).alias("_q"), F.col(id_col).alias("_id"))
    a = approx.select(F.col(q_col).alias("_q"), F.col(id_col).alias("_id"))
    base = e.groupBy("_q").agg(F.count(F.lit(1)).alias("n_exact"))
    # both sides are k-sized per query by contract — broadcast so the
    # intersection and the final stitch never sort-merge (plan-audited)
    hits = (
        e.join(F.broadcast(a), ["_q", "_id"])
        .groupBy("_q")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        base.join(F.broadcast(hits), "_q", "left")
        .select(
            F.col("_q").alias(q_col),
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(
                F.expr("CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE)"),
                decimals,
            ).alias("recall"),
        )
    )
