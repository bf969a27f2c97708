"""Graph operators beyond connected components (`dedup.connected_components`):
deterministic fixed-point PageRank over a weighted edge list.

The reference has no graph machinery; this is the iterative-algorithm
family member a corpus/link-analysis pipeline needs (domain authority for
crawl prioritization, citation weighting). Built Spark-first: each
iteration is one equi-join (ranks x edges) + one aggregation — the
standard Pregel-unrolled-to-joins shape. Iterations are a Python loop
over DataFrames, so the plan is a static chain Catalyst sees whole.

Determinism is the design pivot: classic double-precision PageRank sums
contributions in aggregation order, so two engines (or two runs with
different partitioning) disagree in late ulps. Here ranks live in
**fixed-point micro-units** (1e12 = 1.0) with explicit truncating integer
division — every operation is exact int64 arithmetic, so the result is
bit-identical on any engine, any partitioning, any scale. The cost is a
deliberate, documented truncation bias (< num_nodes * iters micro-units,
i.e. < 1e-6 for graphs under ~1e5 nodes at default scale) — the right
trade for a reproducibility-gated pipeline.

Dangling-node mass is not redistributed (their rank leaks, the common
simplified formulation); normalize afterwards if a distribution is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from morphik_core_spark.plans.literal import bounded_collect

__all__ = [
    "pagerank_fixed_point",
    "connected_components_star",
    "triangle_count",
    "k_core",
    "term_cooccurrence_edges",
    "seed_expansion_weights",
]

# 1.0 of rank == 1e12 micro-units; int64 headroom: rank_u * weight must
# stay under 2^63, i.e. per-edge weights up to ~9e6 at full rank
UNIT = 1_000_000_000_000

# triangle_count pulls the canonical edge list of a contract-bounded
# graph to the driver; past this many edges it raises
TRIANGLE_MAX_EDGES = 10_000


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    iterations: int = 3,
    damping_pct: int = 85,
    persist: bool = True,
    collect_max_edges: int | None = None,
) -> DataFrame:
    """PageRank with damping ``damping_pct/100`` for ``iterations`` rounds.

    Output: (node, rank_u, rank) — exact fixed-point micro-units plus a
    display double ``ROUND(rank_u / 1e12, 6)``.

    The node count feeds the teleport term via a 1-row broadcast (no
    driver collect). Per iteration: contributions
    ``(rank_u * w) div out_w`` per edge, summed per destination — one
    join keyed on src, one shuffle keyed on dst. At 100 TB-scale graphs
    the same loop holds; skewed high-in-degree nodes are plain hot
    aggregation keys (map-side combine absorbs them), and the iteration
    count bounds total work.

    ``collect_max_edges`` opts a CONTRACT-BOUNDED graph (a nation/tenant
    dimension graph — NOT a vocabulary or corpus graph) into one collect
    + the identical micro-unit recursion on driver ints: every quantity
    in the loop is already non-negative int64 and Python ``//`` equals
    SQL ``div`` there (the markov_attribution precedent), and the one
    display double still comes from the same Spark ROUND expression over
    the exact rank_u literals, so results are bit-for-bit unchanged.
    Saves iterations x (join + shuffle) stage-jobs; raises if the bound
    is exceeded rather than collecting unboundedly.
    """
    teleport_u = (UNIT * (100 - damping_pct)) // 100
    if collect_max_edges is not None and (
        edges.schema[src_col].dataType != edges.schema[dst_col].dataType
    ):
        # the distributed union would coerce mixed src/dst types; keep
        # that path rather than replicate Spark's coercion table here
        collect_max_edges = None
    if collect_max_edges is not None:
        rows = bounded_collect(
            edges.select(
                F.col(src_col).alias("s"),
                F.col(dst_col).alias("d"),
                F.col(weight_col).cast("bigint").alias("w"),
            ),
            collect_max_edges,
            "pagerank_fixed_point edge list (collect_max_edges)",
        )
        elist = [(r["s"], r["d"], int(r["w"])) for r in rows]
        node_set = {s for s, _, _ in elist} | {d for _, d, _ in elist}
        n_nodes = len(node_set)
        out_w: dict = {}
        for s, _, w in elist:
            out_w[s] = out_w.get(s, 0) + w
        rank_u = {n: UNIT // n_nodes for n in node_set}
        for _ in range(iterations):
            c_sum: dict = {}
            for s, d, w in elist:
                c_sum[d] = c_sum.get(d, 0) + (rank_u[s] * w) // out_w[s]
            rank_u = {
                n: teleport_u // n_nodes + (damping_pct * c_sum.get(n, 0)) // 100
                for n in node_set
            }
        from morphik_core_spark.plans.literal import values_literal_frame

        spark = edges.sparkSession
        out = values_literal_frame(
            spark,
            [
                ("node", edges.schema[src_col].dataType.simpleString()),
                ("rank_u", "bigint"),
            ],
            sorted(rank_u.items()),
        )
        return out.select(
            "node",
            "rank_u",
            F.expr(f"ROUND(CAST(rank_u AS DOUBLE) / {UNIT}.0D, 6)").alias("rank"),
        )
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    n_nodes = nodes.groupBy().agg(F.count(F.lit(1)).alias("n_nodes"))
    out_w = edges.groupBy(src_col).agg(F.sum(weight_col).alias("out_w"))
    weighted = edges.select(
        F.col(src_col).alias("e_src"),
        F.col(dst_col).alias("e_dst"),
        F.col(weight_col).cast("bigint").alias("w"),
    ).join(out_w.select(F.col(src_col).alias("e_src"), "out_w"), "e_src")
    if persist:
        # nodes and the weighted edge list are loop-invariant: without a
        # persist every iteration's join re-derives the (possibly huge)
        # edge aggregation from source (scoped: freed by the caller's
        # next release_scoped())
        from morphik_core_spark.plans.cache import scoped_persist

        nodes = scoped_persist(nodes)
        weighted = scoped_persist(weighted)

    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", F.expr(f"CAST({UNIT} AS BIGINT) div n_nodes").alias("rank_u")
    )
    for _ in range(iterations):
        contribs = (
            ranks.join(weighted, ranks["node"] == weighted["e_src"])
            .select(F.col("e_dst").alias("node"), F.expr("(rank_u * w) div out_w").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c_sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                F.expr(
                    f"CAST({teleport_u} AS BIGINT) div n_nodes + "
                    f"({damping_pct} * coalesce(c_sum, CAST(0 AS BIGINT))) div 100"
                ).alias("rank_u"),
            )
        )
    return ranks.select(
        "node",
        "rank_u",
        F.expr(f"ROUND(CAST(rank_u AS DOUBLE) / {UNIT}.0D, 6)").alias("rank"),
    )


def connected_components_star(
    pairs: DataFrame,
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star (Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond") — the
    high-diameter escape hatch `dedup.connected_components` documents.

    Plain min-label propagation needs diameter-many rounds; the star
    algorithm contracts paths toward each component's minimum in
    O(log^2 n) rounds regardless of diameter (a 1M-hop chain converges
    in ~20 rounds instead of 1M). Near-dup graphs are low-diameter, so
    propagation stays the default; this is for the long-chain shapes
    (citation trails, time-adjacent near-dups) where propagation
    degenerates.

    Each round is two grouped aggregations + joins keyed on node ids;
    convergence = the directed edge set reaching a fixpoint (star edges
    child -> component root), checked by an order-free count+hash
    aggregate. Equivalence with the propagation implementation is
    asserted in tests over random graphs including degenerate chains.
    """
    from morphik_core_spark.plans.cache import scoped_persist

    # read per star round AND by the final all_nodes hydration, which the
    # returned lazy plan re-reads — scoped, not in-function unpersist
    edges = scoped_persist(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.hash("u", "v").cast("long")), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient every edge larger-first: (a > b)
        ab = e.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        ).distinct()
        mins = ab.groupBy("a").agg(F.min("b").alias("m"))
        joined = ab.join(mins, "a")
        relink = joined.filter(F.col("b") != F.col("m")).select(
            F.col("b").alias("u"), F.col("m").alias("v")
        )
        root = mins.select(F.col("a").alias("u"), F.col("m").alias("v"))
        return relink.unionByName(root).filter(F.col("u") != F.col("v")).distinct()

    sig = signature(edges)
    cur = edges
    for _ in range(max_rounds):
        cur = small_star(large_star(cur)).localCheckpoint(eager=True)
        new_sig = signature(cur)
        if new_sig == sig:
            break
        sig = new_sig

    # final edge set is a star: u -> component root; roots label themselves
    members = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    # isolated pairs fully contracted: make sure every original node appears
    all_nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    labeled = members.unionByName(roots).groupBy("node").agg(F.min("component").alias("component"))
    return (
        all_nodes.join(labeled, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle census over an undirected graph — one row:
    (n_nodes, n_edges, n_triangles, n_wedges, global_clustering).

    Input edges may be directed/duplicated/self-looped; one Spark pass
    normalizes them to the canonical undirected edge list (least,
    greatest), which ONE collect pulls to the driver. The census runs
    on plain Python ints: each edge u < v (any consistent order of the
    node ids, whatever their type) adds |adj(u) ∩ adj(v)|, so each
    triangle is seen 3x and divided by 3 with `//` (== SQL `div` on
    non-negative ints). Clustering = 3·triangles / wedges is ONE
    Spark ROUND(·, 6) division over the exact integer literals.

    Driver-bounded: for contract-bounded graphs (a nation/tenant
    dimension graph, never corpus-scale); more than
    ``TRIANGLE_MAX_EDGES`` canonical edges raise.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"),
            F.greatest("a", "b").alias("v"),
        )
        .distinct()
    )
    rows = bounded_collect(
        e, TRIANGLE_MAX_EDGES, "triangle_count canonical edge list (TRIANGLE_MAX_EDGES)"
    )
    adj: dict = {}
    for u, v in rows:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    n_nodes = len(adj)
    n_edges = len(rows)
    n_wedges = sum(d * (d - 1) // 2 for d in (len(s) for s in adj.values()))
    tri3 = sum(len(adj[u] & adj[v]) for u, vs in adj.items() for v in vs if u < v)
    n_triangles = tri3 // 3
    return e.sparkSession.range(1).select(
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.lit(n_triangles).cast("bigint").alias("n_triangles"),
        F.lit(n_wedges).cast("bigint").alias("n_wedges"),
        F.when(
            F.lit(n_wedges) > 0,
            F.round(
                (F.lit(3) * F.lit(n_triangles)).cast("double")
                / F.lit(n_wedges).cast("double"),
                6,
            ),
        ).alias("global_clustering"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node has degree >= k, via iterative peeling — remove all
    nodes below k, recompute degrees, repeat to fixpoint. The community
    -density filter used to strip crawl-graph tendrils and bot chains
    before running expensive per-community work (dedup clusters,
    PageRank) on what remains.

    The iterative-DELETE pattern complements the iterative-PROPAGATE
    family here (connected_components, pagerank): each round is one
    degree aggregate + one semi-join, `localCheckpoint(eager)` per
    round truncates lineage exactly like connected_components, early
    exit when no node was removed. Peeling halves the node set at most
    `max_rounds` times in adversarial chains; real graphs converge in a
    handful of rounds.

    Output: (node, degree) for the surviving subgraph — degrees are
    WITHIN the core, by definition >= k. Input may be directed /
    duplicated / self-looped; normalizes first like triangle_count.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("u").alias("n"))
            .unionByName(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n").localCheckpoint(eager=True)
        n_keep = keep.count()
        n_nodes = deg.count()
        if n_keep == n_nodes:
            return deg.select(F.col("n").alias("node"), F.col("d").alias("degree"))
        if n_keep == 0:
            schema_df = deg.select(
                F.col("n").alias("node"), F.col("d").alias("degree")
            )
            return schema_df.filter(F.lit(False))
        e = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
    # max_rounds exhausted: return the current (possibly non-fixpoint)
    # core candidates honestly rather than looping forever
    deg = (
        e.select(F.col("u").alias("n")).unionByName(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.filter(F.col("d") >= k).select(
        F.col("n").alias("node"), F.col("d").alias("degree")
    )


def term_cooccurrence_edges(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    min_weight: int = 1,
    max_terms_per_doc: int | None = None,
) -> DataFrame:
    """Undirected term co-occurrence edge list: ``(term_a, term_b,
    weight)`` with ``term_a < term_b``, weight = number of documents in
    which both terms appear (presence, not frequency).

    This is the knowledge-graph BUILD step of a GraphRAG pipeline.
    No reference analog in this vintage (knowledge-graph retrieval is
    hosted-tier in morphik; the in-repo trace is the SciER entity-graph
    evaluation corpus under evaluations/) — here "entities" are
    whitespace tokens; a real deployment swaps the tokenizer for an
    NER/model extractor behind the same (doc, term) contract.

    Shape: explode → per-doc DISTINCT term set → within-doc pair join.
    The join is keyed on the doc id, so pair fan-out is |terms|² PER
    DOCUMENT — bounded by ``max_terms_per_doc`` (keep the top-N by
    frequency per doc, ties lexicographic), never by corpus size. One
    groupBy on the (a, b) pair with map-side combine aggregates the
    corpus; edges number at most |vocab|², independent of row count.
    """
    terms = (
        docs.select(
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    if max_terms_per_doc is not None:
        from pyspark.sql import Window

        tf = terms.groupBy("_doc", "term").agg(F.count(F.lit(1)).alias("_tf"))
        w = Window.partitionBy("_doc").orderBy(F.col("_tf").desc(), F.col("term").asc())
        dist = (
            tf.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_terms_per_doc)
            .select("_doc", "term")
        )
    else:
        dist = terms.select("_doc", "term").distinct()
    from morphik_core_spark.plans.cache import scoped_persist

    # both pair-join sides read the distinct (doc, term) set - persist
    # it so the corpus tokenize+distinct runs once
    dist = scoped_persist(dist)
    a = dist.select("_doc", F.col("term").alias("term_a"))
    b = dist.select(F.col("_doc").alias("_doc_b"), F.col("term").alias("term_b"))
    return (
        a.join(b, (F.col("_doc") == F.col("_doc_b")) & (F.col("term_a") < F.col("term_b")))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("weight"))
        .filter(F.col("weight") >= min_weight)
    )


def seed_expansion_weights(
    edges: DataFrame,
    seeds: list[str],
    k: int = 5,
    seed_weight: int = 1000,
) -> DataFrame:
    """Query-time 1-hop graph expansion: from the seed terms, pick the
    top-``k`` co-occurrence neighbors (by summed edge weight to any
    seed; ties lexicographic) and return a term → weight table — seeds
    at ``seed_weight``, neighbors at their integer co-occurrence weight.

    The retrieval-side half of GraphRAG (query entities expand through
    the stored graph before chunk retrieval); the output is
    broadcast-sized by construction (|seeds| + k rows), so the
    downstream document-scoring join is a broadcast hash join whatever
    the corpus size.
    """
    from pyspark.sql import Window

    from morphik_core_spark.plans.cache import scoped_persist

    # vocab^2-bounded edge list consumed by both direction branches -
    # persist so the upstream graph build runs once
    edges = scoped_persist(edges)
    und = edges.select(
        F.col("term_a").alias("t1"), F.col("term_b").alias("t2"), "weight"
    ).unionByName(
        edges.select(
            F.col("term_b").alias("t1"), F.col("term_a").alias("t2"), "weight"
        )
    )
    seed_lit = F.array(*[F.lit(s) for s in seeds])
    nbr = (
        und.filter(F.array_contains(seed_lit, F.col("t1")))
        .filter(~F.array_contains(seed_lit, F.col("t2")))
        .groupBy(F.col("t2").alias("term"))
        .agg(F.sum("weight").alias("wt"))
    )
    w = Window.orderBy(F.col("wt").desc(), F.col("term").asc())
    topk = nbr.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).select("term", "wt")
    from morphik_core_spark.plans.literal import values_literal_frame

    seeds_df = values_literal_frame(
        edges.sparkSession,
        [("term", "string"), ("wt", "bigint")],
        [(s, seed_weight) for s in sorted(set(seeds))],
    )
    return seeds_df.unionByName(topk.select("term", F.col("wt").cast("long")))
