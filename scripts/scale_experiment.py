"""Local 10x scale experiment: synthesize a 10x corpus and measure how
the corpus operators' wall time grows.

The point is the growth EXPONENT, not the absolute numbers: an operator
that is structurally scale-safe grows ~linearly (ratio <= ~10x on 10x
rows, usually much less because fixed overhead dominates locally), and
anything superlinear is a plan bug to chase. Results land in SCALE.md.

Corpus: every sf0.1 document plus nine deterministic perturbed variants
(suffix tokens + word rotation), so near-dup structure EXISTS at 10x
(worst case for dedup families — every doc sits in a 10-clone cluster).
Embeddings are tiled 10x with a deterministic +noise column so ANN /
covariance see genuinely distinct vectors.

Usage: python scripts/scale_experiment.py [--ops dsir,covariance,...]
Prints one JSON line per operator: {op, t_1x, t_10x, ratio}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from morphik_core_spark.session import get_spark
from morphik_core_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def corpus_10x(spark, docs):
    variants = []
    for k in range(10):
        v = docs.select(
            (F.col("doc_id") * 10 + k).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" variant token vt{k}")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        variants.append(v)
    out = variants[0]
    for v in variants[1:]:
        out = out.unionByName(v)
    return out


def emb_10x(emb):
    tiles = []
    for k in range(10):
        tiles.append(
            emb.select(
                (F.col("vec_id") * 10 + k).alias("vec_id"),
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x, i: x + (F.lit(float(k)) * 0.001) * F.cos(i.cast("double")),
                ).alias("embedding"),
                "label",
            )
        )
    out = tiles[0]
    for t in tiles[1:]:
        out = out.unionByName(t)
    return out


def mat(df):
    df.write.format("noop").mode("overwrite").save()


_SPARK = None


def timed(fn) -> float:
    """min-of-2 with the DataFrame cache cleared before every run: several
    operators persist intermediates internally, and without the clear the
    timed runs would measure cache reads, not the operator."""
    fn()  # warm JVM/codegen only
    best = float("inf")
    for _ in range(2):
        _SPARK.catalog.clearCache()
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--ops",
        default="dsir,ppl_buckets,covariance,image_bands,neardup_batch,tfidf,"
        "c4,interval,shards,ctfidf",
    )
    args = ap.parse_args()
    ops = set(args.ops.split(","))

    import tempfile

    spark = get_spark(app_name="scale_experiment")
    global _SPARK
    _SPARK = spark
    docs1 = load_table(spark, "documents", SF_DIR).select("doc_id", "text", "lang", "source", "n_chars")
    emb1 = load_table(spark, "embeddings", SF_DIR)
    # materialize the synthetic corpora to parquet: timings must read a
    # stable on-disk input (clearCache() would otherwise force lazy
    # recomputation of the synthesis inside the measured window)
    tmp = tempfile.mkdtemp(prefix="scale10x_")
    # the synthesized 10x corpora are multi-GB at sf0.1 and nothing else
    # ever deletes them — same orphan class the shard sinks sweep
    import atexit
    import shutil

    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    corpus_10x(spark, docs1).write.mode("overwrite").parquet(os.path.join(tmp, "docs10"))
    emb_10x(emb1).write.mode("overwrite").parquet(os.path.join(tmp, "emb10"))
    docs10 = spark.read.parquet(os.path.join(tmp, "docs10"))
    emb10 = spark.read.parquet(os.path.join(tmp, "emb10"))

    from morphik_core_spark.operators import curation, embedding_stats
    from morphik_core_spark.streaming.neardup import near_dup_batch

    runs = {}
    if "dsir" in ops:
        runs["dsir_weights"] = lambda d: mat(
            curation.dsir_importance_weights(d, "text", "doc_id", F.col("source") == "src1", buckets=512)
        )
    if "ppl_buckets" in ops:
        runs["ppl_buckets"] = lambda d: mat(curation.perplexity_buckets(d, "text", "doc_id", "lang"))
    if "tfidf" in ops:
        def tfidf(d):
            toks = d.filter(F.col("text").isNotNull()).select(
                "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
            )
            tf = toks.groupBy("doc_id", "term").count()
            mat(tf)
        runs["tfidf_tf"] = tfidf
    if "neardup_batch" in ops:
        runs["neardup_batch"] = lambda d: mat(near_dup_batch(d, store=None, text_col="text", id_col="doc_id")[0])
    if "c4" in ops:
        def c4(d):
            relined = d.filter(F.col("text").isNotNull()).select(
                "doc_id", F.regexp_replace("text", " (\\w+ \\w+ \\w+ \\w+ \\w+)", "\n$1.").alias("t")
            )
            mat(curation.c4_line_filters(relined, "t", "doc_id"))
        runs["c4_filters"] = c4
    if "shards" in ops:
        runs["training_shards"] = lambda d: mat(
            curation.training_shards(d, "doc_id", "n_chars", "source", n_shards=64)
        )
    if "ctfidf" in ops:
        from morphik_core_spark.operators.text_analysis import ctfidf_keywords

        runs["ctfidf_keywords"] = lambda d: mat(ctfidf_keywords(d, "text", "lang", top_n=5))
    if "interval" in ops:
        from morphik_core_spark.operators.asof import interval_point_join

        def interval(d):
            iv = d.select(
                (F.col("doc_id") % 100000).alias("lo"),
                ((F.col("doc_id") % 100000) + (F.col("n_chars") % 29)).alias("hi"),
            )
            pts = d.select((F.col("doc_id") % 120000).alias("p")).distinct()
            mat(interval_point_join(pts, iv, "p", "lo", "hi", bucket_width=32))
        runs["interval_join"] = interval
    if "lsh" in ops:
        # round-7 single-shuffle LSH: inline signatures (zero-shuffle) ->
        # groupBy-collect buckets -> in-codegen pair explosion. The 10x
        # corpus is the dedup worst case (every doc in a 10-clone
        # cluster), so the capped-bucket valve is what's being measured.
        from morphik_core_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures_inline,
        )

        def lsh_new(d):
            sigs = minhash_signatures_inline(d, "text", "doc_id", n=3, num_hashes=8)
            mat(lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=2, max_bucket_size=20))
        runs["lsh_pairs_r7"] = lsh_new

        def lsh_carry(d):
            sigs = minhash_signatures_inline(d, "text", "doc_id", n=3, num_hashes=8)
            mh = [f"mh{i}" for i in range(8)]
            mat(
                lsh_candidate_pairs(
                    sigs, "doc_id", bands=4, rows_per_band=2, max_bucket_size=20, carry_cols=mh
                )
            )
        runs["lsh_pairs_r7_carry"] = lsh_carry
    if "mleval7" in ops:
        # round-7 eval/coverage ops. Score frames derive from doc_id +
        # source so the 10x corpus exercises them directly.
        from morphik_core_spark.operators.dedup import portable_hash
        from morphik_core_spark.operators.ml_eval import (
            average_precision,
            brier_score,
            gains_table,
            threshold_sweep,
        )
        from morphik_core_spark.operators.text_analysis import vocab_coverage

        def _scored(d):
            u = (
                portable_hash(F.concat(F.lit("prob:"), F.col("doc_id").cast("string"))) % 1000000
            ).cast("double") / F.lit(1000000.0)
            y = (F.col("source") == "src1").cast("int")
            return d.select(
                "doc_id",
                F.round(F.lit(0.7) * u + F.lit(0.3) * y.cast("double"), 6).alias("score"),
                y.alias("y"),
            )

        runs["pr_auc"] = lambda d: mat(average_precision(_scored(d), "score", "y"))
        runs["brier"] = lambda d: mat(brier_score(_scored(d), "score", "y"))
        runs["gains"] = lambda d: mat(gains_table(_scored(d), "score", "y", "doc_id"))
        runs["thresholds"] = lambda d: mat(threshold_sweep(_scored(d), "score", "y"))
        runs["vocab_coverage"] = lambda d: mat(vocab_coverage(d, "text", n=3))
    if "curation7" in ops:
        from morphik_core_spark.operators.curation import length_matching, quality_ensemble

        runs["quality_ensemble"] = lambda d: mat(quality_ensemble(d, "text", "doc_id", k=20))
        runs["length_matching"] = lambda d: mat(length_matching(d, "doc_id", "n_chars"))
    if "gapfill" in ops:
        from morphik_core_spark.operators.analytics import gap_fill_series

        def gapfill(d):
            # per-source char-bucket series with natural holes
            series = d.groupBy(
                "source", (F.col("n_chars") % 977).alias("i")
            ).agg(F.count(F.lit(1)).alias("v"))
            mat(gap_fill_series(series, "source", "i", "v"))
        runs["gap_fill"] = gapfill

        from morphik_core_spark.operators.analytics import seasonal_decompose

        def seasonal(d):
            series = d.groupBy((F.col("doc_id") % 3650).alias("di")).agg(
                F.count(F.lit(1)).alias("y")
            )
            mat(seasonal_decompose(series, "di", "y", period=7))
        runs["seasonal_decompose"] = seasonal

        from morphik_core_spark.operators.analytics import weighted_quantiles

        def wq(d):
            rows = d.select(
                "source", (F.col("n_chars") % 997).cast("double").alias("v"),
                (1 + F.col("doc_id") % 5).cast("double").alias("w"),
            )
            mat(weighted_quantiles(rows, "source", "v", "w"))
        runs["weighted_quantiles"] = wq

        from morphik_core_spark.operators.analytics import neyman_allocation

        def neyman(d):
            rows = d.select("source", F.col("n_chars").cast("double").alias("v"))
            mat(neyman_allocation(rows, "source", "v", budget=1000))
        runs["neyman_allocation"] = neyman
    if "ols" in ops:
        from morphik_core_spark.operators.analytics import grouped_ols

        def ols(d):
            j = d.select(
                "source",
                F.expr("CAST(ROUND(ln(CAST(n_chars AS DOUBLE)) * 1000000.0) AS BIGINT)").alias("lx"),
                F.expr(
                    "CAST(ROUND(ln(CAST(length(text) + 1 AS DOUBLE)) * 1000000.0) AS BIGINT)"
                ).alias("ly"),
            )
            mat(grouped_ols(j, "source", "lx", "ly"))
        runs["grouped_ols"] = ols

    out = []
    for name, fn in runs.items():
        t1 = timed(lambda: fn(docs1))
        t10 = timed(lambda: fn(docs10))
        out.append({"op": name, "t_1x": t1, "t_10x": t10, "ratio": round(t10 / t1, 2)})
        print(json.dumps(out[-1]))

    def report(name, fn, in1, in10):
        t1 = timed(lambda: fn(in1))
        t10 = timed(lambda: fn(in10))
        print(json.dumps({"op": name, "t_1x": t1, "t_10x": t10, "ratio": round(t10 / t1, 2)}))

    if "audits" in ops:
        # this session's corpus-audit batch. Events tile 10x with shifted
        # ids/timestamps (window + lag structure preserved per user);
        # parts tile 10x with perturbed price so the skyline's
        # distinct-cost set actually grows.
        from morphik_core_spark.operators.analytics import (
            pareto_frontier_2d,
            transition_counts,
        )
        from morphik_core_spark.operators.sessions import keep_first_per_window
        from morphik_core_spark.operators.similarity import sq8_reconstruction_error
        from morphik_core_spark.operators.text_analysis import ngram_diversity, zipf_slope
        from morphik_core_spark.pipeline import curation_funnel

        ev1 = load_table(spark, "events", SF_DIR)
        ev_tiles = [
            ev1.select(
                (F.col("event_id") * 10 + k).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                (F.col("user_id") * 10 + k).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            for k in range(10)
        ]
        ev10_df = ev_tiles[0]
        for t in ev_tiles[1:]:
            ev10_df = ev10_df.unionByName(t)
        ev10_p = os.path.join(tmp, "ev10")
        ev10_df.write.mode("overwrite").parquet(ev10_p)
        ev10 = spark.read.parquet(ev10_p)

        part1 = load_table(spark, "part", SF_DIR).select(
            "p_partkey", "p_retailprice", "p_size"
        )
        pt_tiles = [
            part1.select(
                (F.col("p_partkey") * 10 + k).alias("p_partkey"),
                (F.col("p_retailprice") + k * 0.013).alias("p_retailprice"),
                "p_size",
            )
            for k in range(10)
        ]
        part10_df = pt_tiles[0]
        for t in pt_tiles[1:]:
            part10_df = part10_df.unionByName(t)
        part10_p = os.path.join(tmp, "part10")
        part10_df.write.mode("overwrite").parquet(part10_p)
        part10 = spark.read.parquet(part10_p)

        report(
            "ngram_diversity",
            lambda d: mat(ngram_diversity(d, "text", "source")),
            docs1,
            docs10,
        )
        report(
            "zipf_slope", lambda d: mat(zipf_slope(d, "text", "source")), docs1, docs10
        )
        report(
            "curation_funnel",
            lambda d: mat(curation_funnel(d, lang_col="lang")),
            docs1,
            docs10,
        )
        report(
            "transition_counts",
            lambda e: mat(transition_counts(e, "user_id", "ts", "event_type", "event_id")),
            ev1,
            ev10,
        )
        report(
            "keep_first_per_window",
            lambda e: mat(
                keep_first_per_window(e, ["user_id", "event_type"], "ts", "event_id", 3600)
            ),
            ev1,
            ev10,
        )
        report(
            "pareto_frontier",
            lambda p: mat(pareto_frontier_2d(p, "p_retailprice", "p_size")),
            part1,
            part10,
        )
        report(
            "sq8_reconstruction_error",
            lambda e: mat(sq8_reconstruction_error(e, dims=64)),
            emb1,
            emb10,
        )

        from morphik_core_spark.operators.curation import length_bucketing
        from morphik_core_spark.operators.embedding_stats import centroid_confusion
        from morphik_core_spark.streaming.neardup import doc_band_keys, near_dup_batch

        report(
            "length_bucketing",
            lambda d: mat(length_bucketing(d, "text", "doc_id", buckets=(16, 32, 64))),
            docs1,
            docs10,
        )

        def incr_neardup(d):
            new = d.filter(F.col("doc_id") % 5 == 0)
            old = d.filter(F.col("doc_id") % 5 != 0)
            store = doc_band_keys(old, "text", "doc_id").select("band", "key")
            kept, _ = near_dup_batch(new, store, "text", "doc_id")
            mat(kept)

        report("incremental_neardup", incr_neardup, docs1, docs10)
        report(
            "centroid_confusion",
            lambda e: mat(centroid_confusion(e, dims=64)),
            emb1,
            emb10,
        )

    if "entity" in ops:
        # Entity resolution at 10x: the DISTINCT-NAME table must grow
        # with the corpus for the experiment to mean anything (the raw
        # testdata p_name pool is only ~64 values — exact collapse makes
        # that trivially flat). Mirror the production query's shape:
        # every record also emits a dirty one-char-dropped twin, and the
        # 10x corpus synthesizes ten name variants per base record with
        # distinct entity words (levenshtein > 2 apart), so distinct
        # names, blocks, and the in-block candidate join all scale ~10x
        # while true-merge structure (clean+dirty twins) is preserved.
        from morphik_core_spark.operators import dedup as _dedup

        def entity(records):
            names = records.groupBy("name").agg(
                F.min("rec_id").alias("name_id"), F.count(F.lit(1)).alias("n_recs")
            )
            blocked = names.withColumn("blk", F.substring("name", 1, 3))
            a = blocked.select("blk", F.col("name_id").alias("id_a"), F.col("name").alias("name_a"))
            b = blocked.select("blk", F.col("name_id").alias("id_b"), F.col("name").alias("name_b"))
            pairs = (
                a.join(b, "blk")
                .filter(F.col("id_a") < F.col("id_b"))
                .filter(F.levenshtein("name_a", "name_b") <= 2)
                .select("id_a", "id_b")
            )
            comp = _dedup.connected_components(pairs)
            mat(names.join(comp, names["name_id"] == comp["node"], "left"))

        part = load_table(spark, "part", SF_DIR)
        words = ["alpha", "bravo", "charlie", "delta", "echo",
                 "foxtrot", "golf", "hotel", "india", "juliet"]

        def with_dirty_twins(base):
            clean = base.select((F.col("rid") * 2).alias("rec_id"), F.col("name"))
            dirty = base.filter(F.col("rid") % 3 == 0).select(
                (F.col("rid") * 2 + 1).alias("rec_id"),
                F.concat(
                    F.expr("substr(name, 1, cast(rid % length(name) as int))"),
                    F.expr("substr(name, cast(rid % length(name) as int) + 2)"),
                ).alias("name"),
            )
            return clean.unionByName(dirty)

        # Name shape: "NNN p_name k" — the leading zero-padded number is
        # the 3-char blocking key, so blocks DISTRIBUTE (~997 of them)
        # instead of collapsing onto the tiny p_name color vocabulary.
        # 10x names then means ~10x rows per block -> in-block candidate
        # pairs grow ~100x per block; this is the honest quadratic story
        # bounded by a realistic blocking key, not a degenerate one.
        def named(rid_col, tag):
            return F.concat(
                F.lpad((rid_col % 997).cast("string"), 3, "0"),
                F.lit(" "), F.col("p_name"), F.lit(" "), tag,
            )

        base1 = part.select(
            F.col("p_partkey").alias("rid"),
            named(F.col("p_partkey"), (F.col("p_partkey") % 1000).cast("string")).alias("name"),
        )
        base10 = None
        for k, w in enumerate(words):
            rid = (F.col("p_partkey") * 10 + k)
            v = part.select(
                rid.alias("rid"),
                named(rid, F.concat(F.lit(f"{w} "), (F.col("p_partkey") % 1000).cast("string"))).alias("name"),
            )
            base10 = v if base10 is None else base10.unionByName(v)
        rec1_p = os.path.join(tmp, "rec1")
        rec10_p = os.path.join(tmp, "rec10")
        with_dirty_twins(base1).write.mode("overwrite").parquet(rec1_p)
        with_dirty_twins(base10).write.mode("overwrite").parquet(rec10_p)
        report(
            "entity_resolution", entity,
            spark.read.parquet(rec1_p), spark.read.parquet(rec10_p),
        )

    if "cdc" in ops:
        from morphik_core_spark.operators.docstore import cdc_apply

        def cdc(d):
            snap = d.select("doc_id", "lang", "source", "n_chars")
            ten = F.col("doc_id") % 10
            changes = (
                snap.filter(ten == 0).withColumn("op", F.lit("D"))
                .unionByName(
                    snap.filter(ten == 1).withColumn("lang", F.lit("xx")).withColumn("op", F.lit("U"))
                )
                .unionByName(
                    snap.filter(ten == 3)
                    .withColumn("doc_id", F.col("doc_id") + 100_000_000)
                    .withColumn("op", F.lit("I"))
                )
            )
            mat(cdc_apply(snap, changes, ["doc_id"]))

        report("cdc_apply", cdc, docs1, docs10)

    if "classifier" in ops:
        from pyspark.sql import functions as FF

        from morphik_core_spark.operators.classifier import (
            logreg_score, logreg_train, quality_features,
        )

        def classifier(d):
            feats = quality_features(FF.col("text"))
            label = (FF.col("doc_id") % 7 == 0).cast("double")
            w = logreg_train(d, feats, label, iterations=3)
            mat(logreg_score(d, feats, w))

        report("quality_classifier", classifier, docs1, docs10)

    if "semdecon" in ops:
        # The benchmark/eval set is FIXED-SIZE in reality (eval suites
        # don't grow with the corpus), so scale the CORPUS side only —
        # pairs then grow linearly with corpus rows. (Scaling both sides
        # 10x measured 8.9x: the quadratic you get if you let the
        # broadcast side grow, which is exactly what the operator's
        # contract says not to do.)
        from morphik_core_spark.operators.similarity import semantic_decontaminate

        emb10_l = spark.read.parquet(os.path.join(tmp, "emb10"))
        bench = emb1.filter(F.col("vec_id") % 97 == 0)

        def semdecon(e):
            corpus = e.filter(F.col("vec_id") % 97 != 0)
            mat(semantic_decontaminate(corpus, bench))

        report("semantic_decontaminate", semdecon, emb1, emb10_l)

    if "pagerank" in ops:
        # 10x the EDGE-BUILD input (lineitem fan-out); the node set (25
        # nations) is constant, so the fixed-point iterations should not
        # move — only the linear edge aggregation should.
        from morphik_core_spark.operators.graph import pagerank_fixed_point

        li1 = load_table(spark, "lineitem", SF_DIR).select("l_orderkey", "l_suppkey")
        orders = load_table(spark, "orders", SF_DIR).select("o_orderkey", "o_custkey")
        cust = load_table(spark, "customer", SF_DIR).select("c_custkey", "c_nationkey")
        supp = load_table(spark, "supplier", SF_DIR).select("s_suppkey", "s_nationkey")
        li10_parts = [li1.select("l_orderkey", "l_suppkey") for _ in range(10)]
        li10 = li10_parts[0]
        for p in li10_parts[1:]:
            li10 = li10.unionByName(p)
        li10_p = os.path.join(tmp, "li10")
        li10.write.mode("overwrite").parquet(li10_p)

        def pagerank(li):
            edges = (
                li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
                .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
                .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
                .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
                .agg(F.count(F.lit(1)).alias("w"))
            )
            mat(pagerank_fixed_point(edges, "src", "dst", "w", iterations=3))

        report("nation_pagerank", pagerank, li1, spark.read.parquet(li10_p))

    if "covariance" in ops:
        def cov(e):
            mat(embedding_stats.covariance_sums(e, dims=64))
        t1 = timed(lambda: cov(emb1))
        t10 = timed(lambda: cov(emb10))
        print(json.dumps({"op": "embedding_covariance", "t_1x": t1, "t_10x": t10, "ratio": round(t10 / t1, 2)}))

    if "tpch" in ops:
        # TPC-H shape family on a 10x-tiled lineitem with FIXED dims —
        # the realistic axis (facts grow, dimensions don't). Four
        # representative plans: Q5 (multi-join, every dim broadcast),
        # Q21 aggregation form (per-order countDistincts), Q11
        # (global-scalar HAVING via one-row broadcast), Q19 (disjunctive
        # predicate residual after a broadcast join). Each twin mirrors
        # the __spark_entry__ query but takes the fact as a parameter.
        li1 = load_table(spark, "lineitem", SF_DIR)
        li10_parts = [li1 for _ in range(10)]
        li10 = li10_parts[0]
        for p in li10_parts[1:]:
            li10 = li10.unionByName(p)
        li10_p = os.path.join(tmp, "li10_tpch")
        li10.write.mode("overwrite").parquet(li10_p)
        li10 = spark.read.parquet(li10_p)

        orders = load_table(spark, "orders", SF_DIR)
        cust = load_table(spark, "customer", SF_DIR)
        supp = load_table(spark, "supplier", SF_DIR)
        nation = load_table(spark, "nation", SF_DIR)
        region = load_table(spark, "region", SF_DIR)
        part = load_table(spark, "part", SF_DIR)
        dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
        disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))

        def q5(li):
            asia = nation.join(
                F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                nation["n_regionkey"] == region["r_regionkey"],
            ).select("n_nationkey", "n_name")
            o96 = orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-01-01"))
            )
            joined = (
                li.join(o96, li["l_orderkey"] == o96["o_orderkey"])
                .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
                .join(F.broadcast(asia), supp["s_nationkey"] == asia["n_nationkey"])
                .join(
                    F.broadcast(cust),
                    (o96["o_custkey"] == cust["c_custkey"])
                    & (supp["s_nationkey"] == cust["c_nationkey"]),
                )
            )
            mat(
                joined.groupBy("n_name").agg(
                    F.round(F.sum(disc_price).cast("double"), 4).alias("revenue")
                )
            )

        def q21(li):
            fo = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
            late = (
                li.join(fo, li["l_orderkey"] == fo["o_orderkey"])
                .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
                .select("l_orderkey", "l_suppkey")
            )
            ostats = li.groupBy("l_orderkey").agg(F.countDistinct("l_suppkey").alias("n_supp"))
            lstats = late.groupBy("l_orderkey").agg(
                F.countDistinct("l_suppkey").alias("n_late_supp")
            )
            sole = (
                late.join(ostats, "l_orderkey")
                .join(lstats, "l_orderkey")
                .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
            )
            mat(
                sole.join(F.broadcast(supp), sole["l_suppkey"] == supp["s_suppkey"])
                .groupBy("s_name")
                .agg(F.count(F.lit(1)).alias("numwait"))
            )

        def q11(li):
            supp5 = supp.filter(F.col("s_nationkey") < 5).select("s_suppkey")
            vals = (
                li.join(F.broadcast(supp5), li["l_suppkey"] == supp5["s_suppkey"])
                .groupBy("l_partkey")
                .agg(F.sum(disc_price).alias("val_dec"))
            )
            tot = vals.agg(F.sum("val_dec").alias("tot_dec"))
            mat(
                vals.crossJoin(F.broadcast(tot)).filter(
                    F.col("val_dec").cast("double")
                    > F.col("tot_dec").cast("double") * 0.001
                )
            )

        def q19(li):
            pred = (
                (
                    (F.col("p_brand") == "Brand#1")
                    & F.col("p_size").between(1, 10)
                    & F.col("l_quantity").between(1, 20)
                )
                | (
                    (F.col("p_brand") == "Brand#2")
                    & F.col("p_size").between(5, 25)
                    & F.col("l_quantity").between(5, 30)
                )
                | (
                    (F.col("p_brand") == "Brand#3")
                    & F.col("p_size").between(10, 40)
                    & F.col("l_quantity").between(10, 40)
                )
            )
            mat(
                li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
                .filter(pred)
                .agg(F.round(F.sum(disc_price).cast("double"), 4).alias("revenue"))
            )

        report("tpch_q5_volume", q5, li1, li10)
        report("tpch_q21_aggform", q21, li1, li10)
        report("tpch_q11_scalar", q11, li1, li10)
        report("tpch_q19_disjunct", q19, li1, li10)

    if "r5ext" in ops:
        # Round-5 additions: validation suite (one agg pass), golden
        # record (melt + 2 keyed shuffles; the 10x corpus IS 10 variants
        # per base doc, so entities deepen 1 -> 10 records — the
        # adversarial axis for survivorship), skew histogram, URL
        # canonicalization (pure map), incremental state merge, and
        # touch attribution on 10x-deep user windows.
        from morphik_core_spark.operators.analytics import touch_attribution
        from morphik_core_spark.operators.dedup import golden_record
        from morphik_core_spark.operators.incremental import agg_state, merge_agg_states
        from morphik_core_spark.operators.validation import validation_suite
        from morphik_core_spark.plans.stats import key_skew_histogram

        def validate(d):
            mat(
                validation_suite(
                    d,
                    completeness_cols=["doc_id", "text", "lang"],
                    unique_cols=["doc_id"],
                    numeric_cols=["n_chars"],
                    length_cols=["text"],
                    in_set={"lang": ["en", "de", "fr"]},
                    min_completeness={"text": 0.999},
                    numeric_range={"n_chars": (1.0, 1e6)},
                )
            )

        def golden(d):
            recs = d.select(
                (F.col("doc_id") / 10).cast("bigint").alias("entity"),
                "lang",
                "source",
                F.split(F.col("text"), " ").getItem(0).alias("firstword"),
            )
            mat(golden_record(recs, "entity", ["lang", "source", "firstword"]))

        def skew(d):
            mat(key_skew_histogram(d, ["source"]))

        def urlcanon(d):
            from morphik_core_spark.operators.curation import url_canonicalize

            u = d.withColumn(
                "url",
                F.concat(
                    F.lit("HTTP://WWW."),
                    F.col("source"),
                    F.lit(".Example.CO.UK:80/Doc/"),
                    F.col("doc_id"),
                    F.lit("?utm_source=x&b=2&a=1#f"),
                ),
            )
            mat(url_canonicalize(u, "url", "doc_id"))

        def increment(d):
            keys = ["lang", "source"]
            old = agg_state(d.filter(F.col("doc_id") % 2 == 0), keys, {"nc": "n_chars"})
            delta = agg_state(d.filter(F.col("doc_id") % 2 == 1), keys, {"nc": "n_chars"})
            mat(merge_agg_states([old, delta], keys))

        report("validation_suite", validate, docs1, docs10)
        report("golden_record", golden, docs1, docs10)
        report("key_skew_histogram", skew, docs1, docs10)
        report("url_canonicalize", urlcanon, docs1, docs10)
        report("incremental_merge", increment, docs1, docs10)

        ev1 = load_table(spark, "events", SF_DIR)
        tiles = []
        for k in range(10):
            tiles.append(
                ev1.select(
                    (F.col("event_id") * 10 + k).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                    "user_id",
                    "event_type",
                    "value",
                )
            )
        ev10 = tiles[0]
        for t in tiles[1:]:
            ev10 = ev10.unionByName(t)
        ev10_p = os.path.join(tmp, "ev10")
        ev10.write.mode("overwrite").parquet(ev10_p)
        ev10 = spark.read.parquet(ev10_p)
        ev1s = ev1.select("event_id", "ts", "user_id", "event_type", "value")

        def attrib(e):
            mat(
                touch_attribution(
                    e, "user_id", "ts", "event_type", "value", "purchase", "event_id"
                )
            )

        report("touch_attribution", attrib, ev1s, ev10)

        from morphik_core_spark.operators.asof import asof_backward, asof_nearest

        def asof_b(e):
            probes = e.filter(F.col("event_type") == "error").select(
                "event_id", "user_id", "ts"
            )
            series = e.filter(F.col("event_type") == "signup").select("user_id", "ts")
            mat(asof_backward(probes, series, key="user_id"))

        def asof_n(e):
            probes = e.filter(F.col("event_type") == "error").select(
                "event_id", "user_id", "ts"
            )
            series = e.filter(F.col("event_type") == "signup").select("user_id", "ts")
            mat(asof_nearest(probes, series, key="user_id"))

        report("asof_backward", asof_b, ev1s, ev10)
        report("asof_nearest", asof_n, ev1s, ev10)

    if "r5b" in ops:
        # Late round-5 batch: PSI drift (bin-level shuffles only),
        # basket lift (capped pair join — the 10x axis multiplies
        # baskets, not basket size), debounce (one lag window over
        # 10x-deep keys), readability + script mix (pure maps).
        from morphik_core_spark.operators.analytics import (
            basket_lift,
            population_stability,
        )
        from morphik_core_spark.operators.sessions import debounce_events
        from morphik_core_spark.operators.text_analysis import readability, script_mix

        ev1 = load_table(spark, "events", SF_DIR).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        tiles = []
        for k in range(10):
            tiles.append(
                ev1.select(
                    (F.col("event_id") * 10 + k).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                    (F.col("user_id") * 10 + k).alias("user_id"),
                    "event_type",
                    "value",
                    "props",
                )
            )
        ev10 = tiles[0]
        for t in tiles[1:]:
            ev10 = ev10.unionByName(t)
        ev10_p = os.path.join(tmp, "ev10b")
        ev10.write.mode("overwrite").parquet(ev10_p)
        ev10 = spark.read.parquet(ev10_p)

        def psi(e):
            binned = e.filter(F.col("value").isNotNull()).select(
                "event_type",
                F.expr("unix_micros(`ts`)").alias("us"),
                F.expr("CAST(floor(value / 25.0) AS BIGINT)").alias("vbin"),
            )
            cut = 1705276800000000
            mat(
                population_stability(
                    binned.filter(F.col("us") < cut),
                    binned.filter(F.col("us") >= cut),
                    ["event_type"],
                    "vbin",
                )
            )

        def basket(e):
            items = e.filter(F.col("event_type") == "purchase").select(
                "user_id",
                F.expr("CAST(get_json_object(props, '$.k') AS INT) div 10").alias("item"),
            ).filter(F.col("item").isNotNull())
            mat(basket_lift(items, "user_id", "item", min_support=5, max_items_per_group=9))

        def debounce(e):
            mat(
                debounce_events(
                    e, ["user_id", "event_type"], "ts", 43200, tiebreak_col="event_id"
                )
            )

        report("drift_psi", psi, ev1, ev10)
        report("basket_lift", basket, ev1, ev10)
        report("debounce", debounce, ev1, ev10)

        def read_q(d):
            mat(readability(d, "text", "doc_id"))

        def script_q(d):
            mat(script_mix(d, "text", "doc_id"))

        report("readability", read_q, docs1, docs10)
        report("script_mix", script_q, docs1, docs10)

    if "r5c" in ops:
        # Final round-5 batch: k-core peeling (10x edges), decayed
        # trending counts, RRF fusion (candidate lists stay k-sized —
        # the corpus only feeds the two rankers).
        from morphik_core_spark.operators.analytics import decayed_counts
        from morphik_core_spark.operators.graph import k_core

        ev1 = load_table(spark, "events", SF_DIR).select("event_id", "ts", "event_type", "props")
        tiles = [
            ev1.select(
                (F.col("event_id") * 10 + k).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                "event_type",
                "props",
            )
            for k in range(10)
        ]
        ev10 = tiles[0]
        for t in tiles[1:]:
            ev10 = ev10.unionByName(t)
        ev10_p = os.path.join(tmp, "ev10c")
        ev10.write.mode("overwrite").parquet(ev10_p)
        ev10 = spark.read.parquet(ev10_p)

        def trend(e):
            items = e.select(
                "event_type",
                F.expr("CAST(get_json_object(props, '$.k') AS INT) div 20").alias("item"),
                "ts",
            ).filter(F.col("item").isNotNull())
            mat(decayed_counts(items, ["event_type", "item"], "ts"))

        report("trending_items", trend, ev1, ev10)

        li1 = load_table(spark, "lineitem", SF_DIR)
        pairs1 = li1.select(
            (F.col("l_partkey") % 2000).alias("src"),
            (F.col("l_suppkey") % 2000).alias("dst"),
        ).distinct()
        p1 = os.path.join(tmp, "kc1")
        pairs1.write.mode("overwrite").parquet(p1)
        pairs1 = spark.read.parquet(p1)
        ktiles = [
            pairs1.select(
                (F.col("src") * 10 + k).alias("src"),
                (F.col("dst") * 10 + ((k + F.col("dst")) % 10)).alias("dst"),
            )
            for k in range(10)
        ]
        pairs10 = ktiles[0]
        for t in ktiles[1:]:
            pairs10 = pairs10.unionByName(t)
        p10 = os.path.join(tmp, "kc10")
        pairs10.write.mode("overwrite").parquet(p10)
        pairs10 = spark.read.parquet(p10)

        def kcore(e):
            mat(k_core(e, 3))

        report("k_core", kcore, pairs1, pairs10)

    if "gov" in ops:
        # Governance/experimentation batch: k-anonymity (10x customers
        # deepen every equivalence class), Benford (10x prices), WOE/IV
        # (10x orders), switchback A/B (10x user-days), and MMR over a
        # 10x embedding corpus (the candidate SCORING pass scales with
        # the corpus; the greedy loop stays k x fan-in).
        from morphik_core_spark.functions.vectors import retrieval_score
        from morphik_core_spark.operators.analytics import ab_test_summary
        from morphik_core_spark.operators.curation import woe_iv
        from morphik_core_spark.operators.dedup import portable_hash
        from morphik_core_spark.operators.rerank import mmr_diversify
        from morphik_core_spark.operators.validation import (
            benford_audit,
            k_anonymity_audit,
        )
        from pyspark.sql import Window

        cust1 = load_table(spark, "customer", SF_DIR).select(
            "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
        )
        ctiles = [
            cust1.select(
                (F.col("c_custkey") * 10 + k).alias("c_custkey"),
                "c_nationkey", "c_mktsegment", "c_acctbal",
            )
            for k in range(10)
        ]
        cust10 = ctiles[0]
        for t in ctiles[1:]:
            cust10 = cust10.unionByName(t)
        c10_p = os.path.join(tmp, "cust10")
        cust10.write.mode("overwrite").parquet(c10_p)
        cust10 = spark.read.parquet(c10_p)

        def kanon(c):
            qi = c.select(
                "c_nationkey", "c_mktsegment",
                F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0)).alias("band"),
                (F.col("c_custkey") % 7).alias("sens"),
            )
            mat(k_anonymity_audit(qi, ["c_nationkey", "c_mktsegment", "band"], "sens", k=5))

        report("k_anonymity", kanon, cust1, cust10)

        li1g = load_table(spark, "lineitem", SF_DIR).select("l_returnflag", "l_extendedprice")
        ltiles = [
            li1g.select("l_returnflag", (F.col("l_extendedprice") + k * 0.07).alias("l_extendedprice"))
            for k in range(10)
        ]
        li10 = ltiles[0]
        for t in ltiles[1:]:
            li10 = li10.unionByName(t)
        l10_p = os.path.join(tmp, "li10gov")
        li10.write.mode("overwrite").parquet(l10_p)
        li10 = spark.read.parquet(l10_p)
        report(
            "benford_audit",
            lambda d: mat(benford_audit(d, "l_extendedprice", ["l_returnflag"])),
            li1g,
            li10,
        )

        ord1 = load_table(spark, "orders", SF_DIR).select("o_orderkey", "o_orderpriority", "o_orderstatus")
        otiles = [
            ord1.select((F.col("o_orderkey") * 10 + k).alias("o_orderkey"), "o_orderpriority", "o_orderstatus")
            for k in range(10)
        ]
        ord10 = otiles[0]
        for t in otiles[1:]:
            ord10 = ord10.unionByName(t)
        o10_p = os.path.join(tmp, "ord10gov")
        ord10.write.mode("overwrite").parquet(o10_p)
        ord10 = spark.read.parquet(o10_p)

        def woe(d):
            mat(woe_iv(d.withColumn("y", (F.col("o_orderstatus") == "F").cast("int")), "o_orderpriority", "y"))

        report("woe_iv", woe, ord1, ord10)

        ev1g = load_table(spark, "events", SF_DIR).select("user_id", "ts", "event_type")
        gtiles = [
            ev1g.select((F.col("user_id") * 10 + k).alias("user_id"), "ts", "event_type")
            for k in range(10)
        ]
        ev10g = gtiles[0]
        for t in gtiles[1:]:
            ev10g = ev10g.unionByName(t)
        e10_pg = os.path.join(tmp, "ev10gov")
        ev10g.write.mode("overwrite").parquet(e10_pg)
        ev10g = spark.read.parquet(e10_pg)

        def ab(e):
            day = F.expr("unix_micros(ts) div 86400000000")
            unit = F.concat(F.col("user_id").cast("string"), F.lit(":"), day.cast("string"))
            units = (
                e.select(unit.alias("unit"), (F.col("event_type") == "purchase").cast("int").alias("p"))
                .groupBy("unit").agg(F.max("p").alias("bc"))
            )
            b = portable_hash(F.concat(F.lit("ab:"), F.col("unit"))) % 3
            assigned = units.select(
                "unit",
                F.when(b == 0, F.lit("control")).when(b == 1, F.lit("a")).otherwise(F.lit("b")).alias("variant"),
                (F.col("bc") == 1).alias("conv"),
            )
            mat(ab_test_summary(assigned, "variant", "unit", "conv"))

        report("ab_test", ab, ev1g, ev10g)

        def mmr(e):
            probes = e.filter(F.col("vec_id") < 3).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("qv")
            )
            scored = (
                e.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
                .crossJoin(F.broadcast(probes))
                .filter(F.col("vec_id") != F.col("q_id"))
                .select("q_id", "vec_id", F.round(retrieval_score(F.col("vec"), F.col("qv")), 6).alias("score"), "vec")
            )
            w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
            cands = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 12)
            mat(mmr_diversify(cands, "q_id", "vec_id", "score", "vec", lam=0.5, k=3))

        report("mmr_diversify", mmr, emb1, emb10)

    if "mleval" in ops:
        from morphik_core_spark.operators.classifier import fast_sigmoid
        from morphik_core_spark.operators.dedup import portable_hash
        from morphik_core_spark.operators.ml_eval import (
            auc_roc,
            calibration_bins,
            cohens_kappa,
        )

        def scored(d):
            z = F.expr("(CAST(n_chars AS DOUBLE) - 298.0D) / 100.0D")
            return d.select(
                F.round(fast_sigmoid(z), 6).alias("score"),
                (F.col("source") == "src1").cast("int").alias("y"),
            )

        report("auc_roc", lambda d: mat(auc_roc(scored(d), "score", "y")), docs1, docs10)
        report(
            "calibration_bins",
            lambda d: mat(calibration_bins(scored(d), "score", "y")),
            docs1,
            docs10,
        )

        def kappa(d):
            nxt = F.concat(F.lit("x"), F.col("lang"))
            keep = portable_hash(F.concat(F.lit("r:"), F.col("doc_id").cast("string"))) % 10 < 7
            rated = d.select("lang", F.when(keep, F.col("lang")).otherwise(nxt).alias("b"))
            mat(cohens_kappa(rated, "lang", "b"))

        report("cohens_kappa", kappa, docs1, docs10)

    if "tsqa" in ops:
        # ACF/CUSUM scale with the FACT scan feeding the daily rollup
        # (the series itself stays 30 rows); ann_recall scales with the
        # candidate scoring side.
        from morphik_core_spark.operators.analytics import autocorrelation, cusum_screen
        from morphik_core_spark.operators.similarity import (
            knn_brute_force,
            knn_ivf,
            recall_at_k,
        )

        ev1t = load_table(spark, "events", SF_DIR).select("event_id", "ts")
        ttiles = [
            ev1t.select((F.col("event_id") * 10 + k).alias("event_id"), "ts")
            for k in range(10)
        ]
        ev10t = ttiles[0]
        for t in ttiles[1:]:
            ev10t = ev10t.unionByName(t)
        t10_p = os.path.join(tmp, "ev10ts")
        ev10t.write.mode("overwrite").parquet(t10_p)
        ev10t = spark.read.parquet(t10_p)

        def daily(e):
            return e.groupBy(F.expr("unix_micros(ts) div 86400000000").alias("di")).agg(
                F.count(F.lit(1)).alias("x")
            )

        report("acf_daily", lambda e: mat(autocorrelation(daily(e), "di", "x", 7)), ev1t, ev10t)
        report("cusum_screen", lambda e: mat(cusum_screen(daily(e), "di", "x")), ev1t, ev10t)

        cents = [
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in emb1.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 8))
            .orderBy("vec_id").collect()
        ]

        def rec(e):
            qdf = e.filter(F.col("vec_id") < 3).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("qv")
            )
            ex = knn_brute_force(e, qdf, k=10)
            ap = knn_ivf(e, cents, qdf, k=10, n_probes=2)
            mat(recall_at_k(ex, ap))

        report("ann_recall", rec, emb1, emb10)

    if "dist" in ops:
        # Distribution audits: KS/Gini windows run over DISTINCT value
        # grids; forecast backtest over the 30-row daily series. The 10x
        # corpora grow the scan + per-value counts, not the windows.
        from morphik_core_spark.operators.analytics import (
            forecast_backtest,
            ks_statistic,
            lorenz_gini,
        )

        ord1d = load_table(spark, "orders", SF_DIR).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_custkey")
        dtiles = [
            ord1d.select((F.col("o_orderkey") * 10 + k).alias("o_orderkey"), "o_orderstatus",
                         (F.col("o_totalprice") + k * 0.01).alias("o_totalprice"),
                         (F.col("o_custkey") * 10 + k).alias("o_custkey"))
            for k in range(10)
        ]
        ord10d = dtiles[0]
        for t in dtiles[1:]:
            ord10d = ord10d.unionByName(t)
        od_p = os.path.join(tmp, "ord10dist")
        ord10d.write.mode("overwrite").parquet(od_p)
        ord10d = spark.read.parquet(od_p)

        def ks(o):
            c = o.select("o_orderstatus", F.expr("CAST(o_totalprice * 100 AS BIGINT)").alias("v"))
            mat(ks_statistic(c.filter(F.col("o_orderstatus") == "F"),
                             c.filter(F.col("o_orderstatus") == "O"), "v"))

        report("ks_statistic", ks, ord1d, ord10d)

        def gini(o):
            pc = o.groupBy("o_custkey").agg(
                F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)").alias("v")
            )
            mat(lorenz_gini(pc, "v"))

        report("lorenz_gini", gini, ord1d, ord10d)

        from morphik_core_spark.operators.analytics import mad_outliers

        def madop(o):
            c = o.select("o_orderstatus",
                         F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("v"))
            mat(mad_outliers(c, "o_orderstatus", "v"))

        report("mad_outliers", madop, ord1d, ord10d)

        ev1f = load_table(spark, "events", SF_DIR).select("event_id", "ts")
        ftiles = [ev1f.select((F.col("event_id") * 10 + k).alias("event_id"), "ts") for k in range(10)]
        ev10f = ftiles[0]
        for t in ftiles[1:]:
            ev10f = ev10f.unionByName(t)
        ef_p = os.path.join(tmp, "ev10dist")
        ev10f.write.mode("overwrite").parquet(ef_p)
        ev10f = spark.read.parquet(ef_p)

        def bt(e):
            daily = e.groupBy(F.expr("unix_micros(ts) div 86400000000").alias("di")).agg(
                F.count(F.lit(1)).alias("x"))
            mat(forecast_backtest(daily, "di", "x", season=7))

        report("forecast_backtest", bt, ev1f, ev10f)

    if "exp" in ops:
        # CUPED moments ride the unit collapse; KM windows run over the
        # distinct-duration grid (10 values here no matter the corpus).
        from morphik_core_spark.operators.analytics import cuped_adjust, survival_curve
        from morphik_core_spark.operators.dedup import portable_hash

        ev1e = load_table(spark, "events", SF_DIR).select("user_id", "ts", "event_type", "event_id")
        etiles2 = [
            ev1e.select((F.col("user_id") * 10 + k).alias("user_id"), "ts", "event_type",
                        (F.col("event_id") * 10 + k).alias("event_id"))
            for k in range(10)
        ]
        ev10e = etiles2[0]
        for t in etiles2[1:]:
            ev10e = ev10e.unionByName(t)
        ee_p = os.path.join(tmp, "ev10exp")
        ev10e.write.mode("overwrite").parquet(ee_p)
        ev10e = spark.read.parquet(ee_p)

        def cuped(e):
            day = F.expr("unix_micros(ts) div 86400000000")
            unit = F.concat(F.col("user_id").cast("string"), F.lit(":"), day.cast("string"))
            units = (
                e.select(unit.alias("unit"), (F.col("event_type") == "purchase").cast("int").alias("p"))
                .groupBy("unit").agg(F.sum("p").alias("y"), F.count(F.lit(1)).alias("x"))
            )
            b = portable_hash(F.concat(F.lit("ab:"), F.col("unit"))) % 3
            assigned = units.select(
                F.when(b == 0, F.lit("c")).when(b == 1, F.lit("a")).otherwise(F.lit("b")).alias("variant"),
                "y", "x")
            mat(cuped_adjust(assigned, "variant", "y", "x"))

        report("cuped_adjust", cuped, ev1e, ev10e)

        def km(e):
            from pyspark.sql import Window as W
            us = F.expr("unix_micros(ts)")
            worder = W.partitionBy("user_id").orderBy("ts", "event_id")
            new_s = (F.lag(us).over(worder).isNull() | ((us - F.lag(us).over(worder)) > 21600000000)).cast("int")
            sid = F.sum(new_s).over(worder.rowsBetween(W.unboundedPreceding, W.currentRow))
            ses = (e.select("user_id", "event_id", "ts", sid.alias("sid"))
                   .groupBy("user_id", "sid")
                   .agg(F.count(F.lit(1)).alias("n_ev"), F.max(F.expr("unix_micros(ts)")).alias("last_us")))
            mx = e.agg(F.max(F.expr("unix_micros(ts)")).alias("_m"))
            subj = ses.join(F.broadcast(mx)).select(
                F.col("n_ev").alias("dur"),
                F.when(F.col("_m") - F.col("last_us") < 86400000000, F.lit(0)).otherwise(F.lit(1)).alias("ev"))
            mat(survival_curve(subj, "dur", "ev"))

        report("survival_curve", km, ev1e, ev10e)

    if "drift" in ops:
        from morphik_core_spark.operators.curation import grouped_split, temporal_split
        from morphik_core_spark.operators.text_analysis import novelty_rate, vocab_jsd

        report(
            "vocab_jsd",
            lambda d: mat(vocab_jsd(
                d.filter(F.col("doc_id") % 2 == 0),
                d.filter(F.col("doc_id") % 2 == 1), "text")),
            docs1, docs10,
        )
        report(
            "novelty_rate",
            lambda d: mat(novelty_rate(
                d.filter(F.col("doc_id") % 2 == 0),
                d.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", n=3)),
            docs1, docs10,
        )
        report("grouped_split", lambda d: mat(grouped_split(d, "source")), docs1, docs10)
        report(
            "temporal_split",
            lambda d: mat(temporal_split(d.select((F.col("doc_id") % 30).alias("d")), "d", 20, 2)),
            docs1, docs10,
        )

    if "robust" in ops:
        from morphik_core_spark.operators.analytics import (
            numeric_corr,
            ucb_allocation,
            winsorize_stats,
        )

        li1r = load_table(spark, "lineitem", SF_DIR).select(
            "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
        )
        rtiles = [
            li1r.select((F.col("l_orderkey") * 10 + k).alias("l_orderkey"), "l_returnflag",
                        "l_quantity", (F.col("l_extendedprice") + k * 0.07).alias("l_extendedprice"),
                        "l_discount", "l_tax")
            for k in range(10)
        ]
        li10r = rtiles[0]
        for t in rtiles[1:]:
            li10r = li10r.unionByName(t)
        lr_p = os.path.join(tmp, "li10rob")
        li10r.write.mode("overwrite").parquet(lr_p)
        li10r = spark.read.parquet(lr_p)

        def win(li):
            c = li.select("l_returnflag",
                          F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("v"))
            mat(winsorize_stats(c, "l_returnflag", "v"))

        report("winsorize_stats", win, li1r, li10r)

        def corr(li):
            c = li.select(
                F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("q"),
                F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("p"),
                F.expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("d"),
            )
            mat(numeric_corr(c, ["q", "p", "d"]))

        report("numeric_corr", corr, li1r, li10r)

        def ucb(li):
            mat(ucb_allocation(
                li.select("l_returnflag", (F.col("l_quantity") > 25).alias("r")),
                "l_returnflag", "r"))

        report("ucb_allocation", ucb, li1r, li10r)


    if "conc" in ops:
        from morphik_core_spark.operators.analytics import (
            diversity_metrics,
            group_trend_slopes,
            theil_decomposition,
        )

        ord1c = load_table(spark, "orders", SF_DIR).select("o_orderkey", "o_custkey", "o_totalprice")
        cust_c = load_table(spark, "customer", SF_DIR).select("c_custkey", "c_nationkey")
        ctiles2 = [
            ord1c.select((F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
                         (F.col("o_custkey") * 10 + k).alias("o_custkey"),
                         (F.col("o_totalprice") + k * 0.01).alias("o_totalprice"))
            for k in range(10)
        ]
        ord10c = ctiles2[0]
        for t in ctiles2[1:]:
            ord10c = ord10c.unionByName(t)
        oc_p = os.path.join(tmp, "ord10conc")
        ord10c.write.mode("overwrite").parquet(oc_p)
        ord10c = spark.read.parquet(oc_p)

        def theil(o):
            pc = o.groupBy("o_custkey").agg(
                F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)").alias("v"))
            pc = pc.select((F.col("o_custkey") % 25).alias("g"), "v")
            mat(theil_decomposition(pc, "g", "v"))

        report("theil_decomposition", theil, ord1c, ord10c)

        ev1c = load_table(spark, "events", SF_DIR).select("event_type", "ts")
        etiles3 = [ev1c for _ in range(10)]
        ev10c = etiles3[0]
        for t in etiles3[1:]:
            ev10c = ev10c.unionByName(t)
        ec_p = os.path.join(tmp, "ev10conc")
        ev10c.write.mode("overwrite").parquet(ec_p)
        ev10c = spark.read.parquet(ec_p)

        report("diversity_metrics", lambda e: mat(diversity_metrics(e, "event_type")), ev1c, ev10c)

        def trend(e):
            d = e.groupBy("event_type", F.expr("unix_micros(ts) div 86400000000").alias("di")).agg(
                F.count(F.lit(1)).alias("x"))
            mat(group_trend_slopes(d, ["event_type"], "di", "x"))

        report("group_trend_slopes", trend, ev1c, ev10c)


    if "r6" in ops:
        # round-6 additions. Containment rides the shingle inverted index
        # (scales with shared-shingle pairs); bootstrap explodes B x N but
        # map-side combines to B groups per partition; ranking_metrics is
        # Q x k-bounded so it runs on the 10x EVENT-derived judgments.
        from morphik_core_spark.operators.analytics import bootstrap_ci
        from morphik_core_spark.operators.dedup import containment_pairs, word_shingles
        from morphik_core_spark.operators.ml_eval import ranking_metrics

        def containment(d):
            sh = word_shingles(d, "text", "doc_id", n=3)
            mat(containment_pairs(sh, "doc_id", threshold=0.10, max_df=6))

        report("containment_pairs", containment, docs1, docs10)

        ord_b1 = load_table(spark, "orders", SF_DIR).select("o_orderkey", "o_totalprice")
        btiles = [
            ord_b1.select(
                (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
                (F.col("o_totalprice") + k * 0.01).alias("o_totalprice"),
            )
            for k in range(10)
        ]
        ord_b10 = btiles[0]
        for t in btiles[1:]:
            ord_b10 = ord_b10.unionByName(t)
        ob_p = os.path.join(tmp, "ord10boot")
        ord_b10.write.mode("overwrite").parquet(ob_p)
        ord_b10 = spark.read.parquet(ob_p)
        report(
            "bootstrap_ci",
            lambda o: mat(bootstrap_ci(o, "o_totalprice", "o_orderkey", n_resamples=200, decimals=2)),
            ord_b1,
            ord_b10,
        )

        ev_r1 = load_table(spark, "events", SF_DIR).select("user_id", "event_id", "value", "event_type")
        rtiles = [
            ev_r1.select(
                (F.col("user_id") * 10 + k).alias("user_id"),
                (F.col("event_id") * 10 + k).alias("event_id"),
                "value",
                "event_type",
            )
            for k in range(10)
        ]
        ev_r10 = rtiles[0]
        for t in rtiles[1:]:
            ev_r10 = ev_r10.unionByName(t)
        er_p = os.path.join(tmp, "ev10rank")
        ev_r10.write.mode("overwrite").parquet(er_p)
        ev_r10 = spark.read.parquet(er_p)

        def ranking(e):
            from pyspark.sql import Window

            w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
            judged = (
                e.filter(F.col("value").isNotNull())
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 10)
                .withColumn("rel", (F.col("event_type") == "purchase").cast("int"))
            )
            mat(ranking_metrics(judged, "user_id", "rank", "rel", k=10))

        report("ranking_metrics", ranking, ev_r1, ev_r10)

    if "asof" in ops:
        # Round-5 rewrote the as-of family from join+groupBy to
        # union-tag-window; this experiment documents WHY on the exact
        # case the old form detonates: DENSE keys. Both corpora share the
        # SAME 100 keys; the 10x corpus has 10x the rows per key, so the
        # old form's per-key P x S join grows ~100x while the new form's
        # per-key sort grows ~10 log 10. Probes/series split by event-id
        # parity keeps both sides dense.
        from morphik_core_spark.operators.asof import asof_backward

        ev_a = load_table(spark, "events", SF_DIR).select(
            (F.col("user_id") % 100).alias("k"), "ts", "event_id"
        )
        a1_p, a10_p = os.path.join(tmp, "asof1"), os.path.join(tmp, "asof10")
        ev_a.orderBy("event_id").limit(20_000).write.mode("overwrite").parquet(a1_p)
        ev_a.orderBy("event_id").limit(200_000).write.mode("overwrite").parquet(a10_p)
        asof1 = spark.read.parquet(a1_p)
        asof10 = spark.read.parquet(a10_p)

        def _split(d):
            return (
                d.filter(F.col("event_id") % 2 == 0),
                d.filter(F.col("event_id") % 2 == 1),
            )

        def asof_union_window(d):
            p, s = _split(d)
            mat(asof_backward(p, s, "k", "ts", "ts", "event_id"))

        def asof_join_groupby(d):
            # the PRE-round-5 form, restated for comparison (payload
            # join-back omitted — generous to the old form)
            p, s = _split(d)
            sr = s.select(F.col("k").alias("_sk"), F.col("ts").alias("sts"))
            j = p.join(
                sr, (F.col("k") == F.col("_sk")) & (F.col("sts") <= F.col("ts")), "left"
            )
            mat(j.groupBy("event_id").agg(F.max("sts").alias("matched_ts")))

        report("asof_union_window", asof_union_window, asof1, asof10)
        report("asof_join_groupby", asof_join_groupby, asof1, asof10)

    if "r6b" in ops:
        # round-6 second-session ops. Tiling choices isolate OPERATOR cost
        # from true output growth: intervals and l-diversity tile their
        # KEYS too (per-key density constant -> output ~10x linear);
        # fuzzy names get fresh unique ids (neighbor density preserved);
        # the event grid tiles along TIME so the rolling window really
        # sees a 10x series.
        from pyspark.sql import Window as _W

        from morphik_core_spark.operators.analytics import rolling_median_flags
        from morphik_core_spark.operators.asof import interval_overlap_pairs
        from morphik_core_spark.operators.dedup import edit_distance_pairs
        from morphik_core_spark.operators.graph import (
            seed_expansion_weights,
            term_cooccurrence_edges,
        )
        from morphik_core_spark.operators.validation import l_diversity_classes

        def _tile10(df, path, builders):
            tiles = [df.select(*builders(j)) for j in range(10)]
            out = tiles[0]
            for t in tiles[1:]:
                out = out.unionByName(t)
            p = os.path.join(tmp, path)
            out.write.mode("overwrite").parquet(p)
            return spark.read.parquet(p)

        ord_r = load_table(spark, "orders", SF_DIR)
        cust_r = load_table(spark, "customer", SF_DIR)
        iv1 = ord_r.join(cust_r, ord_r.o_custkey == cust_r.c_custkey).select(
            F.col("o_orderkey").alias("k"),
            F.col("c_nationkey").cast("long").alias("nk"),
            F.datediff("o_orderdate", F.lit("1992-01-01").cast("date")).cast("long").alias("s"),
            (
                F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
                + 7 * F.substring("o_orderpriority", 1, 1).cast("int")
            ).cast("long").alias("e"),
        )
        iv1_p = os.path.join(tmp, "iv1")
        iv1.write.mode("overwrite").parquet(iv1_p)
        iv1 = spark.read.parquet(iv1_p)
        iv10 = _tile10(
            iv1, "iv10",
            lambda j: [
                (F.col("k") * 10 + j).alias("k"),
                (F.col("nk") * 10 + j).alias("nk"),
                F.col("s"), F.col("e"),
            ],
        )
        report(
            "interval_overlap_pairs",
            lambda d: mat(
                interval_overlap_pairs(d, "k", "s", "e", bucket_width=32, key_cols=["nk"])
                .groupBy("nk").count()
            ),
            iv1, iv10,
        )

        names1 = cust_r.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("s"))
        names10 = _tile10(
            names1, "names10",
            lambda j: [
                (F.col("id") * 10 + j).alias("id"),
                F.format_string("Customer#%09d", F.col("id") * 10 + j).alias("s"),
            ],
        )
        report(
            "edit_distance_pairs",
            lambda d: mat(edit_distance_pairs(d, "s", "id").groupBy("dist").count()),
            names1, names10,
        )

        def grag(d):
            edges = term_cooccurrence_edges(d, "text", "doc_id")
            mat(seed_expansion_weights(edges, ["spark"], k=5, seed_weight=1000))

        report("graph_rag_build_expand", grag, docs1, docs10)

        ev_r = load_table(spark, "events", SF_DIR).select("ts")
        ev10t = _tile10(
            ev_r, "ev10t",
            lambda j: [(F.col("ts") + F.expr(f"INTERVAL {30 * j} DAYS")).alias("ts")],
        )

        def hampel(e):
            hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
                F.count(F.lit(1)).alias("n")
            )
            mat(rolling_median_flags(hourly, "hr", "n", half_window=12))

        report("rolling_median_flags", hampel, ev_r, ev10t)

        ldiv1 = (
            cust_r.select(
                "c_custkey",
                F.col("c_nationkey").cast("long").alias("nk"),
                "c_mktsegment",
                F.ntile(10)
                .over(_W.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc()))
                .alias("bal_decile"),
            )
            .join(ord_r, F.col("c_custkey") == F.col("o_custkey"))
            .select("nk", "c_mktsegment", "bal_decile", "c_custkey", "o_orderpriority")
        )
        ldiv1_p = os.path.join(tmp, "ldiv1")
        ldiv1.write.mode("overwrite").parquet(ldiv1_p)
        ldiv1 = spark.read.parquet(ldiv1_p)
        ldiv10 = _tile10(
            ldiv1, "ldiv10",
            lambda j: [
                (F.col("nk") * 10 + j).alias("nk"),
                F.col("c_mktsegment"), F.col("bal_decile"),
                (F.col("c_custkey") * 10 + j).alias("c_custkey"),
                F.col("o_orderpriority"),
            ],
        )
        report(
            "l_diversity_classes",
            lambda d: mat(
                l_diversity_classes(
                    d, ["nk", "c_mktsegment", "bal_decile"], "o_orderpriority",
                    l=3, entity_col="c_custkey",
                )
            ),
            ldiv1, ldiv10,
        )

    if "r6c" in ops:
        # batch-2/3 round-6 ops. Same key-tiling discipline as r6b.
        from pyspark.sql import Window as _W2

        from morphik_core_spark.operators.analytics import (
            cusum_split,
            mutual_information,
            sequence_ngrams,
        )
        from morphik_core_spark.operators.asof import peak_concurrency
        from morphik_core_spark.operators.curation import (
            curriculum_order,
            quantile_normalize,
        )
        from morphik_core_spark.operators.sketches import (
            hll_estimate_from_registers,
            hll_merge,
            hll_registers,
        )

        def _tile10b(df, path, builders):
            tiles = [df.select(*builders(j)) for j in range(10)]
            out = tiles[0]
            for t in tiles[1:]:
                out = out.unionByName(t)
            p = os.path.join(tmp, path)
            out.write.mode("overwrite").parquet(p)
            return spark.read.parquet(p)

        ord_c = load_table(spark, "orders", SF_DIR)
        cust_c2 = load_table(spark, "customer", SF_DIR)
        ivc1 = ord_c.join(cust_c2, ord_c.o_custkey == cust_c2.c_custkey).select(
            F.col("c_nationkey").cast("long").alias("nk"),
            F.col("o_custkey").alias("ck"),
            F.datediff("o_orderdate", F.lit("1992-01-01").cast("date")).cast("long").alias("s"),
            (
                F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
                + 7 * F.substring("o_orderpriority", 1, 1).cast("int")
            ).cast("long").alias("e"),
            F.col("o_totalprice").alias("v"),
            F.col("o_orderkey").alias("k"),
        )
        ivc1_p = os.path.join(tmp, "ivc1")
        ivc1.write.mode("overwrite").parquet(ivc1_p)
        ivc1 = spark.read.parquet(ivc1_p)
        ivc10 = _tile10b(
            ivc1, "ivc10",
            lambda j: [
                (F.col("nk") * 10 + j).alias("nk"),
                (F.col("ck") * 10 + j).alias("ck"),
                F.col("s"), F.col("e"),
                (F.col("v") + j * 0.01).alias("v"),
                (F.col("k") * 10 + j).alias("k"),
            ],
        )
        report(
            "peak_concurrency",
            lambda d: mat(peak_concurrency(d, ["nk"], "s", "e")),
            ivc1, ivc10,
        )
        report(
            "hll_merge_rollup",
            lambda d: mat(
                hll_estimate_from_registers(
                    hll_merge(
                        hll_registers(
                            d.withColumn("rk", F.col("nk") % 5), ["rk", "nk"], "ck", p=9
                        ),
                        ["rk"],
                    ),
                    ["rk"], p=9,
                )
            ),
            ivc1, ivc10,
        )
        report(
            "quantile_normalize",
            lambda d: mat(quantile_normalize(d, ["nk"], "v", "k")),
            ivc1, ivc10,
        )
        report(
            "mutual_information",
            lambda d: mat(
                mutual_information(
                    d.withColumn("xc", F.col("nk") % 25).withColumn("yc", F.col("ck") % 7),
                    "xc", "yc",
                )
            ),
            ivc1, ivc10,
        )

        # time-tiled daily grid for the change-point (grid grows 10x)
        daily1 = ord_c.groupBy(
            F.datediff("o_orderdate", F.lit("1992-01-01").cast("date")).alias("d")
        ).agg(F.count(F.lit(1)).alias("n"))
        daily1_p = os.path.join(tmp, "daily1")
        daily1.write.mode("overwrite").parquet(daily1_p)
        daily1 = spark.read.parquet(daily1_p)
        daily10 = _tile10b(
            daily1, "daily10", lambda j: [(F.col("d") + j * 3700).alias("d"), F.col("n")]
        )
        report("cusum_split", lambda d: mat(cusum_split(d, "d", "n")), daily1, daily10)

        ev_c = load_table(spark, "events", SF_DIR).select("user_id", "ts", "event_id", "event_type")
        ev10c2 = _tile10b(
            ev_c, "ev10c2",
            lambda j: [
                (F.col("user_id") * 10 + j).alias("user_id"),
                F.col("ts"), F.col("event_id"), F.col("event_type"),
            ],
        )
        report(
            "sequence_ngrams",
            lambda d: mat(sequence_ngrams(d, ["user_id"], ["ts", "event_id"], "event_type", n=3)),
            ev_c, ev10c2,
        )
        report(
            "curriculum_order",
            lambda d: mat(curriculum_order(d, "k", "v", n_buckets=10)),
            ivc1, ivc10,
        )

        from morphik_core_spark.operators.asof import interval_islands

        report(
            "interval_islands",
            lambda d: mat(
                interval_islands(d, ["ck"], "s", "e")
                .groupBy("ck").agg(F.count(F.lit(1)).alias("n"))
            ),
            ivc1, ivc10,
        )

        def sliding_hll(e):
            regs = hll_registers(
                e.select(F.to_date("ts").alias("day"), "user_id"), ["day"], "user_id", p=9
            )
            fanned = regs.withColumn(
                "tday", F.explode(F.expr("sequence(day, date_add(day, 6), interval 1 day)"))
            ).select(F.col("tday").alias("wday"), "reg", "max_rho")
            mat(hll_estimate_from_registers(hll_merge(fanned, ["wday"]), ["wday"], p=9))

        ev_h = load_table(spark, "events", SF_DIR).select("ts", "user_id")
        ev10h = _tile10b(
            ev_h, "ev10h",
            lambda j: [
                (F.col("ts") + F.expr(f"INTERVAL {30 * j} DAYS")).alias("ts"),
                (F.col("user_id") * 10 + j).alias("user_id"),
            ],
        )
        report("sliding_hll_windows", sliding_hll, ev_h, ev10h)

        from morphik_core_spark.operators.analytics import markov_removal_effects
        from morphik_core_spark.operators.validation import t_closeness_classes

        ev_m = load_table(spark, "events", SF_DIR).select(
            "user_id", "ts", "event_id", "event_type"
        )
        ev10m = _tile10b(
            ev_m, "ev10m",
            lambda j: [
                (F.col("user_id") * 10 + j).alias("user_id"),
                F.col("ts"), F.col("event_id"), F.col("event_type"),
            ],
        )
        report(
            "markov_attribution",
            lambda e: mat(
                markov_removal_effects(
                    e, "user_id", ["ts", "event_id"], "event_type", "purchase", iterations=10
                )
            ),
            ev_m, ev10m,
        )

        report(
            "t_closeness",
            lambda d: mat(
                t_closeness_classes(
                    d.withColumn("qi", F.col("nk")), ["qi", "c_mktsegment"], "o_orderpriority"
                )
            )
            if "c_mktsegment" in d.columns
            else None,
            ivc1.join(cust_c2.select("c_custkey", "c_mktsegment"),
                      F.col("ck") == F.col("c_custkey")).withColumn(
                          "o_orderpriority", (F.col("k") % 5).cast("string")),
            ivc10.join(
                _tile10b(
                    cust_c2.select("c_custkey", "c_mktsegment"), "cust10t",
                    lambda j: [(F.col("c_custkey") * 10 + j).alias("c_custkey"),
                               F.col("c_mktsegment")],
                ),
                F.col("ck") == F.col("c_custkey"),
            ).withColumn("o_orderpriority", (F.col("k") % 5).cast("string")),
        )


    if "round8" in ops:
        # round-8 additions: stats screens, curation profiles, causal/
        # survival tests. Orders+customers tile with the SAME k on the
        # join key so join structure survives 10x; events tile per-user;
        # docs10 is the shared perturbed corpus.
        from morphik_core_spark.operators.analytics import (
            anova_oneway,
            bh_fdr,
            cem_att,
            chi_square_independence,
            hhi_concentration,
            hill_tail_index,
            js_divergence,
            log_rank_test,
            spearman_corr,
        )
        from morphik_core_spark.operators.curation import boilerplate_profile
        from morphik_core_spark.operators.ml_eval import mcnemar_test
        from morphik_core_spark.operators.text_analysis import (
            kneser_ney_bigram,
            token_entropy,
        )

        ord1 = load_table(spark, "orders", SF_DIR)
        cust1 = load_table(spark, "customer", SF_DIR)
        nat1 = load_table(spark, "nation", SF_DIR)
        reg1 = load_table(spark, "region", SF_DIR)
        li1 = load_table(spark, "lineitem", SF_DIR)
        ev1 = load_table(spark, "events", SF_DIR)

        def tile(df, cols_fn, name):
            parts = [df.select(*cols_fn(k)) for k in range(10)]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ord10 = tile(
            ord1,
            lambda k: [
                (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
                (F.col("o_custkey") * 10 + k).alias("o_custkey"),
                "o_orderstatus", "o_orderpriority", "o_orderdate",
                (F.col("o_totalprice") + k * 0.13).alias("o_totalprice"),
            ],
            "r8_ord10",
        )
        cust10 = tile(
            cust1,
            lambda k: [
                (F.col("c_custkey") * 10 + k).alias("c_custkey"),
                "c_nationkey", "c_mktsegment",
                (F.col("c_acctbal") + k * 0.07).alias("c_acctbal"),
            ],
            "r8_cust10",
        )
        li10 = tile(
            li1,
            lambda k: [
                "l_quantity",
                (F.col("l_extendedprice") + k * 0.07).alias("l_extendedprice"),
                "l_discount",
            ],
            "r8_li10",
        )
        ev10 = tile(
            ev1,
            lambda k: [
                (F.col("event_id") * 10 + k).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                (F.col("user_id") * 10 + k).alias("user_id"),
                "event_type",
            ],
            "r8_ev10",
        )

        report(
            "chi_square",
            lambda d: mat(chi_square_independence(d, "o_orderpriority", "o_orderstatus")),
            ord1, ord10,
        )
        report(
            "anova",
            lambda d: mat(anova_oneway(d, "source", "n_chars")),
            docs1, docs10,
        )

        def hhi(o, c):
            facts = (
                o.join(c, o["o_custkey"] == c["c_custkey"])
                .join(F.broadcast(nat1), c["c_nationkey"] == nat1["n_nationkey"])
                .join(F.broadcast(reg1), nat1["n_regionkey"] == reg1["r_regionkey"])
                .select(F.col("r_name").alias("m"), F.col("n_name").alias("p"),
                        F.col("o_totalprice").alias("v"))
            )
            mat(hhi_concentration(facts, "m", "p", "v"))

        report("hhi", lambda pair: hhi(*pair), (ord1, cust1), (ord10, cust10))
        report(
            "js_drift",
            lambda d: mat(js_divergence(
                d.withColumn("half", F.when(
                    F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), "h1"
                ).otherwise("h2")),
                "half", "event_type", "h1", "h2",
            )),
            ev1, ev10,
        )
        report(
            "hill_tail",
            lambda d: mat(hill_tail_index(d, "o_totalprice", k=500)),
            ord1, ord10,
        )
        report(
            "spearman",
            lambda d: mat(spearman_corr(d, "l_quantity", "l_extendedprice", 1, 100)),
            li1, li10,
        )

        def fdr(pair):
            o, c = pair
            base = (
                o.join(c, o["o_custkey"] == c["c_custkey"])
                .join(F.broadcast(nat1), c["c_nationkey"] == nat1["n_nationkey"])
                .select(
                    F.col("n_name").alias("g"),
                    F.when(F.col("o_orderdate") < F.lit("1995-06-17").cast("date"), "a")
                    .otherwise("b").alias("side"),
                    F.col("o_totalprice").alias("v"),
                )
            )
            mat(bh_fdr(base, "g", "side", "v", "a", "b"))

        report("bh_fdr", fdr, (ord1, cust1), (ord10, cust10))
        report(
            "mcnemar",
            lambda d: mat(mcnemar_test(
                d.select(
                    F.col("n_chars").between(150, 450).alias("ka"),
                    F.size(F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                                    lambda x: x != "")).between(25, 80).alias("kb"),
                ), "ka", "kb",
            )),
            docs1, docs10,
        )
        report(
            "token_entropy",
            lambda d: mat(token_entropy(d, "doc_id", "text", "source")),
            docs1, docs10,
        )
        report(
            "boilerplate",
            lambda d: mat(boilerplate_profile(d, "doc_id", "text", "source")),
            docs1, docs10,
        )
        report(
            "kn_bigram",
            lambda d: mat(kneser_ney_bigram(d, "text")),
            docs1, docs10,
        )

        def logrank(d):
            from pyspark.sql import Window as W

            us = F.expr("unix_micros(ts)")
            worder = W.partitionBy("user_id").orderBy("ts", "event_id")
            prev = F.lag(us).over(worder)
            sid = F.sum((prev.isNull() | ((us - prev) > 21600 * 1_000_000)).cast("int")).over(
                worder.rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            ses = (
                d.select("user_id", "event_id", "ts", sid.alias("sid"))
                .groupBy("user_id", "sid")
                .agg(F.count(F.lit(1)).alias("n_ev"),
                     F.min(F.expr("unix_micros(ts)")).alias("fus"),
                     F.max(F.expr("unix_micros(ts)")).alias("lus"))
            )
            mx = d.agg(F.max(F.expr("unix_micros(ts)")).alias("_m"))
            subj = ses.join(F.broadcast(mx)).select(
                F.when(F.col("fus") < 1705363200000000, "h1").otherwise("h2").alias("half"),
                F.col("n_ev").alias("dur"),
                F.when(F.col("_m") - F.col("lus") < 86400 * 1_000_000, F.lit(0))
                .otherwise(F.lit(1)).alias("ev"),
            )
            mat(log_rank_test(subj, "half", "dur", "ev", "h1", "h2"))

        report("log_rank", logrank, ev1, ev10)

        def cem(pair):
            o, c = pair
            spend = o.groupBy("o_custkey").agg(
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                .cast("double").alias("spend"))
            units = (
                c.join(spend, c["c_custkey"] == spend["o_custkey"], "left")
                .na.fill({"spend": 0.0})
                .select((F.col("c_mktsegment") == "BUILDING").alias("t"),
                        F.col("c_acctbal").alias("s"), "spend", "c_custkey")
            )
            mat(cem_att(units, "t", "s", "spend", "c_custkey", cell_width=500.0))

        report("cem_att", cem, (ord1, cust1), (ord10, cust10))



    if "round8b" in ops:
        # round-8 second wave: profiling matrix, TextRank, hazard grid,
        # design MDE, trainer-delivery sinks (tiling as in round8)
        import tempfile as _tf

        from morphik_core_spark.operators.analytics import (
            ab_power_mde,
            corr_matrix,
            nelson_aalen,
        )
        from morphik_core_spark.operators.text_analysis import textrank_keywords
        from morphik_core_spark.sources.tfrecord import write_tfrecord_shards
        from morphik_core_spark.sources.webdataset import write_webdataset_shards

        ord1 = load_table(spark, "orders", SF_DIR)
        cust1 = load_table(spark, "customer", SF_DIR)
        nat1 = load_table(spark, "nation", SF_DIR)
        li1 = load_table(spark, "lineitem", SF_DIR)
        ev1 = load_table(spark, "events", SF_DIR)

        def tile(df, cols_fn, name):
            parts = [df.select(*cols_fn(k)) for k in range(10)]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        li10 = tile(li1, lambda k: [
            "l_quantity",
            (F.col("l_extendedprice") + k * 0.07).alias("l_extendedprice"),
            "l_discount", "l_tax",
        ], "r8b_li10")
        ev10 = tile(ev1, lambda k: [
            (F.col("event_id") * 10 + k).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
            (F.col("user_id") * 10 + k).alias("user_id"),
            "event_type",
        ], "r8b_ev10")
        ord10 = tile(ord1, lambda k: [
            (F.col("o_custkey") * 10 + k).alias("o_custkey"),
            (F.col("o_totalprice") + k * 0.13).alias("o_totalprice"),
        ], "r8b_ord10")
        cust10 = tile(cust1, lambda k: [
            (F.col("c_custkey") * 10 + k).alias("c_custkey"),
            "c_nationkey",
        ], "r8b_cust10")

        report(
            "corr_matrix",
            lambda d: mat(corr_matrix(
                d, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
                scales=[1, 100, 100, 100],
            )),
            li1, li10,
        )
        report(
            "textrank",
            lambda d: mat(textrank_keywords(d, "text", top_n=20)),
            docs1, docs10,
        )

        def na(d):
            from pyspark.sql import Window as W

            us = F.expr("unix_micros(ts)")
            worder = W.partitionBy("user_id").orderBy("ts", "event_id")
            prev = F.lag(us).over(worder)
            sid = F.sum((prev.isNull() | ((us - prev) > 21600 * 1_000_000)).cast("int")).over(
                worder.rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            ses = (
                d.select("user_id", "event_id", "ts", sid.alias("sid"))
                .groupBy("user_id", "sid")
                .agg(F.count(F.lit(1)).alias("n_ev"),
                     F.max(F.expr("unix_micros(ts)")).alias("lus"))
            )
            mx = d.agg(F.max(F.expr("unix_micros(ts)")).alias("_m"))
            subj = ses.join(F.broadcast(mx)).select(
                F.col("n_ev").alias("dur"),
                F.when(F.col("_m") - F.col("lus") < 86400 * 1_000_000, F.lit(0))
                .otherwise(F.lit(1)).alias("ev"),
            )
            mat(nelson_aalen(subj, "dur", "ev"))

        report("nelson_aalen", na, ev1, ev10)

        def mde(pair):
            o, c = pair
            base = (
                o.join(c, o["o_custkey"] == c["c_custkey"])
                .join(F.broadcast(nat1), c["c_nationkey"] == nat1["n_nationkey"])
                .select(F.col("n_name").alias("g"), F.col("o_totalprice").alias("v"))
            )
            mat(ab_power_mde(base, "g", "v"))

        report("power_mde", mde, (ord1, cust1), (ord10, cust10))

        def tfr_export(d):
            out = _tf.mkdtemp(prefix="scale_tfr_")
            write_tfrecord_shards(d, out, "doc_id", "text", n_shards=16).collect()

        report("tfrecord_export", tfr_export, docs1, docs10)

        def wds_export(d):
            out = _tf.mkdtemp(prefix="scale_wds_")
            write_webdataset_shards(d, out, "doc_id", {"text": "txt"}, n_shards=16).collect()

        report("webdataset_export", wds_export, docs1, docs10)



    if "round8c" in ops:
        # round-8 close-out: payload drift profiling + join-view IVM
        from morphik_core_spark.operators.incremental import incremental_join_apply
        from morphik_core_spark.operators.validation import schema_drift

        ev1 = load_table(spark, "events", SF_DIR)
        ord1 = load_table(spark, "orders", SF_DIR).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust1 = load_table(spark, "customer", SF_DIR).select("c_custkey", "c_nationkey")

        def tile(df, cols_fn, name):
            parts = [df.select(*cols_fn(k)) for k in range(10)]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ev10 = tile(ev1, lambda k: [
            (F.col("event_id") * 10 + k).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
            "user_id", "props",
        ], "r8c_ev10")
        ord10 = tile(ord1, lambda k: [
            (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
            "o_custkey",
            (F.col("o_totalprice") + k * 0.13).alias("o_totalprice"),
        ], "r8c_ord10")

        def drift(d):
            cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
            old = d.filter(F.col("ts") < cut).select(F.col("props").alias("js"))
            new = d.filter(F.col("ts") >= cut).select(F.col("props").alias("js"))
            mat(schema_drift(old, new, "js"))

        report("schema_drift", drift, ev1, ev10)

        def ivm(o):
            joined = o.join(cust1, o["o_custkey"] == cust1["c_custkey"]).select(
                "o_orderkey", "o_custkey", "o_totalprice", "c_nationkey"
            )
            ten = F.col("o_orderkey") % 10
            delta = (
                o.filter(ten == 0).withColumn("op", F.lit("D"))
                .unionByName(o.filter(ten == 1).withColumn("op", F.lit("U")))
            )
            b_view = cust1.withColumnRenamed("c_custkey", "o_custkey")
            mat(incremental_join_apply(joined, delta, b_view, "o_orderkey", "o_custkey"))

        report("ivm_join", ivm, ord1, ord10)


    if "round8d" in ops:
        # the 5 late round-8 ops that shipped without scale rows: keyed
        # time rollups (TWAP, OHLC), sketch-bounded join-size estimation,
        # DP count release, and the de-quadraticized FS record linkage.
        import importlib.util as _ilu

        from morphik_core_spark.operators.analytics import (
            ohlc_rollup,
            time_weighted_average,
        )
        from morphik_core_spark.operators.dedup import fellegi_sunter_em
        from morphik_core_spark.operators.sketches import cms_join_size_estimate
        from morphik_core_spark.operators.validation import dp_noisy_counts

        _spec = _ilu.spec_from_file_location(
            "entry_for_scale",
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "__spark_entry__.py"),
        )
        _entry = _ilu.module_from_spec(_spec)
        _spec.loader.exec_module(_entry)

        ev1 = load_table(spark, "events", SF_DIR).select("event_id", "ts", "event_type", "value")
        li1 = load_table(spark, "lineitem", SF_DIR).select("l_partkey")
        cust1 = load_table(spark, "customer", SF_DIR).select(
            "c_custkey", "c_nationkey", "c_name", "c_mktsegment", "c_acctbal"
        )

        def tile(df, cols_fn, name):
            parts = [df.select(*cols_fn(k)) for k in range(10)]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ev10 = tile(ev1, lambda k: [
            (F.col("event_id") * 10 + k).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
            "event_type",
            (F.col("value") + k * 0.01).alias("value"),
        ], "r8d_ev10")
        li10 = tile(li1, lambda k: [
            # shift part keys per tile so the key domain (and CMS input
            # distinctness) actually grows 10x, not just the counts
            (F.col("l_partkey") + F.lit(k * 10_000_000)).alias("l_partkey"),
        ], "r8d_li10")
        cust10 = tile(cust1, lambda k: [
            (F.col("c_custkey") * 10 + k).alias("c_custkey"),
            "c_nationkey",
            # keep the name custkey-correlated so dirty-name edits and
            # levenshtein work per pair stay realistic at 10x
            F.concat(F.col("c_name"), F.lit(f"#t{k}")).alias("c_name"),
            "c_mktsegment",
            (F.col("c_acctbal") + k * 0.07).alias("c_acctbal"),
        ], "r8d_cust10")

        report(
            "twap_event_value",
            lambda e: mat(time_weighted_average(e, ["event_type"], "ts", "value", value_scale=100)),
            ev1, ev10,
        )
        report(
            "ohlc_daily",
            lambda e: mat(ohlc_rollup(e, ["event_type"], "ts", "value", bucket_seconds=86400)),
            ev1, ev10,
        )

        def jse(li):
            counts = li.groupBy(F.col("l_partkey").cast("string").alias("k")).agg(
                F.count(F.lit(1)).alias("c")
            )
            mat(cms_join_size_estimate(counts, counts, "k", "c", depth=3, width=64))

        report("join_size_estimate", jse, li1, li10)

        # dp_release_counts runs over documents (docs1/docs10 corpora)
        report(
            "dp_release_counts",
            lambda d: mat(dp_noisy_counts(d, ["lang", "source"], epsilon=1.0, seed=8)),
            docs1, docs10,
        )

        def fs(c):
            pairs = _entry._fs_pairs_from(c)
            mat(fellegi_sunter_em(pairs, ["g_name", "g_seg", "g_bal"], iters=20))

        report("fs_record_linkage", fs, cust1, cust10)

    if "round9" in ops:
        # round-9 wave 1: rank statistics, dispersion/white-noise
        # screens, stratified IPW, dimension-side IVM
        from morphik_core_spark.operators.analytics import (
            ipw_ate,
            levene_test,
            ljung_box,
        )
        from morphik_core_spark.operators.incremental import (
            incremental_join_apply_delta_b,
        )

        ev1 = load_table(spark, "events", SF_DIR).select("event_id", "ts")
        ord1 = load_table(spark, "orders", SF_DIR).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust1 = load_table(spark, "customer", SF_DIR).select(
            "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
        )

        def tile(df, cols_fn, name):
            parts = [df.select(*cols_fn(k)) for k in range(10)]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ev10 = tile(ev1, lambda k: [
            (F.col("event_id") * 10 + k).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
        ], "r9_ev10")
        ord10 = tile(ord1, lambda k: [
            (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
            "o_custkey",
            (F.col("o_totalprice") + k * 0.13).alias("o_totalprice"),
        ], "r9_ord10")
        cust10 = tile(cust1, lambda k: [
            (F.col("c_custkey") * 10 + k).alias("c_custkey"),
            "c_nationkey", "c_mktsegment",
            # perturb so the value grid (rank-stat input distinctness)
            # grows 10x, not just the counts
            (F.col("c_acctbal") + k * 0.07).alias("c_acctbal"),
        ], "r9_cust10")

        report(
            "levene_test",
            lambda c: mat(levene_test(c, "c_mktsegment", "c_acctbal", value_scale=100)),
            cust1, cust10,
        )

        def lb(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("x"))
            mat(ljung_box(daily, "di", "x", max_lag=7))

        report("ljung_box", lb, ev1, ev10)

        # ipw over documents: treated = src1, strata = lang
        report(
            "ipw_ate",
            lambda d: mat(ipw_ate(
                d.withColumn("treated", F.col("source") == F.lit("src1")),
                "lang", "treated", "n_chars",
            )),
            docs1, docs10,
        )

        def ivm_b(o):
            b_view = cust1.select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            )
            joined = o.join(b_view, "o_custkey").select(
                "o_orderkey", "o_custkey", "o_totalprice", "c_nationkey"
            )
            ten = F.col("o_custkey") % 10
            delta_b = (
                b_view.filter(ten == 0).withColumn("op", F.lit("D"))
                .unionByName(
                    b_view.filter(ten == 1)
                    .select("o_custkey", ((F.col("c_nationkey") + 7) % 25).alias("c_nationkey"))
                    .withColumn("op", F.lit("U"))
                )
            )
            mat(incremental_join_apply_delta_b(joined, o, delta_b, "o_custkey"))

        report("ivm_join_b", ivm_b, ord1, ord10)

    if "round9b" in ops:
        # round-9 wave 2: cluster-quality silhouette + two-list RBO
        from pyspark.sql import Window as W

        from morphik_core_spark.operators.embedding_stats import simplified_silhouette
        from morphik_core_spark.operators.ml_eval import rank_biased_overlap

        report(
            "silhouette",
            lambda em: mat(simplified_silhouette(em, dims=64)),
            emb1, emb10,
        )

        ord1b = load_table(spark, "orders", SF_DIR).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
        )

        def tile_o(df, name):
            parts = [
                df.select(
                    (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
                    # spread custkeys so the ranked leaderboard domain
                    # grows 10x with the corpus
                    (F.col("o_custkey") * 10 + k).alias("o_custkey"),
                    (F.col("o_totalprice") + k * 0.13).alias("o_totalprice"),
                    "o_orderdate",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ord10b = tile_o(ord1b, "r9b_ord10")

        def rbo(o):
            cut = F.lit("1998-05-01").cast("date")

            def ranked(filtered):
                rev = filtered.groupBy(F.col("o_custkey").alias("k")).agg(
                    F.expr(
                        "CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)"
                    ).alias("rev")
                )
                return rev.select(
                    "k",
                    F.row_number()
                    .over(W.orderBy(F.col("rev").desc(), F.col("k").asc()))
                    .alias("rnk"),
                )

            h1 = ranked(o.filter(F.col("o_orderdate") < cut))
            h2 = ranked(o.filter(F.col("o_orderdate") >= cut))
            mat(rank_biased_overlap(h1, h2, "k", "rnk", k=100, p=0.9))

        report("rbo_rankings", rbo, ord1b, ord10b)

    if "round9c" in ops:
        # round-9 wave 3: PIT join, Heaps fit, IPF raking
        from morphik_core_spark.operators.asof import pit_join
        from morphik_core_spark.operators.curation import ipf_raking
        from morphik_core_spark.operators.sessions import change_intervals
        from morphik_core_spark.operators.text_analysis import heaps_law_fit

        ev1 = load_table(spark, "events", SF_DIR).select(
            "event_id", "ts", "user_id", "event_type"
        )

        def tile_e(df, name):
            parts = [
                df.select(
                    (F.col("event_id") * 10 + k).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                    # new users per tile: the SCD2 histories multiply
                    # instead of deepening, matching real growth
                    (F.col("user_id") * 10 + k).alias("user_id"),
                    "event_type",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ev10 = tile_e(ev1, "r9c_ev10")

        def pit(e):
            dim = change_intervals(e, "user_id", "ts", "event_id", "event_type").select(
                "user_id", "event_type", "valid_from", "valid_to"
            )
            obs = e.filter(F.col("event_id") % 10 == 7).select(
                "user_id", (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ots")
            )
            j = pit_join(obs, dim, "user_id", "ots")
            mat(j.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_obs")))

        report("pit_join", pit, ev1, ev10)
        report(
            "heaps_law",
            lambda d: mat(heaps_law_fit(d, ngram=3)),
            docs1, docs10,
        )
        report(
            "ipf_raking",
            lambda d: mat(ipf_raking(d, "lang", "source", iters=10)),
            docs1, docs10,
        )

        from morphik_core_spark.operators.validation import table_diff

        ord1d = load_table(spark, "orders", SF_DIR).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )

        def tile_plain(df, name):
            parts = [
                df.select(
                    (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
                    "o_custkey",
                    (F.col("o_totalprice") + k * 0.13).alias("o_totalprice"),
                    "o_orderpriority",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ord10d = tile_plain(ord1d, "r9c_ord10d")

        def diff(o):
            ten = F.col("o_orderkey") % 10
            snap_b = (
                o.filter((ten != 0) & (ten != 1))
                .unionByName(
                    o.filter(ten == 1).select(
                        "o_orderkey", "o_custkey",
                        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
                        "o_orderpriority",
                    )
                )
            )
            d = table_diff(o, snap_b, ["o_orderkey"])
            mat(d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")))

        report("table_diff", diff, ord1d, ord10d)

        from morphik_core_spark.operators.dedup import mutual_best_match
        from morphik_core_spark.operators.embedding_stats import embedding_drift

        cust1e = load_table(spark, "customer", SF_DIR).select(
            "c_custkey", "c_nationkey", "c_name", "c_mktsegment", "c_acctbal"
        )
        _cparts = [
            cust1e.select(
                (F.col("c_custkey") * 10 + k).alias("c_custkey"),
                "c_nationkey",
                F.concat(F.col("c_name"), F.lit(f"#t{k}")).alias("c_name"),
                "c_mktsegment",
                (F.col("c_acctbal") + k * 0.07).alias("c_acctbal"),
            )
            for k in range(10)
        ]
        cust10e = _cparts[0]
        for _v in _cparts[1:]:
            cust10e = cust10e.unionByName(_v)
        _cpth = os.path.join(tmp, "r9c_cust10e")
        cust10e.write.mode("overwrite").parquet(_cpth)
        cust10e = spark.read.parquet(_cpth)

        import importlib.util as _ilu2

        _spec2 = _ilu2.spec_from_file_location(
            "entry_for_scale9c",
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "__spark_entry__.py"),
        )
        _entry2 = _ilu2.module_from_spec(_spec2)
        _spec2.loader.exec_module(_entry2)

        def assign(c):
            pairs = _entry2._fs_pairs_from(c)
            scored = pairs.select(
                "a_key", "b_key",
                (4 * F.col("g_name") + 2 * F.col("g_seg") + F.col("g_bal")).alias("score"),
            )
            m = mutual_best_match(scored, "a_key", "b_key", "score", min_score=1)
            mat(m.agg(F.count(F.lit(1)).alias("n")))

        report("linkage_assignment", assign, cust1e, cust10e)

        emb1e = load_table(spark, "embeddings", SF_DIR)
        emb10e = emb_10x(emb1e)

        def drift(em):
            embedding_drift(
                em.filter(F.col("vec_id") % 2 == 0),
                em.filter(F.col("vec_id") % 2 == 1),
                dims=64,
            ).write.format("noop").mode("overwrite").save()

        report("embedding_drift", drift, emb1e, emb10e)

    if "round9d" in ops:
        # round-9 wave 4: dispersion screen
        from morphik_core_spark.operators.analytics import overdispersion_screen

        ev1f = load_table(spark, "events", SF_DIR).select("event_id", "ts", "event_type")

        def tile_f(df, name):
            parts = [
                df.select(
                    (F.col("event_id") * 10 + k).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                    "event_type",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ev10f = tile_f(ev1f, "r9d_ev10")

        def over(e):
            daily = e.groupBy(
                "event_type", F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("x"))
            mat(overdispersion_screen(daily, "event_type", "x"))

        report("overdispersion", over, ev1f, ev10f)

        from morphik_core_spark.operators.analytics import (
            cross_correlation,
            seasonal_decompose,
            seasonal_strength,
        )

        def ccf(e):
            di = F.expr("unix_micros(ts) div 86400000000").alias("di")
            dx = e.filter(F.col("event_type") == "view").groupBy(di).agg(
                F.count(F.lit(1)).alias("x")
            )
            dy = e.filter(F.col("event_type") == "purchase").groupBy(di).agg(
                F.count(F.lit(1)).alias("y")
            )
            mat(cross_correlation(dx.join(dy, "di"), "di", "x", "y", max_lag=7))

        report("cross_correlation", ccf, ev1f, ev10f)

        def sstr(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("x"))
            mat(seasonal_strength(seasonal_decompose(daily, "di", "x", period=7)))

        report("seasonal_strength", sstr, ev1f, ev10f)

        from morphik_core_spark.operators.analytics import holt_winters_additive

        def hw(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("y"))
            mat(holt_winters_additive(daily, "di", "y", period=7))

        report("holt_winters", hw, ev1f, ev10f)

    if "round10" in ops:
        # round-10 additions: PACF (driver-side D-L over the day-grid
        # ACF), proportion post-hoc, two-sided IVM
        from morphik_core_spark.operators.analytics import (
            chi_square_posthoc,
            pacf_durbin_levinson,
        )
        from morphik_core_spark.operators.incremental import (
            incremental_join_apply_both,
        )

        ev1p = load_table(spark, "events", SF_DIR).select("event_id", "ts", "event_type")

        def tile_p(df, name):
            parts = [
                df.select(
                    (F.col("event_id") * 10 + k).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                    "event_type",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ev10p = tile_p(ev1p, "r10_ev10")

        def pacf(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("x"))
            mat(pacf_durbin_levinson(daily, "di", "x", max_lag=7))

        report("pacf", pacf, ev1p, ev10p)

        def posthoc(e):
            mat(chi_square_posthoc(
                e, "event_type", (F.col("event_id") % 4 == 0).cast("int")
            ))

        report("chi_posthoc", posthoc, ev1p, ev10p)

        o1 = load_table(spark, "orders", SF_DIR).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        c1 = load_table(spark, "customer", SF_DIR).select("c_custkey", "c_nationkey")

        def tile_o(df, name):
            parts = [
                df.select(
                    (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
                    "o_custkey",
                    "o_totalprice",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        o10 = tile_o(o1, "r10_o10")

        def ivm_both(o):
            b_view = c1.withColumnRenamed("c_custkey", "o_custkey")
            joined = o.join(b_view, "o_custkey").select(
                "o_orderkey", "o_custkey", "o_totalprice", "c_nationkey"
            )
            ten_o = F.col("o_orderkey") % 10
            da = (
                o.filter(ten_o == 0).withColumn("op", F.lit("D"))
                .unionByName(
                    o.filter(ten_o == 1)
                    .select(
                        "o_orderkey",
                        (F.col("o_custkey") % 100 + 1).alias("o_custkey"),
                        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
                    )
                    .withColumn("op", F.lit("U"))
                )
            )
            ten_c = F.col("o_custkey") % 10
            db = (
                b_view.filter(ten_c == 0).withColumn("op", F.lit("D"))
                .unionByName(
                    b_view.filter(ten_c == 1)
                    .select(
                        "o_custkey",
                        ((F.col("c_nationkey") + 7) % 25).alias("c_nationkey"),
                    )
                    .withColumn("op", F.lit("U"))
                )
            )
            mat(incremental_join_apply_both(
                joined, da, b_view, db, "o_orderkey", "o_custkey",
                b_cols=["c_nationkey"],
            ))

        report("ivm_both", ivm_both, o1, o10)

    if "round10b" in ops:
        # round-10 wave 2: dense-grid concordance + ordered-trend tests
        from morphik_core_spark.operators.analytics import (
            cochran_armitage_trend,
            jonckheere_terpstra,
            kendall_tau_b,
        )

        def kendall(d):
            pts = d.select(
                "n_chars",
                F.size(
                    F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
                ).alias("tok_cnt"),
            )
            mat(kendall_tau_b(pts, "n_chars", "tok_cnt"))

        report("kendall_tau", kendall, docs1, docs10)

        o1b = load_table(spark, "orders", SF_DIR).select(
            "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
        )

        def tile_ob(df, name):
            parts = [
                df.select(
                    (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
                    "o_orderpriority", "o_orderstatus", "o_totalprice",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        o10b = tile_ob(o1b, "r10b_o10")

        report(
            "cochran_trend",
            lambda o: mat(cochran_armitage_trend(
                o, "o_orderpriority", (F.col("o_orderstatus") == "F").cast("int")
            )),
            o1b, o10b,
        )
        report(
            "jonckheere",
            lambda o: mat(jonckheere_terpstra(
                o.select(
                    "o_orderpriority",
                    F.expr(
                        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                    ).alias("cents"),
                ),
                "o_orderpriority", "cents",
            )),
            o1b, o10b,
        )

    if "round10c" in ops:
        # round-10 wave 3: stratified 2x2 + blocked ranks
        from morphik_core_spark.operators.analytics import cmh_test, friedman_test

        report(
            "cmh",
            lambda d: mat(cmh_test(
                d, "lang",
                (F.col("source") == "src1").cast("int"),
                (F.col("n_chars") > 500).cast("int"),
            )),
            docs1, docs10,
        )

        ev1c = load_table(spark, "events", SF_DIR).select("event_id", "ts", "event_type")

        def tile_c(df, name):
            parts = [
                df.select(
                    (F.col("event_id") * 10 + k).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                    "event_type",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ev10c = tile_c(ev1c, "r10c_ev10")

        def friedman(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di"), "event_type"
            ).agg(F.count(F.lit(1)).alias("x"))
            mat(friedman_test(daily, "di", "event_type", "x"))

        report("friedman", friedman, ev1c, ev10c)

    if "round10d" in ops:
        # round-10 wave 4: robust variance screen, seasonal trend,
        # partial correlation
        from morphik_core_spark.operators.analytics import (
            brown_forsythe_test,
            partial_corr_3var,
            seasonal_mann_kendall,
        )

        c1d = load_table(spark, "customer", SF_DIR).select("c_custkey", "c_mktsegment", "c_acctbal")

        def tile_cd(df, name):
            parts = [
                df.select(
                    (F.col("c_custkey") * 10 + k).alias("c_custkey"),
                    "c_mktsegment",
                    (F.col("c_acctbal") + F.lit(float(k)) * 0.01).alias("c_acctbal"),
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        c10d = tile_cd(c1d, "r10d_c10")
        report(
            "brown_forsythe",
            lambda c: mat(brown_forsythe_test(c, "c_mktsegment", "c_acctbal", value_scale=100)),
            c1d, c10d,
        )

        ev1d = load_table(spark, "events", SF_DIR).select("event_id", "ts", "event_type", "user_id")

        def tile_ed(df, name):
            parts = [
                df.select(
                    (F.col("event_id") * 10 + k).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                    "event_type",
                    (F.col("user_id") * 10 + k).alias("user_id"),
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ev10d = tile_ed(ev1d, "r10d_ev10")

        def smk(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("x"))
            mat(seasonal_mann_kendall(daily, "di", "x", period=7))

        report("seasonal_mk", smk, ev1d, ev10d)

        def pcorr(e):
            pu = e.groupBy("user_id").agg(
                F.sum((F.col("event_type") == "view").cast("int")).alias("views"),
                F.sum((F.col("event_type") == "purchase").cast("int")).alias("purchases"),
                F.count(F.lit(1)).alias("total"),
            )
            mat(partial_corr_3var(pu, "views", "purchases", "total"))

        report("partial_corr", pcorr, ev1d, ev10d)

    if "round10e" in ops:
        # round-10 wave 5: integrated-gap drift pair
        from morphik_core_spark.operators.analytics import (
            cvm_statistic,
            wasserstein_1d,
        )

        o1e = load_table(spark, "orders", SF_DIR).select("o_orderkey", "o_orderstatus", "o_totalprice")

        def tile_oe(df, name):
            parts = [
                df.select(
                    (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
                    "o_orderstatus",
                    (F.col("o_totalprice") + F.lit(float(k)) * 0.01).alias("o_totalprice"),
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        o10e = tile_oe(o1e, "r10e_o10")

        def cents(o):
            return o.select(
                "o_orderstatus",
                F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
            )

        def cvm(o):
            c = cents(o)
            mat(cvm_statistic(
                c.filter(F.col("o_orderstatus") == "F"),
                c.filter(F.col("o_orderstatus") == "O"), "cents",
            ))

        report("cvm", cvm, o1e, o10e)

        def w1(o):
            c = cents(o)
            mat(wasserstein_1d(
                c.filter(F.col("o_orderstatus") == "F"),
                c.filter(F.col("o_orderstatus") == "O"), "cents",
            ))

        report("wasserstein", w1, o1e, o10e)

        from morphik_core_spark.operators.analytics import ad_statistic

        def ad(o):
            c = cents(o)
            mat(ad_statistic(
                c.filter(F.col("o_orderstatus") == "F"),
                c.filter(F.col("o_orderstatus") == "O"), "cents",
            ))

        report("anderson_darling", ad, o1e, o10e)

    if "round11" in ops:
        # round-11: multiplicative Holt-Winters (series-bounded driver
        # recursion — only the daily rollup scan grows with the corpus)
        from morphik_core_spark.operators.analytics import (
            holt_winters_multiplicative,
        )

        ev1k = load_table(spark, "events", SF_DIR).select("event_id", "ts")

        def tile_ek(df, name):
            parts = [
                df.select(
                    (F.col("event_id") * 10 + k).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        ev10k = tile_ek(ev1k, "r11_ev10")

        def hwm(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("y"))
            mat(holt_winters_multiplicative(daily, "di", "y", period=7))

        report("holt_winters_mult", hwm, ev1k, ev10k)

        # k-sample AD: dollar-grain pooled spine (10x rows mostly land
        # on existing grid cells) x 5 priority groups
        from morphik_core_spark.operators.analytics import ad_k_statistic

        o1k = load_table(spark, "orders", SF_DIR).select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )

        def tile_ok(df, name):
            parts = [
                df.select(
                    (F.col("o_orderkey") * 10 + k).alias("o_orderkey"),
                    "o_orderpriority",
                    (F.col("o_totalprice") + F.lit(float(k)) * 1.0).alias("o_totalprice"),
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        o10k = tile_ok(o1k, "r11_o10")

        def adk(o):
            d = o.select(
                "o_orderpriority",
                F.expr(
                    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"
                ).alias("dollars"),
            )
            mat(ad_k_statistic(d, "o_orderpriority", "dollars"))

        report("ad_k_sample", adk, o1k, o10k)

        # spread/trend wave: bartlett (k-row moments), DW/runs (day-grid
        # series), page (week x dow blocked ranks)
        from morphik_core_spark.operators.analytics import (
            bartlett_test,
            durbin_watson,
            page_trend_test,
            runs_test,
        )

        c1k = load_table(spark, "customer", SF_DIR).select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )

        def tile_ck(df, name):
            parts = [
                df.select(
                    (F.col("c_custkey") * 10 + k).alias("c_custkey"),
                    "c_mktsegment",
                    (F.col("c_acctbal") + F.lit(float(k)) * 0.01).alias("c_acctbal"),
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        c10k = tile_ck(c1k, "r11_c10")
        report(
            "bartlett",
            lambda c: mat(bartlett_test(c, "c_mktsegment", "c_acctbal", value_scale=100)),
            c1k, c10k,
        )

        def dw(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("y"))
            mat(durbin_watson(daily, "di", "y"))

        report("durbin_watson", dw, ev1k, ev10k)

        def runs(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("y"))
            mat(runs_test(daily, "di", "y"))

        report("runs_test", runs, ev1k, ev10k)

        def page(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("x")).select(
                F.expr("di div 7").alias("wk"),
                F.expr("CAST(di % 7 AS STRING)").alias("dow"),
                "x",
            )
            mat(page_trend_test(daily, "wk", "dow", "x"))

        report("page_trend", page, ev1k, ev10k)

        # paired/heteroscedastic/normality/shift wave
        from morphik_core_spark.operators.analytics import (
            dagostino_k2,
            hodges_lehmann_shift,
            welch_anova,
            wilcoxon_signed_rank,
        )

        def wilcoxon(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("y"))
            cur = daily.select("di", F.col("y").alias("x"))
            prev = daily.select((F.col("di") + 7).alias("di"), F.col("y").alias("yprev"))
            mat(wilcoxon_signed_rank(cur.join(prev, "di"), "x", "yprev"))

        report("wilcoxon_wow", wilcoxon, ev1k, ev10k)

        report(
            "welch_anova",
            lambda c: mat(welch_anova(c, "c_mktsegment", "c_acctbal", value_scale=100)),
            c1k, c10k,
        )

        report(
            "dagostino",
            lambda d: mat(dagostino_k2(d, "n_chars")),
            docs1, docs10,
        )

        li1k = load_table(spark, "lineitem", SF_DIR).select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
        )

        def tile_lk(df, name):
            parts = [
                df.select(
                    (F.col("l_orderkey") * 10 + k).alias("l_orderkey"),
                    "l_linenumber",
                    "l_returnflag",
                    "l_quantity",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        li10k = tile_lk(li1k, "r11_li10")

        def hl(li):
            q = li.select("l_returnflag", F.col("l_quantity").cast("bigint").alias("q"))
            mat(hodges_lehmann_shift(
                q.filter(F.col("l_returnflag") == "R").select("q"),
                q.filter(F.col("l_returnflag") == "N").select("q"), "q",
            ))

        report("hodges_lehmann", hl, li1k, li10k)

        from morphik_core_spark.operators.analytics import theta_forecast

        def theta(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("y"))
            mat(theta_forecast(daily, "di", "y", alpha=0.5))

        report("theta_forecast", theta, ev1k, ev10k)

        from morphik_core_spark.operators.analytics import cronbach_alpha, kendall_w

        evt1 = load_table(spark, "events", SF_DIR).select("event_id", "ts", "event_type")

        def tile_evt(df, name):
            parts = [
                df.select(
                    (F.col("event_id") * 10 + k).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
                    "event_type",
                )
                for k in range(10)
            ]
            out = parts[0]
            for v in parts[1:]:
                out = out.unionByName(v)
            pth = os.path.join(tmp, name)
            out.write.mode("overwrite").parquet(pth)
            return spark.read.parquet(pth)

        evt10 = tile_evt(evt1, "r11_evt10")

        def cron(e):
            rows = e.withColumn("one", F.lit(1)).select(
                F.expr("unix_micros(ts) div 86400000000").alias("di"),
                F.col("event_type"), "one",
            )
            mat(cronbach_alpha(rows, "di", "event_type", "one"))

        report("cronbach", cron, evt1, evt10)

        def kw(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di"),
                "event_type",
            ).agg(F.count(F.lit(1)).alias("x"))
            mat(kendall_w(daily, "di", "event_type", "x"))

        report("kendall_w", kw, evt1, evt10)

        from morphik_core_spark.operators.analytics import cochran_q
        from pyspark.sql import Window as _W

        def cq(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di"),
                "event_type",
            ).agg(F.count(F.lit(1)).alias("x"))
            grid = daily.groupBy("event_type", "x").agg(F.count(F.lit(1)).alias("c"))
            w_cum = (_W.partitionBy("event_type").orderBy(F.col("x").asc())
                     .rowsBetween(_W.unboundedPreceding, _W.currentRow))
            med = (grid.withColumn("cum", F.sum("c").over(w_cum))
                   .withColumn("nt", F.sum("c").over(_W.partitionBy("event_type")))
                   .filter(F.expr("cum * 2 >= nt"))
                   .groupBy("event_type").agg(F.min("x").alias("med")))
            flags = daily.join(F.broadcast(med), "event_type").select(
                "di", "event_type", (F.col("x") > F.col("med")).cast("int").alias("f"))
            mat(cochran_q(flags, "di", "event_type", "f"))

        report("cochran_q", cq, evt1, evt10)

        from morphik_core_spark.operators.analytics import page_hinkley

        def ph(e):
            daily = e.groupBy(
                F.expr("unix_micros(ts) div 86400000000").alias("di")
            ).agg(F.count(F.lit(1)).alias("y"))
            mat(page_hinkley(daily, "di", "y", delta=2.0, lam=100.0))

        report("page_hinkley", ph, ev1k, ev10k)

    if "pipeline" in ops:
        # the COMPOSED curation pipeline end-to-end: if each stage is
        # sublinear but the composition weren't (e.g. a stage forcing
        # recomputation of everything upstream per count), this is where
        # it would show. Stage stats run .count() per stage, so the 10x
        # corpus also exercises repeated-action lineage costs.
        from morphik_core_spark.pipeline import run_curation_pipeline

        rates = {f"src{i}": 40 + (13 * i) % 61 for i in range(20)}

        def full_pipeline(d):
            curated, audit, _stats = run_curation_pipeline(
                d, mixture_rates=rates, n_shards=16
            )
            mat(audit)

        report("curation_pipeline", full_pipeline, docs1, docs10)


if __name__ == "__main__":
    main()
