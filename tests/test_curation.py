"""Curation operators: quality rules, splits, sampling, percentiles,
packing — semantic invariants (oracle parity is covered separately in
test_oracle_parity.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from morphik_core_spark.operators import curation
from morphik_core_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir)


def test_quality_filter_passes_is_conjunction(docs):
    out = curation.quality_filter(docs, "text", "doc_id")
    rule_cols = ["ok_word_count", "ok_word_len", "ok_symbols", "ok_alpha", "ok_stopwords"]
    conj = F.lit(True)
    for c in rule_cols:
        conj = conj & F.col(c)
    assert out.filter(F.col("passes") != conj).count() == 0
    # the rules must actually discriminate on this corpus (not vacuous)
    n_pass = out.filter("passes").count()
    assert 0 < n_pass <= out.count()


def test_stratified_split_deterministic_and_complete(docs):
    a = curation.stratified_split(docs, "doc_id", "lang").collect()
    b = curation.stratified_split(docs, "doc_id", "lang").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    total = sum(r.n_docs for r in a)
    assert total == docs.count()
    by_split = {}
    for r in a:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    # 90/5/5 within generous tolerance at 500 docs
    assert by_split["train"] / total > 0.8
    assert set(by_split) == {"train", "val", "test"}


def test_group_topn_bounds_and_order(docs):
    out = curation.group_topn(docs, "lang", "n_chars", "doc_id", n=5).collect()
    per_group: dict[str, list] = {}
    for r in out:
        per_group.setdefault(r.lang, []).append(r)
    n_langs = docs.select("lang").distinct().count()
    assert len(per_group) == n_langs
    for rows in per_group.values():
        assert len(rows) <= 5
        rows = sorted(rows, key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, len(rows) + 1))
        chars = [r.n_chars for r in rows]
        assert chars == sorted(chars, reverse=True)


def test_length_percentiles_are_ordered_data_values(docs):
    out = curation.length_percentiles(docs, "lang", "n_chars").collect()
    values = {
        r.lang: set(x.n_chars for x in docs.filter(F.col("lang") == r.lang).collect())
        for r in out
    }
    for r in out:
        assert r.p50 <= r.p90 <= r.p99
        assert {r.p50, r.p90, r.p99} <= values[r.lang]


def test_sequence_packing_conserves_docs_and_tokens(docs):
    budget = 512
    packs = curation.sequence_packing(docs, "lang", "doc_id", "text", budget=budget)
    rows = packs.collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    total_tokens = sum(r.pack_tokens for r in rows)
    from morphik_core_spark.operators.dedup import normalize_text

    expect = docs.select(
        F.sum(F.size(F.split(normalize_text(F.col("text")), " "))).alias("t")
    ).first().t
    assert total_tokens == expect
    # packs are dense per group: ids 0..max with no gaps (concat layout)
    per_group: dict[str, list] = {}
    for r in rows:
        per_group.setdefault(r.lang, []).append(r.pack_id)
    for ids in per_group.values():
        assert sorted(ids) == list(range(max(ids) + 1))


def test_sequence_packing_sharded_skewed_group(spark):
    """One giant group must split across (group, shard) window partitions:
    conservation laws hold, every shard's packs are dense, and no window
    partition holds the whole group."""
    n = 400
    df = spark.createDataFrame(
        [(i, "en", "tok " * (1 + i % 7)) for i in range(n)], "doc_id long, lang string, text string"
    )
    packs = curation.sequence_packing(df, "lang", "doc_id", "text", budget=64, shards=4)
    rows = packs.collect()
    assert sum(r.n_docs for r in rows) == n
    # pack ids decompose into (shard, local) with dense local ids per shard
    stride = curation.PACK_SHARD_STRIDE
    per_shard: dict[int, list] = {}
    for r in rows:
        per_shard.setdefault(r.pack_id // stride, []).append(r.pack_id % stride)
    assert sorted(per_shard) == [0, 1, 2, 3]  # all 4 shards populated
    for locals_ in per_shard.values():
        assert sorted(locals_) == list(range(max(locals_) + 1))
    # shards bound the partition: no single shard packed the whole group
    assert max(sum(1 for r in rows if r.pack_id // stride == s) for s in per_shard) < len(rows)

    # the auto-probe leaves small inputs unsharded (pack ids stay < stride)
    auto = curation.sequence_packing(df, "lang", "doc_id", "text", budget=64)
    assert all(r.pack_id < stride for r in auto.collect())
    # and a forced probe limit shards them
    forced = curation.sequence_packing(df, "lang", "doc_id", "text", budget=64, auto_shard_rows=10)
    assert any(r.pack_id >= stride for r in forced.collect())


def test_decontaminate_flags_overlapping_train_doc(spark):
    """Doc whose id hashes into the train bucket and shares a 3-gram with
    an eval-bucket doc gets counted; the int-space flag trips at >=10%."""
    from morphik_core_spark.operators import curation
    from morphik_core_spark.operators.dedup import portable_hash
    from pyspark.sql import functions as F

    # find ids landing in train (<90) and eval (>=95) buckets deterministically
    probe = spark.createDataFrame([(i,) for i in range(200)], "doc_id long").select(
        "doc_id", (portable_hash(F.col("doc_id").cast("string")) % 100).alias("bk")
    )
    buckets = {r.doc_id: r.bk for r in probe.collect()}
    train_id = next(i for i, b in buckets.items() if b < 90)
    eval_id = next(i for i, b in buckets.items() if b >= 95)
    docs = spark.createDataFrame(
        [
            (train_id, "alpha beta gamma delta"),     # shares 'alpha beta gamma'
            (eval_id, "alpha beta gamma epsilon"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in curation.decontaminate(docs, "text", "doc_id").collect()}
    assert set(out) == {train_id}  # eval docs are never scored
    r = out[train_id]
    assert (r.n_shingles, r.n_shared) == (2, 1)
    assert r.contaminated is True  # 10*1 >= 2


def test_mixture_sample_rates_and_determinism(spark):
    from morphik_core_spark.operators import curation

    docs = spark.createDataFrame(
        [(i, "dom_a" if i % 2 == 0 else "dom_b") for i in range(400)],
        "doc_id long, source string",
    )
    rates = {"dom_a": 100, "dom_b": 0}
    out = curation.mixture_sample(docs, "doc_id", "source", rates)
    rows = out.collect()
    assert len(rows) == 200 and all(r.source == "dom_a" for r in rows)
    # determinism: same inputs -> identical membership set
    again = curation.mixture_sample(docs, "doc_id", "source", rates).collect()
    assert sorted(r.doc_id for r in rows) == sorted(r.doc_id for r in again)
    # unknown domains are dropped (inner join against the rates dim)
    partial = curation.mixture_sample(docs, "doc_id", "source", {"dom_a": 50})
    assert partial.filter("source = 'dom_b'").count() == 0
    # ~50% keep rate, hash-uniform: allow a generous band
    kept = partial.count()
    assert 60 <= kept <= 140


def test_pii_scrub_counts_and_redaction(spark):
    from morphik_core_spark.operators.curation import pii_scrub

    rows = [
        (1, "mail bob.smith@corp.example.org and alice_1@x.io now"),
        (2, "call 555-0142 or 555-9999; not 1555-0142x"),
        (3, "server at 10.0.3.17 and 192.168.255.1 up"),
        (4, "clean text with no identifiers at all"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(df, "text", "doc_id").collect()}

    assert got[1].email_cnt == 2 and got[1].phone_cnt == 0 and got[1].ipv4_cnt == 0
    assert got[1].redacted == "mail [EMAIL] and [EMAIL] now"
    # \b keeps 1555-0142 from matching; trailing x blocks nothing extra
    assert got[2].phone_cnt == 2 and got[2].redacted == "call [PHONE] or [PHONE]; not 1555-0142x"
    assert got[3].ipv4_cnt == 2 and got[3].redacted == "server at [IP] and [IP] up"
    assert got[4].redacted == rows[3][1] and got[4].email_cnt == 0
    assert got[5].redacted is None and got[5].email_cnt is None  # null in, null out


def test_pii_scrub_email_wins_over_ip_rule(spark):
    """Fixed order: a dotted quad INSIDE an email's domain is consumed by
    the email pass first, never double-redacted; a bare numeric host is
    not an email (the TLD must be alphabetic) and falls to the IP rule."""
    from morphik_core_spark.operators.curation import pii_scrub

    df = spark.createDataFrame(
        [(1, "x a@10.0.0.7.corp.com y 10.0.0.7 z"), (2, "w a@10.0.0.7 v")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scrub(df, "text", "doc_id").collect()}
    assert got[1].redacted == "x [EMAIL] y [IP] z"
    # sequential counting: the quad inside the email domain was already
    # redacted when the IP rule ran, so it is NOT double-counted
    assert got[1].email_cnt == 1 and got[1].ipv4_cnt == 1
    assert got[2].redacted == "w a@[IP] v" and got[2].email_cnt == 0 and got[2].ipv4_cnt == 1


def test_perplexity_bigram_lm_hand_check(spark):
    """Hand-computed add-one bigram perplexity on a 2-doc corpus."""
    import math

    from morphik_core_spark.operators.curation import perplexity_scores

    rows = [(1, "a b a b"), (2, "a b b a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in perplexity_scores(df, "text", "doc_id").collect()}

    # corpus bigrams (with <s>): d1: (<s>,a)(a,b)(b,a)(a,b)  d2: (<s>,a)(a,b)(b,b)(b,a)
    cb = {("<s>", "a"): 2, ("a", "b"): 3, ("b", "a"): 2, ("b", "b"): 1}
    cu = {"<s>": 2, "a": 3, "b": 3}
    vocab = 2  # distinct `cur` values: a, b

    def ppl(bgs):
        s = sum(math.log((cb[bg] + 1.0) / (cu[bg[0]] + vocab)) for bg in bgs)
        return round(math.exp(-s / len(bgs)), 6)

    d1 = [("<s>", "a"), ("a", "b"), ("b", "a"), ("a", "b")]
    d2 = [("<s>", "a"), ("a", "b"), ("b", "b"), ("b", "a")]
    assert got[1].n_bigrams == 4 and got[1].ppl == pytest.approx(ppl(d1), abs=1e-6)
    assert got[2].n_bigrams == 4 and got[2].ppl == pytest.approx(ppl(d2), abs=1e-6)
    # d2 contains the rarer (b,b) transition -> higher perplexity
    assert got[2].ppl > got[1].ppl


def test_url_filter_schemes_subdomains_and_malformed(spark):
    from morphik_core_spark.operators.curation import url_filter

    rows = [
        (1, "https://good.example.org/page"),
        (2, "https://ads.example.com/x"),          # exact blocklist hit
        (3, "https://sub.ads.example.com/x"),      # subdomain hit
        (4, "https://notads.example.com/x"),       # suffix must NOT match mid-label
        (5, "ftp://good.example.org/x"),           # scheme rejected
        (6, "no scheme at all"),                   # malformed
        (7, None),
        (8, "HTTPS://ADS.EXAMPLE.COM/upper"),      # case-insensitive
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r for r in url_filter(df, "url", "doc_id", ["ads.example.com"]).collect()}

    assert got[1].keep and got[1].blocked_by is None and got[1].host == "good.example.org"
    assert not got[2].keep and got[2].blocked_by == "ads.example.com"
    assert not got[3].keep and got[3].blocked_by == "ads.example.com"
    assert got[4].keep  # 'notads.example.com' does not end with '.ads.example.com'
    assert not got[5].keep and got[5].blocked_by is None and got[5].scheme == "ftp"
    assert not got[6].keep and got[6].host is None
    assert not got[7].keep
    assert not got[8].keep and got[8].blocked_by == "ads.example.com"


def test_weighted_sample_proportional_and_deterministic(spark):
    from morphik_core_spark.operators.curation import weighted_sample

    # heavy ids weighted 50x: they must dominate the sample
    rows = [(f"h{i}", 5000) for i in range(50)] + [(f"l{i}", 100) for i in range(450)]
    df = spark.createDataFrame(rows, "doc_id string, w int")
    got = [r.doc_id for r in weighted_sample(df, "doc_id", "w", k=50).collect()]
    heavy = sum(1 for d in got if d.startswith("h"))
    assert heavy >= 25  # 10% of rows carry ~36% of weight; E-S should over-select them

    again = [r.doc_id for r in weighted_sample(df, "doc_id", "w", k=50).collect()]
    assert got == again  # bit-reproducible, ordering included
    # different salt -> different (but still deterministic) draw
    other = [r.doc_id for r in weighted_sample(df, "doc_id", "w", k=50, salt="other").collect()]
    assert got != other
    # non-positive weights never qualify
    dfz = spark.createDataFrame([("a", 0), ("b", -3), ("c", 10)], "doc_id string, w int")
    assert [r.doc_id for r in weighted_sample(dfz, "doc_id", "w", k=5).collect()] == ["c"]


def test_weighted_sample_plan_is_takeordered(spark):
    from morphik_core_spark.operators.curation import weighted_sample

    df = spark.createDataFrame([(str(i), i + 1) for i in range(100)], "doc_id string, w int")
    plan = weighted_sample(df, "doc_id", "w", k=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no full sort


def test_dsir_weights_separate_target_like_docs(spark):
    # target model trained on "alpha" vocabulary; raw pool is "beta" docs
    # plus one alpha-flavored raw doc that should outscore its beta peers
    rows = (
        [(i, "alpha gamma alpha delta alpha gamma", True) for i in range(10)]
        + [(100 + i, "beta epsilon beta zeta beta epsilon", False) for i in range(10)]
        + [(999, "alpha gamma alpha gamma alpha", False)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = curation.dsir_importance_weights(df, "text", "doc_id", F.col("is_t"), buckets=64)
    logw = {r.doc_id: r.logw for r in out.collect()}
    beta_scores = [logw[100 + i] for i in range(10)]
    assert logw[999] > max(beta_scores)  # target-like raw doc wins
    # deterministic across runs and partitionings (int micro-unit sums)
    out2 = curation.dsir_importance_weights(
        df.repartition(7), "text", "doc_id", F.col("is_t"), buckets=64
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_dsir_single_token_and_empty_docs_survive(spark):
    df = spark.createDataFrame(
        [(1, "one", True), (2, "", False), (3, None, False), (4, "a b", False)],
        "doc_id long, text string, is_t boolean",
    )
    out = curation.dsir_importance_weights(df, "text", "doc_id", F.col("is_t"), buckets=16)
    got = {r.doc_id: r.n_grams for r in out.collect()}
    assert got[1] == 1  # unigram only, no bigram blowup
    assert got[4] == 3  # 2 unigrams + 1 bigram
    assert 3 not in got  # NULL text filtered


def test_dsir_resample_is_gumbel_topk_deterministic(spark):
    rows = [(i, float(i) / 10.0) for i in range(100)]
    w = spark.createDataFrame(rows, "doc_id long, logw double")
    a = curation.dsir_resample(w, k=10, id_col="doc_id").collect()
    b = curation.dsir_resample(w, k=10, id_col="doc_id").collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert len(a) == 10
    # higher logw should dominate the winners (gumbel noise is O(1),
    # weights span 0..9.9)
    assert sum(1 for r in a if r.logw > 5.0) >= 8


def test_perplexity_buckets_tercile_sizes_and_ranges(spark, docs):
    out = curation.perplexity_buckets(docs, "text", "doc_id", "lang").collect()
    assert all(r.min_ppl is not None and r.max_ppl is not None for r in out)
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, buckets in by_lang.items():
        assert set(buckets) <= {"head", "middle", "tail"}
        n = sum(r.n_docs for r in buckets.values())
        if n >= 3:
            # head gets ceil(n/3) rows; no bucket is more than half the group
            assert all(r.n_docs <= (n + 1) // 2 for r in buckets.values())
            # ppl ranges are ordered head <= middle <= tail
            if "head" in buckets and "middle" in buckets:
                assert buckets["head"].max_ppl <= buckets["middle"].min_ppl
            if "middle" in buckets and "tail" in buckets:
                assert buckets["middle"].max_ppl <= buckets["tail"].min_ppl

    # ppl is never NULL, so no cut is: a NULL text drops before scoring,
    # the <s> start token gives an empty, whitespace-only or one-token text
    # one bigram, and the join back on the id drops a NULL id
    edge = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en"),
            (2, "", "en"),
            (3, "   ", "en"),
            (4, "hello", "en"),
            (5, "the cat", "en"),
            (6, None, "en"),
            (None, "the dog sat", "en"),
            (7, "bonjour", "fr"),
            (8, None, "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    out = curation.perplexity_buckets(edge, "text", "doc_id", "lang").collect()
    assert all(r.min_ppl is not None and r.max_ppl is not None for r in out)
    n_docs = {}
    for r in out:
        n_docs[r.lang] = n_docs.get(r.lang, 0) + r.n_docs
    assert n_docs == {"en": 5, "fr": 1}


def test_unicode_normalization_stats_nfc(spark):
    rows = [
        (1, "plain ascii"),
        (2, "cafe\u0301 combining"),      # NFC shortens: e+U+0301 -> é
        (3, "caf\u00e9 precomposed"),     # already NFC
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in curation.unicode_normalization_stats(df, "text", "doc_id").collect()}
    assert out[1].changed is False and out[1].len_before == out[1].len_after
    assert out[2].changed is True and out[2].len_after == out[2].len_before - 1
    assert out[3].changed is False
    # composed and decomposed inputs converge to the same digest
    df2 = spark.createDataFrame([(9, "cafe\u0301"), (10, "caf\u00e9")], "doc_id long, text string")
    got = {r.doc_id: r.norm_md5 for r in curation.unicode_normalization_stats(df2, "text", "doc_id").collect()}
    assert got[9] == got[10]


def test_temperature_mixture_rates_balances_and_validates(spark):
    from morphik_core_spark.operators.curation import temperature_mixture_rates

    df = spark.createDataFrame(
        [(i, "hi" if i < 90 else "lo") for i in range(100)], "id long, grp string"
    )
    out = {r.grp: r for r in temperature_mixture_rates(df, "grp", temperature=4).collect()}
    # T=4 flattens: the minority group is upsampled, the majority damped
    assert out["lo"].boost > 1.0 > out["hi"].boost
    assert abs(out["hi"].temp_share + out["lo"].temp_share - 1.0) < 1e-5
    assert out["hi"].natural_share == 0.9

    # T=1 is the identity mixture (natural == temp, boost == 1)
    ident = {r.grp: r for r in temperature_mixture_rates(df, "grp", temperature=1).collect()}
    assert ident["hi"].boost == 1.0 == ident["lo"].boost

    import pytest as _pytest

    with _pytest.raises(ValueError, match="power of two"):
        temperature_mixture_rates(df, "grp", temperature=3)


def test_grouped_split_no_group_leakage(spark):
    from morphik_core_spark.operators.curation import grouped_split, split_bucket
    from pyspark.sql import functions as F

    rows = [(u, i) for u in range(40) for i in range(3)]
    df = spark.createDataFrame(rows, "uid long, item long")
    out = {r["split"]: r for r in grouped_split(df, "uid").collect()}
    assert sum(r["n_rows"] for r in out.values()) == 120
    # every group's 3 rows land in ONE split
    assert sum(r["n_groups"] for r in out.values()) == 40
    # leakage check from first principles: split is a function of uid
    per = (
        df.select("uid", (split_bucket(F.col("uid").cast("string")) < 90).alias("s"))
        .groupBy("uid").agg(F.countDistinct("s").alias("k")).agg(F.max("k")).collect()[0][0]
    )
    assert per == 1


def test_temporal_split_embargo_bounds(spark):
    from morphik_core_spark.operators.curation import temporal_split

    df = spark.createDataFrame([(i,) for i in range(30)], "d long")
    out = {r["split"]: r for r in temporal_split(df, "d", cutoff_idx=20, embargo=2).collect()}
    assert out["train"]["max_idx"] == 19 and out["train"]["n_rows"] == 20
    assert out["embargo"]["min_idx"] == 20 and out["embargo"]["max_idx"] == 21
    assert out["test"]["min_idx"] == 22 and out["test"]["n_rows"] == 8
    # zero embargo: no embargo rows emitted
    out2 = {r["split"]: r for r in temporal_split(df, "d", cutoff_idx=20, embargo=0).collect()}
    assert set(out2) == {"train", "test"} and out2["test"]["min_idx"] == 20


def test_quality_ensemble_rank_fusion(spark):
    from morphik_core_spark.operators.curation import quality_ensemble

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),      # long, all distinct
        (2, "a a a a a a"),                               # long but degenerate
        (3, "wonderful"),                                 # short, max word len
        (4, "x y"),                                       # short, tiny words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_ensemble(df, "text", "doc_id", k=4)
    got = {r.doc_id: r for r in out.collect()}
    # doc1: best TTR rank among the long docs and longest -> top fusion
    top = out.collect()[0]
    assert top.doc_id == 1
    # ranks are a permutation of 1..4 per signal
    for c in ("r_len", "r_ttr", "r_mwl"):
        assert sorted(getattr(got[i], c) for i in got) == [1, 2, 3, 4]
    # rrf term spot-check: doc1 word_count rank 1 (6 words, tie w/ doc2
    # broken by id), ttr rank 1, mwl: doc3 has mean 9.0 -> r_mwl=1
    assert got[1].r_len == 1 and got[2].r_len == 2
    assert got[3].r_mwl == 1
    expected = sum(round(1e6 / (60 + r)) for r in (got[1].r_len, got[1].r_ttr, got[1].r_mwl))
    assert got[1].rrf_micro == expected


def test_length_matching_uniform_target(spark):
    from morphik_core_spark.operators.curation import length_matching

    # bucket 0: 4 docs, bucket 1: 12 docs -> keep_rate 1.0 and 1/3
    rows = [(i, 50) for i in range(4)] + [(100 + i, 150) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars int")
    out = {r.bucket: r for r in length_matching(df, "doc_id", "n_chars").collect()}
    assert out[0]["n"] == 4 and out[0]["keep_rate"] == 1.0 and out[0]["kept_n"] == 4
    assert out[1]["n"] == 12 and out[1]["keep_rate"] == round(4 / 12, 6)
    # hash keep thins bucket 1 toward 4; exact count is deterministic
    assert 0 < out[1]["kept_n"] <= 12
    k1 = length_matching(df, "doc_id", "n_chars").collect()
    k2 = length_matching(df.repartition(7), "doc_id", "n_chars").collect()
    assert sorted(map(tuple, k1)) == sorted(map(tuple, k2))


def test_length_matching_single_bucket_keeps_all(spark):
    from morphik_core_spark.operators.curation import length_matching

    df = spark.createDataFrame([(i, 10 + i) for i in range(8)], "doc_id long, n_chars int")
    out = length_matching(df, "doc_id", "n_chars", bucket_width=1000).collect()
    assert len(out) == 1 and out[0]["kept_n"] == 8 and out[0]["keep_rate"] == 1.0


def test_boilerplate_profile_detects_repeated_segments(spark):
    from morphik_core_spark.operators.curation import boilerplate_profile

    footer = "contact us today"
    rows = [
        (1, "s1", f"alpha beta gamma {footer}"),
        (2, "s1", f"delta epsilon zeta {footer}"),
        (3, "s1", f"eta theta iota {footer}"),
        (4, "s2", "unique words only here"),
        (5, "s2", f"kappa lam mu {footer}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in boilerplate_profile(
        df, "doc_id", "text", "source", seg_words=3, min_docs=3
    ).collect()}
    # each doc = 7 tokens -> segments of 3/3/1; the footer occupies the
    # 2nd 3-token segment (pos 3..5) only when aligned; with 7 tokens the
    # segments are [0:3],[3:6],[6:7] -> "contact us today" never aligns.
    # Re-derive: tokens 0-2 body, 3-5 = "contact us today"? body is 3
    # words + footer 3 words = 6 tokens + 0 -> segments [0:3]=body,
    # [3:6]=footer. 'contact us today' appears in docs 1,2,3,5 -> bp.
    assert out["s1"]["n_docs"] == 3
    assert out["s1"]["n_bp_segments"] == 1
    # docs in s1 have 6 tokens, 3 of them boilerplate
    assert out["s1"]["mean_bp_ratio"] == 0.5
    assert out["s1"]["hit_share"] == 1.0
    assert out["s2"]["hit_share"] == 0.5
    assert out["s2"]["n_bp_segments"] == 1


def test_boilerplate_profile_no_repeats_means_zero(spark):
    from morphik_core_spark.operators.curation import boilerplate_profile

    rows = [(i, "s", f"w{i}a w{i}b w{i}c w{i}d") for i in range(10)]
    [r] = boilerplate_profile(
        spark.createDataFrame(rows, "doc_id long, source string, text string"),
        "doc_id", "text", "source", seg_words=2, min_docs=2,
    ).collect()
    assert r["mean_bp_ratio"] == 0.0 and r["hit_share"] == 0.0 and r["n_bp_segments"] == 0


def test_boilerplate_profile_partition_invariant(spark):
    from morphik_core_spark.operators.curation import boilerplate_profile

    words = ["the", "quick", "brown", "fox", "jumps", "over"]
    rows = [
        (i, f"s{i % 2}", " ".join(words[(i + j) % 6] for j in range(5 + i % 4)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = sorted(map(tuple, boilerplate_profile(df, "doc_id", "text", "source").collect()))
    b = sorted(map(tuple, boilerplate_profile(df.repartition(11), "doc_id", "text", "source").collect()))
    assert a == b


def test_ipf_raking_converges_to_uniform_marginals(spark):
    """After 10 rounds the weighted lang and source marginals must both
    sit within a small tolerance of uniform, and the weighted mass must
    renormalize to ~N."""
    from morphik_core_spark.operators.curation import ipf_raking

    rows = []
    k = 0
    for lang, base in (("en", 50), ("de", 20), ("fr", 5)):
        for src, mult in (("s1", 3), ("s2", 1)):
            for _ in range(base * mult):
                rows.append((k, lang, src))
                k += 1
    df = spark.createDataFrame(rows, "id long, lang string, source string")
    out = ipf_raking(df, "lang", "source", iters=10).collect()
    assert len(out) == 6
    total = sum(r["n_rows"] * r["weight"] for r in out)
    by_lang: dict = {}
    by_src: dict = {}
    for r in out:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + r["n_rows"] * r["weight"]
        by_src[r["source"]] = by_src.get(r["source"], 0) + r["n_rows"] * r["weight"]
    for v in by_lang.values():
        assert abs(v / total - 1 / 3) < 1e-3, by_lang
    for v in by_src.values():
        assert abs(v / total - 1 / 2) < 1e-3, by_src
    # weighted_share column agrees with the recomputed shares
    for r in out:
        assert r["weighted_share"] == pytest.approx(
            r["n_rows"] * r["weight"] / total, abs=1e-4
        )


def test_ipf_raking_empty_arm_does_not_crash(spark):
    """A single-column corpus (one source) is degenerate on the column
    dimension — the marginal floor must keep it finite and the row
    dimension must still balance."""
    from morphik_core_spark.operators.curation import ipf_raking

    rows = [(i, "en" if i % 4 else "de", "only") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, lang string, source string")
    out = ipf_raking(df, "lang", "source", iters=10).collect()
    total = sum(r["n_rows"] * r["weight"] for r in out)
    by_lang: dict = {}
    for r in out:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + r["n_rows"] * r["weight"]
    for v in by_lang.values():
        assert abs(v / total - 0.5) < 1e-3


def test_ipf_raking_rounds_half_away_from_zero(spark):
    """The weight trajectory must use half-away-from-zero rounding (the
    DuckDB/Spark ROUND convention) — Python's banker's round() would
    diverge from the unrolled-CTE oracle on an exact .5 quotient. A
    2-cell corpus with counts (1, 3) forces the first row-step quotient
    w·total/(n_dim·marg) = 1e6·4e6/(2·1e6) onto exact integers, then the
    (1, 1) column step hits .5 boundaries via the odd total."""
    from morphik_core_spark.operators.curation import ipf_raking

    # counts chosen so some update quotient lands exactly on .5 of a
    # micro-unit: total = 2_500_001 micro after one asymmetric step
    rows = (
        [(i, "a", "x") for i in range(1)]
        + [(100 + i, "a", "y") for i in range(2)]
        + [(200 + i, "b", "x") for i in range(1)]
    )
    df = spark.createDataFrame(rows, "id long, lang string, source string")
    out = {(r["lang"], r["source"]): r for r in ipf_raking(df, "lang", "source", iters=3).collect()}
    # replay the recursion with explicit half-away rounding
    import math

    def rha(x):
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    cells = {("a", "x"): 1, ("a", "y"): 2, ("b", "x"): 1}
    w = {k: 1_000_000 for k in cells}
    n_r, n_c = 2, 2
    for _ in range(3):
        for dim, n_dim in ((0, n_r), (1, n_c)):
            marg = {}
            for (r, c), n in cells.items():
                k = (r, c)[dim]
                marg[k] = marg.get(k, 0) + n * w[(r, c)]
            total = sum(marg.values())
            for (r, c), n in cells.items():
                k = (r, c)[dim]
                w[(r, c)] = rha(
                    float(w[(r, c)]) * float(total) / (float(n_dim) * float(max(marg[k], 1)))
                )
    for k, expect in w.items():
        got = out[k]["weight"]
        assert abs(got - rha(expect / 1e6 * 1e6) / 1e6) < 1e-9, (k, got, expect)
