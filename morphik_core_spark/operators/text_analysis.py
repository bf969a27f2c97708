"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

Pipeline-extension operators (not in the reference's surface) for
training-data curation. Everything is built-in expressions — these run
inside whole-stage codegen over the raw text column, one scan, no shuffle
(fingerprint/quality are pure per-row; langid is per-row against small
literal stopword arrays).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from morphik_core_spark.operators.dedup import normalize_text

__all__ = [
    "tokens",
    "text_stats",
    "language_id",
    "fingerprint",
    "winnow_fingerprints",
    "winnow_fingerprints_pandas",
    "bpe_token_stats",
    "repetition_signals",
    "bm25_topk",
    "pmi_bigrams",
    "BPE_TOKEN_RE",
    "STOPWORDS",
    "readability",
    "script_mix",
    "ngram_diversity",
    "zipf_slope",
    "vocab_jsd",
    "novelty_rate",
    "vocab_coverage",
    "token_entropy",
    "kneser_ney_bigram",
    "textrank_keywords",
    "heaps_law_fit",
]

# compact stopword profiles for the heuristic language scorer
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "zu", "ist", "ein", "nicht", "mit", "auf"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "pas", "pour"],
}


def tokens(text: Column) -> Column:
    return F.split(normalize_text(text), " ")


def text_stats(df: DataFrame, text_col: str, id_col: str, decimals: int = 6) -> DataFrame:
    """(id, token_cnt, stop_cnt, stop_ratio, avg_token_len, quality).

    quality: simple curation score — stopword ratio (fluency proxy) damped
    by degenerate token-length penalty. Deterministic and oracle-friendly;
    swap the formula freely, the plan shape is the point.
    """
    tk = tokens(F.col(text_col))
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    token_cnt = F.size("tk")
    stop_cnt = F.size(F.expr("filter(tk, x -> array_contains(en_arr, x))"))
    total_len = F.aggregate(F.transform(F.col("tk"), lambda t: F.length(t)), F.lit(0), lambda a, x: a + x)
    out = (
        df.select(F.col(id_col), tk.alias("tk"))
        .withColumn("en_arr", en)
        .select(
            F.col(id_col),
            token_cnt.alias("token_cnt"),
            stop_cnt.alias("stop_cnt"),
            total_len.alias("total_len"),
        )
        .withColumn("stop_ratio", F.round(F.col("stop_cnt") / F.col("token_cnt"), decimals))
        .withColumn("avg_token_len", F.round(F.col("total_len") / F.col("token_cnt"), decimals))
    )
    # quality is computed from RAW counts, not the rounded ratio: ratio*0.5
    # puts every odd 6th digit exactly on a .5 rounding boundary, where
    # Spark (HALF_UP) and other engines (nearest-double) disagree.
    quality = F.round(
        F.col("stop_cnt") * 0.5 / F.col("token_cnt")
        + F.when((F.col("avg_token_len") >= 3) & (F.col("avg_token_len") <= 10), 0.5).otherwise(0.0),
        decimals,
    )
    return out.select(id_col, "token_cnt", "stop_cnt", "stop_ratio", "avg_token_len", quality.alias("quality"))


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pred_lang): argmax of per-language stopword hits, ties broken
    by profile order (en > de > fr)."""
    tk = tokens(F.col(text_col))
    base = df.select(F.col(id_col), tk.alias("tk"))
    scores = {}
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        base = base.withColumn(f"arr_{lang}", arr)
        scores[lang] = F.size(F.expr(f"filter(tk, x -> array_contains(arr_{lang}, x))"))
    pred = (
        F.when((scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), F.lit("en"))
        .when(scores["de"] >= scores["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return base.select(F.col(id_col), pred.alias("pred_lang"))


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, fp): md5 of the normalized text — the exact-dedup key, exposed
    as a standalone fingerprinting op."""
    return df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp"))


#: Rabin–Karp parameters shared by the Spark, DuckDB, and numpy winnowing
#: forms. M = 2^31−1 keeps every Horner step (acc·B + c ≤ 2^31·257 + 2^21)
#: far inside int64 on all three engines; B = 257 > any byte value.
WINNOW_HASH_BASE = 257
WINNOW_HASH_MOD = 2_147_483_647


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): rolling-hash every character ``k``-gram, slide a
    ``w``-gram window, keep each window's minimum hash. Output is the
    DISTINCT (id, fp) fingerprint set — two docs sharing fingerprints
    share ≥ k-char runs, the standard plagiarism/near-dup sketch with a
    guarantee the whole-doc md5 (:func:`fingerprint`) can't give: any
    shared substring of length ≥ k + w − 1 is always detected.

    Relational (oracle-expressible) form: explode gram positions →
    polynomial Horner hash → sliding MIN window. The explode is a
    len(text)× row multiplication and the window shuffles on the doc id —
    the right shape for the DuckDB parity oracle, the wrong one for
    100 TB serving; :func:`winnow_fingerprints_pandas` is the one-pass
    Arrow twin (same split as simhash / simhash_pandas). Docs with fewer
    than w full windows (len < k + w − 1) yield no fingerprints by
    convention.

    The gram hash is Rabin–Karp: Horner fold of the k codepoints,
    ``h = fold(codes, 0, (acc, c) -> (acc*B + c) mod M)`` with
    B=:data:`WINNOW_HASH_BASE`, M=:data:`WINNOW_HASH_MOD`. Identical in
    Spark (``aggregate``), DuckDB (``list_reduce``), and numpy (Horner
    over sliding windows) — and unlike the md5-prefix hash it vectorizes:
    within-window collisions merely pick a different (still deterministic,
    still engine-identical) window minimum, so parity is unconditional.
    ASCII parity caveat: Spark ``ascii()`` reads the first UTF-16 unit,
    DuckDB ``ord()``/numpy read codepoints — identical on BMP text; the
    normalize chain is ASCII-oriented anyway (see simhash notes).
    """
    from pyspark.sql import Window

    norm = df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("t")).filter(
        F.length("t") >= k  # guard: sequence(1, n) needs n >= 1
    )
    horner = (
        f"aggregate(transform(sequence(1, {k}), j -> cast(ascii(substring(pg.gram, j, 1)) as bigint)), "
        f"cast(0 as bigint), (acc, c) -> (acc * {WINNOW_HASH_BASE} + c) % {WINNOW_HASH_MOD})"
    )
    grams = norm.select(
        F.col(id_col),
        F.expr(
            f"explode(transform(sequence(1, length(t) - {k} + 1), "
            f"i -> named_struct('pos', i, 'gram', substring(t, i, {k}))))"
        ).alias("pg"),
    ).select(id_col, F.col("pg.pos").alias("pos"), F.expr(horner).alias("h"))
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    whole = Window.partitionBy(id_col)
    return (
        grams.withColumn("winmin", F.min("h").over(win))
        .withColumn("max_pos", F.max("pos").over(whole))
        .filter(F.col("pos") <= F.col("max_pos") - (w - 1))  # full windows only
        .select(F.col(id_col), F.col("winmin").alias("fp"))
        .distinct()
    )


def winnow_fingerprints_pandas(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, w: int = 4,
    parallelism: int | None = None,
) -> DataFrame:
    """One-pass Arrow-batched winnowing — the serving form of
    :func:`winnow_fingerprints` (set-identical output, asserted in
    tests): per-row numpy sliding-window minimum, no row explosion, no
    shuffle. Same normalization parity notes as simhash_pandas
    (ASCII-only trim and \\s).

    The kernel is fully vectorized: codepoints via a utf-32 view, the
    Rabin–Karp gram hash as k Horner passes over a sliding-window view
    (same (acc·B + c) mod M fold as the Spark/DuckDB forms), then a
    windowed min — no per-character Python, no hashlib.

    ``parallelism``: optional repartition before the kernel, worth it on
    the single-row-group local testdata; at 100 TB inputs are already
    wide — leave None."""
    import re as _re

    import numpy as np
    import pandas as pd

    ws_run = _re.compile(r"[ \t\n\x0b\f\r]+")

    def _fps(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            norm = ws_run.sub(" ", (text or "").lower().strip(" "))
            n = len(norm) - k + 1
            if n < w:
                out.append([])
                continue
            codes = np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            sw = np.lib.stride_tricks.sliding_window_view(codes, k)
            h = np.zeros(sw.shape[0], dtype=np.int64)
            for j in range(k):
                h = (h * WINNOW_HASH_BASE + sw[:, j]) % WINNOW_HASH_MOD
            mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    from pyspark.sql.functions import pandas_udf

    if parallelism:
        # round-robin, not keyed: the kernel is per-row, any even spread works
        df = df.repartition(parallelism)

    # unannotated lambda → SCALAR (see simhash_pandas note on stringified hints)
    _udf = pandas_udf(lambda texts: _fps(texts), "array<long>")
    return df.select(
        F.col(id_col), F.explode(_udf(F.col(text_col))).alias("fp")
    )


# GPT-2-style pre-tokenizer, simplified to ASCII so the Java (Spark) and
# RE2 (DuckDB) engines agree: contraction suffixes, space-prefixed word /
# number / punctuation runs, residual whitespace.
BPE_TOKEN_RE = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ']+"


def bpe_token_stats(df: DataFrame, text_col: str, id_col: str, decimals: int = 6) -> DataFrame:
    """(id, ws_tokens, bpe_tokens, chars_per_token): token counts under the
    whitespace split AND a BPE-ish pre-tokenizer regex — the cheap
    LLM-cost estimator every training-data pipeline needs (whitespace
    undercounts punctuation-heavy text; chars/token ≈ 3.5-4.5 tracks
    real BPE vocabularies closely enough for budgeting).

    Pure codegen expressions (regexp_extract_all + size), one scan, no
    shuffle, no UDF.
    """
    t = normalize_text(F.col(text_col))
    ws = F.size(F.split(t, " "))
    bpe = F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), F.lit(0)))
    return df.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(F.length(t) / F.greatest(bpe, F.lit(1)), decimals).alias("chars_per_token"),
    )


def repetition_signals(
    df: DataFrame, text_col: str, id_col: str, n: int = 2, decimals: int = 6
) -> DataFrame:
    """(id, n_grams, top_gram, top_count, top_frac, dup_frac): Gopher-style
    word-n-gram repetition signals (Rae et al. 2021 A1.1 — "fraction of
    characters in the most frequent / in duplicated n-grams", counted in
    gram occurrences here): boilerplate and looping text score high and
    get culled before training.

    top_frac = occurrences of the single most frequent n-gram / all n-gram
    occurrences; dup_frac = occurrences of n-grams seen 2+ times / all
    occurrences. Ratios derive from raw int counts, rounded once (float
    parity rules in NOTES.md). Deterministic top gram under count ties:
    (count DESC, gram ASC) — same row_number ordering in the oracle.

    Scale: one groupBy on (id, gram) with map-side partials, then a
    per-doc window whose partitions are bounded by the per-document
    distinct-gram count (not corpus size) — no skew for any real document
    length. Docs shorter than n tokens yield no grams and are excluded
    (the MinHash/shingle convention).
    """
    from pyspark.sql import Window

    toks = F.split(normalize_text(F.col(text_col)), " ")
    # <n-token guard inside the expression (empty array => explode drops
    # the row): a .filter(size(tk) >= n) on the unpersisted projection
    # re-runs the whole tokenize in the pushed-down Filter (round-11)
    grams = F.expr(
        f"IF(size(tk) >= {n}, "
        f"transform(sequence(0, size(tk) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f'tk[i + {j}]' for j in range(n))})), "
        f"array())"
    )
    counts = (
        df.select(F.col(id_col), toks.alias("tk"))
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    aggs = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_grams"),
        F.coalesce(F.sum(F.when(F.col("cnt") >= 2, F.col("cnt"))), F.lit(0)).alias("dup_grams"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cnt").desc(), F.col("gram").asc())
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col), F.col("gram").alias("top_gram"), F.col("cnt").alias("top_count"))
    )
    return aggs.join(top, id_col).select(
        F.col(id_col),
        "n_grams",
        "top_gram",
        "top_count",
        F.round(F.col("top_count") / F.col("n_grams"), decimals).alias("top_frac"),
        F.round(F.col("dup_grams") / F.col("n_grams"), decimals).alias("dup_frac"),
    )


def _term_eq(value: str):
    # closure factory — PySpark late-binds loop variables in lambdas
    return lambda t: t == F.lit(value)


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    decimals: int = 6,
) -> DataFrame:
    """Okapi BM25 top-k over a text column (Robertson/Sparck Jones; the
    body-text big sibling of the filename ts_rank in functions/text — the
    reference's Postgres FTS surface, postgres_database.py:2700-2790,
    restated as a ranking that actually scales to corpus search).

    idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Plan shape: one scan computes (dl, tf_t...) per doc entirely in
    codegen (no explode, no shuffle); corpus stats (N, avgdl, df_t) are a
    single tiny aggregate broadcast back onto the per-doc frame; ranking
    is TakeOrderedAndProject. Two passes over the pruned text column —
    at 100 TB keep the tokenized projection persisted or maintain
    (N, avgdl, df) as an incrementally-updated stats table so scoring is
    one map-side pass.
    """
    toks = tokens(F.col(text_col))
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("tk")
    ).withColumn("dl", F.size("tk"))
    for i, t in enumerate(query_terms):
        base = base.withColumn(f"tf_{i}", F.size(F.filter(F.col("tk"), _term_eq(t))))
    base = base.drop("tk")
    from morphik_core_spark.plans.cache import scoped_persist

    # the tokenized projection feeds the stats aggregate AND the scoring
    # pass (the docstring's own 100 TB advice) - persist it
    base = scoped_persist(base)

    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    joined = base.crossJoin(F.broadcast(stats))

    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfreq = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        score = score + idf * tf * F.lit(k1 + 1.0) / denom
    out = joined.select(F.col(id_col), F.round(score, decimals).alias("score"))
    return (
        out.filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information.

    ``pmi(x,y) = ln( P(x,y) / (P(x)P(y)) )`` over corpus bigram/unigram
    frequencies — the classic collocation detector (Church & Hanks 1990).
    Output: (w1, w2, pair_cnt, pmi), the k highest-PMI bigrams with
    ``pair_cnt >= min_count``, ties broken on (w1, w2).

    Plan shape: one scan explodes bigrams, a second explodes unigrams;
    both aggregate with map-side combine (vocab-sized shuffles, not
    corpus-sized). The two corpus totals ride along as scalar aggregates
    via cross-joined 1-row frames — no collect, no second pass. Top-k is
    TakeOrderedAndProject.

    Float discipline: counts stay int64 until a single division tree
    ``(c_xy * N * N) / (N_bi * c_x * c_y)`` evaluated in doubles (each
    operand exact below 2**53), one ln, ROUND(6) — the identical
    expression tree an oracle engine reproduces bit-for-bit.
    """
    from morphik_core_spark.plans.cache import scoped_persist

    # tk is consumed by the unigram explode, the bigram explode, and the
    # bigram total; uni by its total and both join sides - persist both
    # so the corpus tokenizes once
    tk = scoped_persist(df.select(tokens(F.col(text_col)).alias("tk")))
    uni = scoped_persist(tk.select(F.explode("tk").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c1")
    ))
    bi = (
        tk.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS w1, tk[i + 1] AS w2))")
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= min_count)
    )
    n_uni = uni.agg(F.sum("c1").alias("n_uni"))
    n_bi = tk.select(
        F.greatest(F.size("tk") - 1, F.lit(0)).alias("nb")
    ).agg(F.sum("nb").alias("n_bi"))
    scored = (
        bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "cx"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "cy"), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .withColumn(
            "pmi",
            F.expr(
                "ROUND(ln((CAST(pair_cnt AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)) / "
                "(CAST(n_bi AS DOUBLE) * CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 6)"
            ),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
        .select("w1", "w2", "pair_cnt", "pmi")
    )


def ctfidf_keywords(
    df: DataFrame,
    text_col: str,
    cluster_col: str,
    top_n: int = 5,
    decimals: int = 6,
) -> DataFrame:
    """Class-TF-IDF cluster keywords (Grootendorst 2022, BERTopic): the
    terms that CHARACTERIZE each cluster, not each document —

        score(t, c) = tf_{t,c} * ln(1 + A / f_t)

    with tf_{t,c} the term's count inside cluster c, f_t its corpus
    count, and A the average token count per cluster. Complements
    ``tfidf_topterms`` (per-document): this is the labeling stage run
    after any clustering (IVF cells, dedup clusters, languages, topics).

    All counts are exact ints; A/f_t enters ln as one fixed double tree
    (A kept as num/den ints so no engine ever rounds an intermediate),
    rounded once at ``decimals``. Plan: one token explode feeding two
    partial aggregates (cluster-term and corpus-term) + a per-cluster
    top-n window over vocab-sized frames — nothing downstream of the
    explode scales with the corpus, only with the vocabulary.
    """
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(cluster_col).alias("cluster"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    )
    ctf = toks.groupBy("cluster", "term").agg(F.count(F.lit(1)).alias("ctf"))
    corpus = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f_t"))
    totals = toks.agg(
        F.count(F.lit(1)).alias("a_num"),
        F.countDistinct("cluster").alias("a_den"),
    )
    from pyspark.sql import Window

    scored = (
        ctf.join(corpus, "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "score",
            F.round(
                F.col("ctf")
                * F.log(
                    F.lit(1.0)
                    + F.col("a_num").cast("double")
                    / (F.col("a_den") * F.col("f_t")).cast("double")
                ),
                decimals,
            ),
        )
    )
    w = Window.partitionBy("cluster").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("cluster", "rank", "term", "ctf", "score")
    )


def readability(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Per-document Flesch reading-ease — the readability axis of the
    quality-filter family (Gopher/C4 filter on length/repetition;
    production curation stacks also gate on readability bands).

    score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    Everything is codegen string/regexp arithmetic, zero shuffle:
    sentences = [.!?]+ runs (min 1), words = whitespace tokens (min 1),
    syllables = vowel GROUPS per word (the standard heuristic: 'aeiouy'
    runs, each word min 1 — counted corpus-wide by marking groups with
    a regexp_replace and diffing lengths, so no per-word Python). The
    two divisions and the final ROUND(4) are one fixed double tree —
    cross-engine exact, and safe to aggregate further via the
    scaled-integer pattern if a corpus rollup is needed.

    Output: (id, n_sentences, n_words, n_syllables, flesch).
    """
    t = F.col(text_col)
    lower = F.lower(t)
    # sentence terminator runs; documents with no terminator count as 1
    n_sent = F.greatest(
        F.size(F.split(t, r"[.!?]+")) - 1, F.lit(1)
    )
    n_words = F.greatest(
        F.size(F.filter(F.split(t, r"\s+"), lambda w: w != "")), F.lit(1)
    )
    # mark each vowel run as one char, count the marks
    marked = F.regexp_replace(lower, "[aeiouy]+", "V")
    vowel_groups = F.length(marked) - F.length(F.regexp_replace(marked, "V", ""))
    # every word has >= 1 syllable: consonant-only words contribute 0
    # vowel groups, so top syllables up to the word count
    n_syll = F.greatest(vowel_groups, n_words)
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double")),
        4,
    )
    return df.filter(t.isNotNull() & (F.length(t) > 0)).select(
        F.col(id_col),
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        flesch.alias("flesch"),
    )


def script_mix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Per-document character-script composition: fractions of Latin
    letters, digits, CJK ideographs, whitespace, and other — plus a
    mixed-script flag (two scripts each above 10%), the classic spam /
    encoding-mojibake / wrong-langid signal web-corpus cleaning gates on
    (CJK spam inside Latin pages and vice versa).

    Counts come from length-diff after regexp_replace with explicit
    \\x{...} code-point classes — identical semantics in Java regex and
    RE2, verified cross-engine; ratios are exact-int divisions through
    ROUND(decimals) trees. Pure codegen, zero shuffle.

    Output: (id, n_chars, latin_ratio, digit_ratio, cjk_ratio,
    space_ratio, other_ratio, mixed_script).
    """
    t = F.col(text_col)
    total = F.length(t)

    def count_class(pattern: str) -> Column:
        return total - F.length(F.regexp_replace(t, pattern, ""))

    n_latin = count_class("[A-Za-z\\x{00c0}-\\x{024f}]")
    n_digit = count_class("[0-9]")
    n_cjk = count_class("[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}]")
    n_space = count_class("[\\s]")

    def ratio(n: Column) -> Column:
        return F.round(n.cast("double") / total.cast("double"), decimals)

    latin_r, cjk_r = ratio(n_latin), ratio(n_cjk)
    mixed = (latin_r > 0.1) & (cjk_r > 0.1)
    return df.filter(t.isNotNull() & (total > 0)).select(
        F.col(id_col),
        total.alias("n_chars"),
        latin_r.alias("latin_ratio"),
        ratio(n_digit).alias("digit_ratio"),
        cjk_r.alias("cjk_ratio"),
        ratio(n_space).alias("space_ratio"),
        ratio(total - n_latin - n_digit - n_cjk - n_space).alias("other_ratio"),
        mixed.alias("mixed_script"),
    )


def ngram_diversity(
    df: DataFrame, text_col: str, group_col: str, n: int = 3, decimals: int = 6
) -> DataFrame:
    """Corpus-diversity audit: per group, total word n-grams vs distinct
    word n-grams and their ratio (the n-gram type/token ratio). Low
    values flag template-generated or self-repetitive sources — the
    cross-document complement of the per-document `repetition_signals`
    (this one catches a source whose DOCUMENTS are individually clean
    but near-identical to each other), and a standard diversity metric
    in data-mixture reports (cf. self-BLEU / distinct-n in generation
    eval).

    Plan: one projection builds the n-gram array per doc (same token
    recipe as the MinHash shingler, but WITHOUT the per-doc distinct —
    totals must count repeats), one explode, one groupBy with a distinct
    agg (Spark expands it to the standard two-level partial aggregation;
    the shuffle is keyed on (group, gram) — uniform, no hot keys).
    Ratio from raw integer counts, rounded once.
    """
    toks = tokens(F.col(text_col))
    # guard inside the expression, not a .filter: see repetition_signals
    grams = F.expr(
        f"IF(size(tk) >= {n}, "
        f"transform(sequence(0, size(tk) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f'tk[i + {j}]' for j in range(n))})), "
        f"array())"
    )
    exploded = (
        df.select(F.col(group_col), toks.alias("tk"))
        .select(F.col(group_col), F.explode(grams).alias("gram"))
    )
    return (
        exploded.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("gram").alias("n_distinct"),
        )
        .select(
            group_col,
            "n_grams",
            "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_grams"), decimals).alias("diversity"),
        )
    )


def zipf_slope(
    df: DataFrame,
    text_col: str,
    group_col: str,
    top_n: int = 500,
    decimals: int = 6,
) -> DataFrame:
    """Zipf rank-frequency audit: per group, the OLS slope of ln(freq)
    on ln(rank) over the ``top_n`` most frequent tokens. Natural text
    sits near −1; slopes far from it flag synthetic/templated or
    boilerplate-heavy sources — a corpus-health diagnostic from the
    same family as the language-ID confusion and dup-rate panels.

    Determinism: ln values are quantized to scaled BIGINTs
    (round(ln·10⁵)) BEFORE the regression sums, so every Σx, Σy, Σxy,
    Σx² is exact integer arithmetic — aggregation order cannot change a
    digit (the PSI/HLL scaled-integer rule). The scale bounds overflow:
    |ln| ≤ ~20 ⇒ terms ≤ 4·10¹², n·Σxy ≤ ~2·10¹⁸ < 2⁶³ for top_n ≤ 10³.
    Slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²); the 10¹⁰ scale cancels.

    Plan: token count groupBy (uniform shuffle on (group, token)), a
    per-group rank window over the aggregate (aggregate-sized, not
    corpus-sized), top_n filter, one final groupBy.
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.col(group_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("freq").desc(), F.col("tok").asc())
    ranked = counts.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= top_n)
    x = F.expr("CAST(round(ln(CAST(rnk AS DOUBLE)) * 100000.0D) AS BIGINT)")
    y = F.expr("CAST(round(ln(CAST(freq AS DOUBLE)) * 100000.0D) AS BIGINT)")
    sums = ranked.select(F.col(group_col), x.alias("x"), y.alias("y")).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    slope = (
        (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    return sums.select(
        group_col, "n_terms", F.round(slope, decimals).alias("zipf_slope")
    )


def vocab_jsd(
    a: DataFrame,
    b: DataFrame,
    text_col: str,
    decimals: int = 6,
) -> DataFrame:
    """Jensen-Shannon divergence between two corpora's unigram
    distributions — the vocabulary-drift scalar between crawl
    snapshots / sources (bounded [0, ln 2] nats, symmetric, finite
    even for disjoint vocabularies — the reasons it beats raw KL for
    corpus monitoring):

        JSD = ½·KL(p‖m) + ½·KL(q‖m),   m = (p+q)/2

    Per-term counts are exact ints; each term's contribution is ONE
    double tree over (ca, cb, na, nb) summed as ROUND(x·1e12) scaled
    integers (the PSI recipe), so partitioning can't move the result.
    Zero-count sides contribute only their ½·q·ln(q/m) half — no
    smoothing constants to tune.

    Output: one row (n_terms, n_tokens_a, n_tokens_b, jsd_nats,
    jsd_bits). Scale: one token explode + one map-side-combined
    groupBy on the term; the scalar agg collapses term rows.
    """
    ta = (
        a.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    tb = (
        b.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    terms = (
        ta.join(tb, "term", "full_outer")
        .select(
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
    )
    tot = terms.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    p = "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
    q = "(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
    m = f"(({p} + {q}) / 2.0D)"
    term_val = (
        f"(CASE WHEN ca = 0 THEN 0.0D ELSE 0.5D * {p} * ln({p} / {m}) END"
        f" + CASE WHEN cb = 0 THEN 0.0D ELSE 0.5D * {q} * ln({q} / {m}) END)"
    )
    scaled = terms.join(F.broadcast(tot)).select(
        F.lit(1).alias("one"),
        F.expr(f"CAST(ROUND({term_val} * 1e12) AS BIGINT)").alias("_t"),
        "na",
        "nb",
    )
    return (
        scaled.groupBy("na", "nb")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("_t").alias("_s"))
        .select(
            "n_terms",
            F.col("na").alias("n_tokens_a"),
            F.col("nb").alias("n_tokens_b"),
            F.round(F.col("_s").cast("double") / F.lit(1e12), decimals).alias("jsd_nats"),
            F.round(
                F.col("_s").cast("double") / F.lit(1e12) / F.lit(0.6931471805599453),
                decimals,
            ).alias("jsd_bits"),
        )
    )


def novelty_rate(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    decimals: int = 6,
) -> DataFrame:
    """Share of the test corpus' word n-grams never seen in train — the
    memorization/diversity complement of `decontaminate` (high novelty
    = the eval set isn't a paraphrase of the training data; near-zero
    novelty on generated text = regurgitation):

    Per-document DISTINCT shingles (the decontamination convention,
    `dedup.word_shingles`); "novel" = no occurrence anywhere in train.
    Counts exact; rates one rounded division each.

    Output: one row (n_test_shingles, n_novel, novelty_rate,
    n_distinct_test, n_distinct_novel, distinct_novelty_rate).
    Scale: shuffle keyed on the shingle (left-anti against the train
    DISTINCT set — bloom-prefilterable at 100 TB, `sketches.bloom_bits`).
    """
    from morphik_core_spark.operators.dedup import word_shingles

    tr = word_shingles(train, text_col, id_col, n=n).select("shingle").distinct()
    te = word_shingles(test, text_col, id_col, n=n)
    novel = te.join(tr, "shingle", "left_anti")
    stats = te.agg(
        F.count(F.lit(1)).alias("n_test_shingles"),
        F.countDistinct("shingle").alias("n_distinct_test"),
    )
    nstats = novel.agg(
        F.count(F.lit(1)).alias("n_novel"),
        F.countDistinct("shingle").alias("n_distinct_novel"),
    )
    return stats.join(F.broadcast(nstats)).select(
        "n_test_shingles",
        "n_novel",
        F.round(
            F.expr("CAST(n_novel AS DOUBLE) / CAST(n_test_shingles AS DOUBLE)"),
            decimals,
        ).alias("novelty_rate"),
        "n_distinct_test",
        "n_distinct_novel",
        F.round(
            F.expr("CAST(n_distinct_novel AS DOUBLE) / CAST(n_distinct_test AS DOUBLE)"),
            decimals,
        ).alias("distinct_novelty_rate"),
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    top_ns: Sequence[int] = (100, 1000, 5000),
    decimals: int = 6,
) -> DataFrame:
    """Head-vocabulary coverage: for each candidate vocabulary size N,
    the fraction of all corpus n-gram OCCURRENCES covered by the N most
    frequent n-grams — the curve you read before freezing a tokenizer
    vocabulary or an n-gram LM cutoff (how much of the stream the head
    explains; the long-tail remainder is what falls to <unk>).

    Plan: one explode → one combinable count per gram → the TOP
    max(top_ns) grams by (count desc, gram) via a distributed
    orderBy/limit (TakeOrdered — never a full-vocab single-partition
    window, which a 100 TB corpus's billions of distinct n-grams would
    break); rank is a row_number over that LIMIT-bounded frame. Totals
    come from one scalar agg of the same count frame. Integer counts,
    one division per output row.

    Output: one row per N — (top_n, covered, total_occurrences,
    coverage, vocab_size).
    """
    tops = sorted(int(t) for t in top_ns)
    max_n = tops[-1]
    toks = tokens(F.col(text_col))
    # guard inside the expression, not a .filter: see repetition_signals
    grams = F.expr(
        f"IF(size(tk) >= {n}, "
        f"transform(sequence(0, size(tk) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f'tk[i + {j}]' for j in range(n))})), "
        f"array())"
    )
    cnt = (
        df.filter(F.col(text_col).isNotNull())
        .select(toks.alias("tk"))
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = cnt.agg(
        F.sum("c").alias("total_occurrences"), F.count(F.lit(1)).alias("vocab_size")
    )
    head = cnt.orderBy(F.col("c").desc(), F.col("gram").asc()).limit(max_n)
    ranked = head.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("gram").asc()))
        .alias("rk"),
    )
    spark = df.sparkSession
    from morphik_core_spark.plans.literal import values_literal_frame

    grid = values_literal_frame(spark, [("top_n", "int")], [(t,) for t in tops])
    per = (
        grid.crossJoin(ranked)
        .filter(F.col("rk") <= F.col("top_n"))
        .groupBy("top_n")
        .agg(F.sum("c").alias("covered"))
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "top_n",
            "covered",
            "total_occurrences",
            F.round(
                F.col("covered").cast("double") / F.col("total_occurrences").cast("double"),
                decimals,
            ).alias("coverage"),
            "vocab_size",
        )
        .orderBy("top_n")
    )


def token_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    low_threshold: float = 3.0,
    decimals: int = 6,
) -> DataFrame:
    """Per-group token-entropy profile: Shannon entropy (nats) of each
    document's token distribution — H = ln(n) − (1/n)·Σ c·ln c — rolled
    up to (group, n_docs, mean_token_entropy, low_entropy_share). The
    gibberish/repetition quality signal `repetition_signals`' fixed
    n-gram ratios approximate: a doc stuck on few tokens scores low no
    matter WHICH pattern repeats, so the threshold share is a direct
    "degenerate docs" rate per source.

    Exactness: per-(doc, token) counts are exact integers; each c·ln c
    term is ROUND(·1e12)-quantized before the per-doc sum; the per-doc
    entropy is ROUND(·1e6)-quantized to a BIGINT before the per-group
    mean — every cross-row reduction is integer arithmetic, so neither
    token order nor partitioning moves an ulp.

    Scale: one (doc, token) groupBy (map-side combined — the bounded
    per-doc vocabulary shrinks the explode before it shuffles), one doc
    groupBy, one group groupBy. No windows, no corpus-sized frames past
    the first aggregate.
    """
    toks = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(group_col).alias("_grp"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
        .groupBy("_id", "_grp", "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    cln = "CAST(ROUND(CAST(_c AS DOUBLE) * ln(CAST(_c AS DOUBLE)) * 1e12) AS BIGINT)"
    docs = toks.groupBy("_id", "_grp").agg(
        F.sum("_c").alias("_n"),
        F.sum(F.expr(cln)).alias("_s"),
    )
    h_micro = (
        "CAST(ROUND((ln(CAST(_n AS DOUBLE)) - CAST(_s AS DOUBLE) / 1e12 / CAST(_n AS DOUBLE)) "
        "* 1e6) AS BIGINT)"
    )
    scored = docs.select("_grp", F.expr(h_micro).alias("_h"))
    thr = int(round(float(low_threshold) * 1e6))
    return (
        scored.groupBy("_grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_h").alias("_hs"),
            F.sum((F.col("_h") < thr).cast("long")).alias("_low"),
        )
        .select(
            F.col("_grp").alias(group_col),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round(
                F.col("_hs").cast("double") / F.col("n_docs") / F.lit(1e6), decimals
            ).alias("mean_token_entropy"),
            F.round(
                F.col("_low").cast("double") / F.col("n_docs"), decimals
            ).alias("low_entropy_share"),
        )
        .orderBy(group_col)
    )


def kneser_ney_bigram(
    df: DataFrame,
    text_col: str,
    discount: float = 0.75,
    top_n: int = 50,
    decimals: int = 8,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram language model over the corpus —
    the smoothing a CCNet/KenLM-style quality LM trains before scoring
    crawl text (`perplexity`'s uniform-backoff model is the toy it
    replaces). For a bigram (w1, w2):

        P_KN(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
                      + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)

    — the continuation distribution N1+(·w2)/N1+(··) is what makes KN
    KN: a word seen in many CONTEXTS (not merely often) gets the backoff
    mass. Emits the corpus top-``top_n`` bigrams by count with MLE and
    KN probabilities side by side.

    Plan shape: bigrams come from zipping each doc's token array with
    its tail INSIDE the array (slice + arrays_zip — no position window,
    no per-token shuffle); one (w1, w2) groupBy bounds every later
    frame by the observed-bigram vocabulary. All model terms are exact
    integer counts; each probability is one fixed expression tree over
    their double casts (D is an IEEE literal), rounded once. The top-N
    is a distributed orderBy/limit on the vocabulary frame.

    Output: (w1, w2, c, c_w1, n1_fwd, n1_bwd, p_mle, p_kn).
    """
    d_lit = repr(float(discount))
    arr = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    base = df.select(arr.alias("_a")).filter(F.size("_a") >= 2)
    pairs = base.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_a"), 1, F.size("_a") - 1).alias("w1"),
                F.slice(F.col("_a"), 2, F.size("_a") - 1).alias("w2"),
            )
        ).alias("_p")
    ).select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = big.groupBy("w1").agg(
        F.sum("c").alias("c_w1"), F.count(F.lit(1)).alias("n1_fwd")
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_bwd"))
    nbi = big.agg(F.count(F.lit(1)).alias("n_bigrams"))
    p_kn = (
        f"(greatest(CAST(c AS DOUBLE) - {d_lit}, 0.0) / CAST(c_w1 AS DOUBLE) "
        f"+ {d_lit} * CAST(n1_fwd AS DOUBLE) / CAST(c_w1 AS DOUBLE) "
        "* (CAST(n1_bwd AS DOUBLE) / CAST(n_bigrams AS DOUBLE)))"
    )
    return (
        big.join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .join(F.broadcast(nbi))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("c"),
            F.col("c_w1").cast("bigint").alias("c_w1"),
            F.col("n1_fwd").cast("bigint").alias("n1_fwd"),
            F.col("n1_bwd").cast("bigint").alias("n1_bwd"),
            F.round(F.expr("CAST(c AS DOUBLE) / CAST(c_w1 AS DOUBLE)"), decimals).alias(
                "p_mle"
            ),
            F.round(F.expr(p_kn), decimals).alias("p_kn"),
        )
        .orderBy(F.col("c").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(int(top_n))
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str,
    top_n: int = 20,
    iterations: int = 3,
    min_len: int = 3,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — adjacent-token pairs become
    undirected weighted edges, and the stationary importance ranks the
    corpus vocabulary. The graph-centrality complement of
    `tfidf_topterms` (frequency-contrast) and `pmi_bigrams`
    (association): TextRank surfaces words that CONNECT many contexts.

    The edge list is vocabulary²-bounded (one groupBy over adjacent
    pairs built inside the token array — arrays_zip, no position
    window); the rank loop is `graph.pagerank_fixed_point`'s exact
    integer-micro fixed point, so an unrolled-CTE oracle replays it and
    partitioning cannot move a rank. Tokens shorter than ``min_len``
    drop (the classic stopword-ish guard). Top-N is a distributed
    orderBy/limit on the vocabulary frame.

    Output: (term, rank_u, rank) — rank_u is the exact micro-unit fixed
    point, rank the display double.
    """
    from morphik_core_spark.operators.graph import pagerank_fixed_point

    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda x: F.length(x) >= min_len,
    )
    base = df.select(arr.alias("_a")).filter(F.size("_a") >= 2)
    pairs = base.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_a"), 1, F.size("_a") - 1).alias("w1"),
                F.slice(F.col("_a"), 2, F.size("_a") - 1).alias("w2"),
            )
        ).alias("_p")
    ).select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")).filter(
        F.col("w1") != F.col("w2")
    )
    from morphik_core_spark.plans.cache import scoped_persist

    # vocab^2-bounded undirected edge list; both direction branches and
    # pagerank's node/out-degree builds consume it - persist so the
    # corpus tokenize+explode runs once
    und = scoped_persist(pairs.select(
        F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
    ).groupBy("a", "b").agg(F.count(F.lit(1)).alias("w")))
    edges = und.select("a", "b", "w").unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    ranks = pagerank_fixed_point(edges, "a", "b", "w", iterations=iterations)
    return (
        ranks.select(F.col("node").alias("term"), "rank_u", "rank")
        .orderBy(F.col("rank_u").desc(), F.col("term").asc())
        .limit(int(top_n))
    )


def heaps_law_fit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoints: int = 10,
    ngram: int = 1,
    decimals: int = 6,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: V(n) ≈ K·n^β over cumulative
    (tokens seen, distinct terms seen) checkpoints — the growth-curve
    companion to `zipf_slope`'s frequency exponent (the two laws are
    duals) and the sizing input for "how big does the vocab get at
    100 TB". β ≈ 0.4-0.6 for natural text; β near 1 flags id-like or
    synthetic token streams.

    Cumulative-by-prefix without any corpus sort: V(d) = #terms whose
    FIRST document id ≤ d (one min per term) and T(d) = Σ token counts
    over doc_id ≤ d — both are conditional sums against ``checkpoints``
    id cut points at fixed fractions of max(doc_id) (one scalar max,
    collected — the fs-blocking driver-constant pattern), so the whole
    fit is two scans + a checkpoint-sized OLS. ln(T), ln(V) quantize to
    integer micro-units and feed `analytics.grouped_ols`'s exact-moment
    regression: slope = β, intercept = ln K.

    ``ngram`` > 1 fits the curve over sliding word shingles instead of
    unigrams — the right unit when the unigram vocabulary saturates
    (template-heavy corpora) while combinatorial shingle vocab still
    grows; "tokens processed" is then the shingle count per doc.

    Output ONE row: (n_points, total_tokens, vocab_size, beta, ln_k, r2).
    """
    from morphik_core_spark.operators.analytics import grouped_ols

    n = int(ngram)
    raw = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_d"), F.col(text_col).alias("_txt")
    )
    # pre-fan-out (the word_shingles lesson): a single-row-group scan
    # would serialize the tokenize + shingle explode — the dominant CPU
    # here — on one task; no-op on well-partitioned inputs
    par = docs.sparkSession.sparkContext.defaultParallelism
    if raw.rdd.getNumPartitions() < par:
        raw = raw.repartition(par)
    arr = F.filter(F.split(F.lower(F.col("_txt")), r"\s+"), lambda x: x != "")
    base = raw.select("_d", arr.alias("_tk"))
    if n > 1:
        # sliding shingles WITHOUT a per-element higher-order function:
        # transform(sequence, i -> concat_ws(...)) interprets per element
        # (~2-4x the whole stage, measured at sf0.1) — slice + arrays_zip
        # + explode stay in codegen and the concat runs AFTER the explode
        # on flat columns. greatest(,0) keeps slice lengths legal even if
        # Catalyst reorders the projection past the short-doc filter.
        base = base.filter(F.size("_tk") >= n)
        zipped = F.arrays_zip(
            *[
                F.expr(
                    f"slice(_tk, {j + 1}, greatest(size(_tk) - {n - 1}, 0))"
                ).alias(f"w{j}")
                for j in range(n)
            ]
        )
        toks = base.select("_d", F.explode(zipped).alias("_s")).select(
            "_d",
            F.concat_ws(" ", *[F.col(f"_s.w{j}") for j in range(n)]).alias("_t"),
        )
        per_doc = base.select(
            "_d", F.expr(f"greatest(size(_tk) - {n - 1}, 0)").alias("_nt")
        )
    else:
        toks = base.select("_d", F.explode("_tk").alias("_t"))
        per_doc = base.select("_d", F.size("_tk").alias("_nt"))
    ids = base.agg(F.min("_d").alias("mn"), F.max("_d").alias("mx")).collect()[0]
    if ids["mx"] is None:
        raise ValueError(
            "heaps_law_fit: no documents survive tokenization "
            f"(corpus empty, all texts NULL, or every doc shorter than ngram={n})"
        )
    min_id, max_id = int(ids["mn"]), int(ids["mx"])
    # cuts anchored to the OBSERVED [min_id, max_id] id range — fixed
    # fractions of max(doc_id) alone collapse most checkpoints into
    # duplicates when ids don't start near 0 (e.g. a 1e9-offset shard)
    span = max_id - min_id + 1
    cuts = [
        min_id - 1 + max(1, (span * k) // int(checkpoints))
        for k in range(1, int(checkpoints) + 1)
    ]

    first_seen = toks.groupBy("_t").agg(F.min("_d").alias("_fs"))

    t_sums = per_doc.agg(
        *[
            F.sum(F.when(F.col("_d") <= c, F.col("_nt")).otherwise(F.lit(0))).alias(f"_t{i}")
            for i, c in enumerate(cuts)
        ]
    )
    v_counts = first_seen.agg(
        *[
            F.sum(F.when(F.col("_fs") <= c, F.lit(1)).otherwise(F.lit(0))).alias(f"_v{i}")
            for i, c in enumerate(cuts)
        ]
    )
    both = t_sums.join(F.broadcast(v_counts))
    stacked = both.selectExpr(
        "stack({n}, {pairs}) AS (t, v)".format(
            n=len(cuts),
            pairs=", ".join(f"_t{i}, _v{i}" for i in range(len(cuts))),
        )
    )
    pts = stacked.filter((F.col("t") > 0) & (F.col("v") > 0)).select(
        F.lit("heaps").alias("_g"),
        F.expr("CAST(ROUND(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT)").alias("_x"),
        F.expr("CAST(ROUND(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT)").alias("_y"),
        F.col("t").cast("bigint").alias("_tt"),
        F.col("v").cast("bigint").alias("_vv"),
    )
    ols = grouped_ols(pts, "_g", "_x", "_y", in_scale=1_000_000, decimals=decimals)
    tots = pts.agg(F.max("_tt").alias("total_tokens"), F.max("_vv").alias("vocab_size"))
    return ols.join(F.broadcast(tots)).select(
        F.col("n").cast("bigint").alias("n_points"),
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
        F.col("slope").alias("beta"),
        F.col("intercept").alias("ln_k"),
        F.col("r2").alias("r2"),
    )
