"""MinHash-LSH near-dup filter: batch kernel semantics, the band store,
and agreement with the batch LSH candidate criterion."""

from __future__ import annotations

from morphik_core_spark.streaming.neardup import doc_band_keys, near_dup_batch

SCHEMA = "doc_id long, text string"

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"  # 1-word delta
OTHER = "completely different content about spark structured streaming state stores"


def test_near_dup_batch_within_batch_first_wins(spark):
    docs = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, "hi")], SCHEMA
    )
    kept, new_bands = near_dup_batch(docs, store=None)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 3, 4]  # 2 collides with 1; 4 is too short to shingle
    # band rows recorded only for banded keepers (not the short doc)
    banded = doc_band_keys(spark.createDataFrame([(1, BASE), (3, OTHER)], SCHEMA))
    assert sorted((r.band, r.key) for r in new_bands.collect()) == sorted(
        (r.band, r.key) for r in banded.select("band", "key").collect()
    )


def test_near_dup_batch_store_hit_drops(spark):
    store = doc_band_keys(spark.createDataFrame([(100, BASE)], SCHEMA)).select("band", "key")
    docs = spark.createDataFrame([(5, NEAR), (6, OTHER)], SCHEMA)
    kept, new_bands = near_dup_batch(docs, store)
    assert [r.doc_id for r in kept.collect()] == [6]
    assert new_bands.join(store, ["band", "key"], "left_semi").count() == 0


def test_matches_batch_lsh_candidate_criterion(spark, sf_dir):
    """A doc dropped by the stream filter must be an lsh_pairs candidate
    of some smaller-id doc (same bands/hashes) — the two formulations
    agree on what 'near-dup' means."""
    from morphik_core_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures, word_shingles
    from morphik_core_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").limit(200)
    kept, _ = near_dup_batch(docs, store=None)
    dropped = {r.doc_id for r in docs.join(kept, "doc_id", "left_anti").select("doc_id").collect()}
    sigs = minhash_signatures(word_shingles(docs, "text", "doc_id"), "doc_id")
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=2).collect()
    candidate_of_smaller = {r.id_b for r in pairs}
    assert dropped <= candidate_of_smaller
