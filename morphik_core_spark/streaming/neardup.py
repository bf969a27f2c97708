"""Incremental near-duplicate filtering: MinHash-LSH against a band store.

A document is dropped when any of its MinHash-LSH band keys was already
claimed by an earlier kept document, i.e. exactly the candidate-pair
criterion the batch ``dedup.lsh_candidate_pairs`` uses, applied one
batch at a time:

- hash → band keys → semi-join against the store (docs hitting any
  known band drop), then a greedy first-wins pass inside the batch (a
  band's minimum surviving doc id claims it);
- the kept docs' band rows are returned for the caller to append to the
  store.

A document's verdict aggregates over ALL its band keys, which live
under different keys — so the filter is a join against a band table,
not keyed per-document state.

Semantics notes, deliberate and documented: the within-batch pass is
greedy first-wins, not connected-components — a doc can be dropped
because it collides with a doc that was itself dropped (over-drop, the
conservative direction for dedup); docs too short to shingle (< n
tokens) carry no bands and always pass. At 100 TB the store is a
parquet table partitioned by band hash — the semi-join prunes to the
batch's band partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from morphik_core_spark.operators.dedup import minhash_signatures, word_shingles

__all__ = ["doc_band_keys", "near_dup_batch"]


def doc_band_keys(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, key) — one row per LSH band per doc, the same band
    construction as the batch ``lsh_candidate_pairs``."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(word_shingles(docs, text_col, id_col, n=shingle_n), id_col, num_hashes)
    sig_cols = [c for c in sigs.columns if c != id_col]
    band_rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(c) for c in sig_cols[b * rows_per_band : (b + 1) * rows_per_band]]
            ).alias("key"),
        )
        for b in range(bands)
    ]
    return sigs.select(F.col(id_col), F.explode(F.array(*band_rows)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def near_dup_batch(
    batch_docs: DataFrame,
    store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    batch_bands: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One batch of the incremental filter. Returns (kept_docs,
    new_band_rows): docs whose bands were all unclaimed — by the store
    AND by smaller-id docs in the same batch — plus the band rows to
    append for them.

    Pass ``batch_bands`` (precomputed ``doc_band_keys`` rows for exactly
    ``batch_docs``) when the caller already ran the signature pipeline —
    e.g. an incremental run that banded old+new corpora in ONE pass and
    split by id; recomputing signatures here would double the dominant
    cost."""
    from morphik_core_spark.plans.cache import scoped_persist

    # read by the hit/claim/kept branches below AND by the caller's lazy
    # append plan — scoped, freed at the caller's next release_scoped()
    buckets = scoped_persist(
        batch_bands
        if batch_bands is not None
        else doc_band_keys(batch_docs, text_col, id_col, num_hashes, bands)
    )
    if store is not None:
        hit = buckets.join(store, ["band", "key"], "left_semi").select(id_col).distinct()
        surv = buckets.join(hit, id_col, "left_anti")
    else:
        surv = buckets
    claims = surv.groupBy("band", "key").agg(F.min(id_col).alias("_claimer"))
    dropped = (
        surv.join(claims, ["band", "key"])
        .filter(F.col("_claimer") < F.col(id_col))
        .select(id_col)
        .distinct()
    )
    kept_bands = surv.join(dropped, id_col, "left_anti")
    kept_ids = kept_bands.select(id_col).distinct()
    # no-band (too-short) docs always pass
    no_bands = batch_docs.select(id_col).join(
        buckets.select(id_col).distinct(), id_col, "left_anti"
    )
    kept_docs = batch_docs.join(kept_ids.union(no_bands).distinct(), id_col, "left_semi")
    return kept_docs, kept_bands.select("band", "key")

