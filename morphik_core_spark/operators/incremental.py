"""Incremental aggregate maintenance: mergeable partial-aggregate state
tables plus a delta-merge step, so a standing rollup absorbs a new batch
with delta-sized work instead of a full recompute.

Extension beyond the reference surface (morphik-core recomputes its
usage/stat reads per request against Postgres —
`core/database/postgres_database.py` — it has no materialized rollups);
at 100 TB the only viable standing aggregate is one maintained
incrementally: scan the DELTA, merge into key-partitioned state.

The algebra is the classic commutative-monoid decomposition every
distributed engine's partial aggregation already uses, lifted to a
TABLE you can persist between batches:

- state(keys) = (n, sum_m1, sum_m2, ...) — counts and DECIMAL-exact
  sums, so merge order can never change a digit;
- merge(a, b) = groupBy(keys).sum over the union — associative and
  commutative, so state tables from different shards/epochs combine in
  any order (the same contract sketches.py relies on);
- finalize derives non-mergeable outputs (means) from the sums at read
  time, ROUND(6) through one fixed double tree.

AVG/stddev-style metrics must live in state as (sum, sumsq, n) — never
finalized values — or the merge is wrong; `finalize_agg` exists so that
mistake has a pit-of-success API. MIN/MAX merge the same way (they are
monoids too); add them to a state via ordinary agg columns if needed.

The demo query `incremental_agg` proves merge(state, delta) == full
recompute via the DuckDB oracle.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "agg_state",
    "merge_agg_states",
    "finalize_agg",
    "compact_changes",
    "incremental_join_apply",
    "incremental_join_apply_delta_b",
    "incremental_join_apply_both",
]

_STATE_DECIMAL = "decimal(27,6)"


def agg_state(
    df: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, str],
) -> DataFrame:
    """Build partial-aggregate state: per ``keys``, a row count ``n`` and
    a DECIMAL-exact ``sum_<name>`` per measure (``measures`` maps output
    name -> input column). One shuffle, map-side combined; NULL measure
    values are skipped by SQL sum semantics (count them separately as
    their own measure if completeness matters)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for name, col in measures.items():
        # re-cast the widened sum so state schema is identical at every
        # merge generation (sum(decimal(27,6)) widens to (37,6))
        aggs.append(
            F.sum(F.col(col).cast(_STATE_DECIMAL)).cast(_STATE_DECIMAL).alias(f"sum_{name}")
        )
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_agg_states(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Merge state tables produced by :func:`agg_state` over the same
    keys/measures: union + one re-aggregation. The shuffle carries
    state-sized frames (distinct keys per input), never raw rows — the
    point of keeping state mergeable. Sums stay in DECIMAL; Spark widens
    the precision on re-sum, so re-cast keeps the state schema stable
    across arbitrarily many merge generations."""
    if not states:
        raise ValueError("states must be non-empty")
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    sum_cols = [c for c in states[0].columns if c.startswith("sum_")]
    aggs = [F.sum("n").alias("n")] + [
        F.sum(c).cast(_STATE_DECIMAL).alias(c) for c in sum_cols
    ]
    return out.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def finalize_agg(
    state: DataFrame,
    means: Sequence[str] = (),
    round_decimals: int = 6,
) -> DataFrame:
    """Derive read-time outputs from mergeable state: for each name in
    ``means``, ``mean_<name>`` = sum/n through one fixed ROUND tree.
    Everything else passes through, so the result is state + derived
    columns (project what you serve)."""
    out = state
    for name in means:
        out = out.withColumn(
            f"mean_{name}",
            F.when(
                F.col("n") > 0,
                F.round(
                    F.col(f"sum_{name}").cast("double") / F.col("n").cast("double"),
                    round_decimals,
                ),
            ),
        )
    return out


def compact_changes(
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """One final op per key: the latest change by ``seq_col`` wins (ties
    break to the row whose op sorts last, so a same-seq U+D pair resolves
    deterministically). Output drops ``seq_col``; this is the compaction
    every CDC consumer runs before merging a batch."""
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc(), F.col(op_col).desc())
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", seq_col)
    )


def incremental_join_apply(
    joined: DataFrame,
    delta_a: DataFrame,
    b: DataFrame,
    pk_a: str,
    join_key: str,
    op_col: str = "op",
    seq_col: str | None = None,
) -> DataFrame:
    """Incremental view maintenance for a keyed equi-join view
    J = A ⋈ B under a CDC batch on A — the join-side sibling of
    `agg_state`'s aggregate maintenance, completing the two standing
    materializations a serving layer keeps. With A keyed by ``pk_a``
    and the delta carrying I/U/D ops (the `docstore.cdc_apply` shape),
    the classical delta decomposition collapses to:

        J' = (J anti-join touched_keys) ∪ ((ΔA minus deletes) ⋈ B)

    — one delta-keyed ANTI join on the view (evicts every row whose
    A-key appears in the delta, covering U and D in one stroke) plus a
    DELTA-sized equi-join against B on ``join_key`` for the
    inserts/updates. The view never re-joins |A| × |B|; incremental
    work is |ΔA| on the probe side — the property that makes a 100 TB
    materialized join maintainable. The touched-key side is
    delta-sized, hence the broadcast hint.

    ``joined`` must carry ``pk_a`` plus the columns ``ΔA ⋈ B``
    produces (maintain what you built); ``b`` is the CURRENT B snapshot
    — a changing B runs the symmetric step with roles swapped.
    merge == recompute is test- and oracle-asserted (`ivm_join`).

    The decomposition is only sound with ONE final op per ``pk_a``: a
    batch carrying I-then-D (or two Us) for a key would evict the key
    once but re-add every superseded non-delete row. Pass ``seq_col``
    to compact the delta here (latest seq wins, ties to the op sorting
    last — `compact_changes` semantics); without it the delta must
    already be compacted, e.g. by `compact_changes`.
    """
    if seq_col is not None:
        delta_a = compact_changes(delta_a, [pk_a], op_col=op_col, seq_col=seq_col)
    touched = delta_a.select(F.col(pk_a)).distinct()
    kept = joined.join(F.broadcast(touched), pk_a, "left_anti")
    upserts = delta_a.filter(F.col(op_col) != "D").drop(op_col)
    additions = upserts.join(b, join_key)
    return kept.unionByName(additions.select(*kept.columns))


def incremental_join_apply_delta_b(
    joined: DataFrame,
    a: DataFrame,
    delta_b: DataFrame,
    join_key: str,
    op_col: str = "op",
    seq_col: str | None = None,
) -> DataFrame:
    """The symmetric IVM step to :func:`incremental_join_apply`: maintain
    J = A ⋈ B under a CDC batch on B (B keyed by ``join_key`` — the
    dimension side of a fact⋈dim view). The same delta decomposition
    with roles swapped:

        J' = (J anti-join touched_join_keys) ∪ (A ⋈ (ΔB minus deletes))

    Evicting on ``join_key`` removes EVERY view row built from a
    touched dimension row (an update to one dim row invalidates all its
    fact matches — exactly the fan-out the eviction must cover), and
    the re-add probes A with the delta-sized upsert set, so incremental
    work is |ΔB| on the build side and the A rows that match it on the
    probe side — never |A| × |B|. Both the anti-join key set and the
    re-join build side are delta-sized, hence both broadcast hints.

    Same compaction contract as the A-side step: pass ``seq_col`` to
    compact multi-op-per-key batches here, else the delta must carry
    one final op per ``join_key``.
    """
    if seq_col is not None:
        delta_b = compact_changes(delta_b, [join_key], op_col=op_col, seq_col=seq_col)
    touched = delta_b.select(F.col(join_key)).distinct()
    kept = joined.join(F.broadcast(touched), join_key, "left_anti")
    upserts = delta_b.filter(F.col(op_col) != "D").drop(op_col)
    additions = a.join(F.broadcast(upserts), join_key)
    return kept.unionByName(additions.select(*kept.columns))


def incremental_join_apply_both(
    joined: DataFrame,
    delta_a: DataFrame,
    b: DataFrame,
    delta_b: DataFrame,
    pk_a: str,
    join_key: str,
    b_cols: Sequence[str],
    op_col: str = "op",
    seq_col: str | None = None,
    a_for_revival: DataFrame | None = None,
) -> DataFrame:
    """Simultaneous two-sided IVM: maintain J = A ⋈ B under a CDC batch
    on BOTH sides in one step — the case a real CDC stream actually
    delivers (an order batch and a customer batch land in the same
    epoch), where running `incremental_join_apply` then
    `_delta_b` serially would be correct but pay two view passes. The
    joint delta decomposition:

        J' = (J anti ΔA-keys anti ΔB-keys)
           ∪ (ΔA upserts ⋈ B')                 -- new/updated A vs NEW B
           ∪ (J[join_key ∈ ΔB, pk_a ∉ ΔA].A-side ⋈ ΔB upserts)

    where B' = (B anti ΔB-keys) ∪ ΔB-upserts is the post-batch
    dimension. The three branches partition the output exactly: rows
    untouched by either delta survive the double anti-join; every
    A-side change re-joins against the POST-batch dimension (so an
    order re-pointed to a customer the same batch re-nationalizes
    correctly, and one pointed at a deleted customer drops — inner-join
    semantics); unchanged A rows whose dimension row changed are
    REVIVED from the view itself (``b_cols`` names the view columns
    owned by B; the rest reconstruct the A side) and re-joined against
    the delta-sized upserts.

    Work: two anti-joins on broadcast delta key sets + two delta-sized
    probe joins; B' costs one dimension pass. The view is scanned twice
    (kept + revived) — never |A| × |B|. Same compaction contract as the
    one-sided steps (``seq_col`` or pre-compacted, one final op per
    key per side). merge == recompute is oracle-asserted
    (`ivm_join_both`).

    Self-maintainability boundary (Gupta & Mumick): with the view as
    the only A store, a ΔB DELETE drops that key's fact rows from the
    view — a LATER ΔB re-insert of the same key re-attaches nothing
    (the A rows are unrecoverable from the view alone). Within ONE
    batch this cannot happen (compaction leaves one final op per key).
    Passing ``a_for_revival`` — the CURRENT A snapshot, carrying the
    view's A-side columns — CLOSES the gap: revival then draws from A
    instead of the view, so facts whose dimension key left and came
    back re-attach.
    """
    if seq_col is not None:
        delta_a = compact_changes(delta_a, [pk_a], op_col=op_col, seq_col=seq_col)
        delta_b = compact_changes(delta_b, [join_key], op_col=op_col, seq_col=seq_col)
    ka = delta_a.select(F.col(pk_a)).distinct()
    kb = delta_b.select(F.col(join_key)).distinct()
    kept = joined.join(F.broadcast(ka), pk_a, "left_anti").join(
        F.broadcast(kb), join_key, "left_anti"
    )
    b_up = delta_b.filter(F.col(op_col) != "D").drop(op_col)
    b_new = b.join(F.broadcast(kb), join_key, "left_anti").unionByName(b_up)
    a_up = delta_a.filter(F.col(op_col) != "D").drop(op_col)
    add_a = a_up.join(b_new, join_key)
    a_side = [c for c in joined.columns if c not in set(b_cols)]
    revive_src = joined if a_for_revival is None else a_for_revival
    revived = (
        revive_src.join(F.broadcast(kb), join_key, "left_semi")
        .join(F.broadcast(ka), pk_a, "left_anti")
        .select(*a_side)
    )
    add_b = revived.join(F.broadcast(b_up), join_key)
    cols = kept.columns
    return kept.unionByName(add_a.select(*cols)).unionByName(add_b.select(*cols))
