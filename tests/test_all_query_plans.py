"""Meta plan audit: EVERY driver query's physical plan, automatically.

Two invariants that must hold across the whole `queries()` surface, not
just the operators with dedicated plan tests:

- no `CartesianProduct` — scalar/1-row attachments compile to
  BroadcastNestedLoopJoin, which is fine; an actual cartesian of two
  real frames is always a bug at scale;
- no `BatchEvalPython` — row-at-a-time Python never appears in a query
  plan (Arrow-batched pandas nodes are the sanctioned Python path);
- no `DecimalType` OUTPUT column — DECIMAL is encouraged internally for
  exact arithmetic, but the harness value-hash renders decimals
  differently between its Spark and DuckDB fetch paths (round-5
  driver-red on `moving_aggregates` et al.), so every final output
  column must be cast DOUBLE+ROUND at the edge.

New queries inherit the audit the moment they're registered. The plan
and its effective scans come from the one shared build of each query
(``test_oracle_parity.registry_run``), which also serves the oracle and
partition-invariance tests.
"""

from __future__ import annotations

import pytest
from test_oracle_parity import QUERY_NAMES, SF_DIR, registry_run


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_no_cartesian_no_row_python(spark, name):
    run = registry_run(spark, name).need("build")
    assert "CartesianProduct" not in run.plan, f"{name}: cartesian product in plan"
    assert "BatchEvalPython" not in run.plan, f"{name}: row-at-a-time Python UDF in plan"
    assert not run.decimal_cols, (
        f"{name}: DECIMAL-typed output column(s) {run.decimal_cols} — cast to "
        "DOUBLE with an explicit ROUND at the output edge (keep DECIMAL "
        "internally); the harness hash diverges on decimal rendering"
    )


# --------------------------------------------------------- scan budget
# Effective FileScans per input table: FileSourceScanExec nodes reachable
# WITHOUT crossing a cache boundary, plus each distinct InMemoryRelation's
# populating scan counted ONCE (an InMemoryTableScan consumer re-reads the
# cache, not the file). This is the metric that caught quality_ensemble
# re-tokenizing the corpus 8x from unpersisted multi-read lineage — a
# constant-factor waste that multiplies at 100 TB. Budget: <= 4 scans of
# any one table; exceptions go in the allowlist below with a comment.
_SCAN_BUDGET = 4
# name -> measured max scans per table (2026-08, sf0.001 plans); shrink,
# never grow.
_SCAN_ALLOWLIST: dict[str, int] = {
    # Near-empty as of round 10: every other registry query measures
    # <= _SCAN_BUDGET after the scoped_persist burn-down (worst offender
    # was 17). Add an entry ONLY with a comment justifying why the extra
    # scans are cheaper than the persist at 100 TB.
    #
    # spearman_screen: two spearman_corr calls x (rows + 2 value grids)
    # = 6-10 pruned 1-2-column scans. Persisting was MEASURED NET-SLOWER
    # (3-col projection persist: 3.4->6.3 s at sf0.1; grid-only persist:
    # 4.5->5.4 s) because the materialization barrier costs more than the
    # pipelined pruned scans it saves; at 100 TB a corpus-scale cache
    # thrashes to disk while column-pruned scans stream. Round 12
    # re-confirmed with a joint-(x,y,count)-grid variant (one scan per
    # call): 3.8 -> 5.6 s — near-unique pairs don't compress, so the
    # persist barrier loses again. The scans stay.
    "spearman_screen": 10,
}


# the counter itself lives in the library so bench.py records the same
# number per query per round (BENCH_DETAIL "scans" field)
from morphik_core_spark.plans.scan_audit import effective_scans as _effective_scans


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_scan_budget(spark, name):
    scans = registry_run(spark, name).need("build", "scans").scans
    worst = max(scans.values(), default=0)
    budget = _SCAN_ALLOWLIST.get(name, _SCAN_BUDGET)
    assert worst <= budget, (
        f"{name}: {dict(scans)} — a table is read {worst}x (budget {budget}). "
        "Persist the shared frame (plans.cache.scoped_persist) instead of "
        "re-deriving it; each extra scan is a full corpus pass at 100 TB."
    )


def test_effective_scans_detects_unpersisted_multi_read(spark):
    """The counter itself: an unpersisted frame consumed by 6 branches
    shows 6 effective scans; scoped_persist collapses them to 1 (the
    populating scan, counted once)."""
    from pyspark.sql import functions as F

    from morphik_core_spark.plans.cache import release_scoped, scoped_persist

    base = spark.read.parquet(f"{SF_DIR}/nation.parquet").select("n_nationkey")
    branches = [base.agg(F.sum(F.col("n_nationkey") + i).alias("s")) for i in range(6)]
    u = branches[0]
    for b in branches[1:]:
        u = u.unionAll(b)
    scans = _effective_scans(spark, u._jdf.queryExecution().executedPlan())
    assert scans.get("nation", 0) == 6, dict(scans)

    cached = scoped_persist(base)
    try:
        branches = [cached.agg(F.sum(F.col("n_nationkey") + i).alias("s")) for i in range(6)]
        u = branches[0]
        for b in branches[1:]:
            u = u.unionAll(b)
        scans = _effective_scans(spark, u._jdf.queryExecution().executedPlan())
        assert scans.get("nation", 0) == 1, dict(scans)
    finally:
        release_scoped()
