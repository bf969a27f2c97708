"""Partition-invariance: the queries whose math could in principle depend
on aggregation order (float sums, iterative updates, sketch merges) must
return IDENTICAL rows under different shuffle-partition counts.

This is the local stand-in for the 1000-executor question: if a result
survives 3-vs-17 partitions bit-for-bit, the arithmetic is order-free
(integer/decimal accumulation, array-ordered folds, fixed expression
trees) rather than accidentally stable. ``SENSITIVE`` lives beside the
shared build (``test_oracle_parity.registry_run``), which runs these
queries under 3 partitions and rebuilds them once under 17."""

from __future__ import annotations

import pytest
from test_oracle_parity import SENSITIVE, _repr_rows, registry_run


@pytest.mark.parametrize("name", SENSITIVE)
def test_result_is_partition_invariant(spark, name):
    run = registry_run(spark, name).need("build", "collect", "rebuild")
    assert _repr_rows(run.columns, run.rows) == run.rows_17, f"{name}: result depends on partitioning"
