"""CDC batch compaction: one final op per key, latest sequence wins."""

from __future__ import annotations

from morphik_core_spark.operators.incremental import compact_changes

CHANGE_SCHEMA = "id long, v string, op string, seq long"


def test_compact_changes_last_op_wins(spark):
    rows = [
        (1, "a1", "I", 1),
        (1, "a2", "U", 2),  # later seq wins
        (2, "b1", "I", 1),
        (2, None, "D", 5),
        (3, "c1", "U", 7),
    ]
    out = {r.id: (r.v, r.op) for r in compact_changes(
        spark.createDataFrame(rows, CHANGE_SCHEMA), ["id"]).collect()}
    assert out == {1: ("a2", "U"), 2: (None, "D"), 3: ("c1", "U")}
