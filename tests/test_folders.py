"""Folder-tree operators: children counts, BFS descendants, path prefix."""

from __future__ import annotations

from morphik_core_spark.operators import folders as fo

TREE = [
    # id, parent_id, full_path
    ("a", None, "/a"),
    ("a1", "a", "/a/1"),
    ("a2", "a", "/a/2"),
    ("a1x", "a1", "/a/1/x"),
    ("a1y", "a1", "/a/1/y"),
    ("a1xz", "a1x", "/a/1/x/z"),
    ("b", None, "/b"),
]


def _folders(spark):
    return spark.createDataFrame(TREE, "id string, parent_id string, full_path string")


def test_folder_children_counts(spark):
    out = {r.id: r.child_count for r in fo.folder_children(_folders(spark), "a").collect()}
    assert out == {"a1": 2, "a2": 0}


def test_folder_children_roots(spark):
    out = {r.id: r.child_count for r in fo.folder_children(_folders(spark), None).collect()}
    assert out == {"a": 2, "b": 0}


def test_descendants_bfs_depths(spark):
    rows = fo.folder_descendants(_folders(spark), ["a"]).collect()
    got = {(r.id, r.rel_depth) for r in rows}
    assert got == {("a1", 1), ("a2", 1), ("a1x", 2), ("a1y", 2), ("a1xz", 3)}
    assert all(r.root == "a" for r in rows)


def test_descendants_multiple_roots_and_leaf(spark):
    rows = fo.folder_descendants(_folders(spark), ["a1", "b"]).collect()
    got = {(r.root, r.id) for r in rows}
    assert got == {("a1", "a1x"), ("a1", "a1y"), ("a1", "a1xz")}  # b has no children


def test_descendants_cycle_guard_terminates(spark):
    cyc = spark.createDataFrame(
        [("p", "q", "/p"), ("q", "p", "/q")], "id string, parent_id string, full_path string"
    )
    rows = fo.folder_descendants(cyc, ["p"], max_depth=5).collect()
    # bounded: 5 levels of the p→q→p cycle, then stop
    assert len(rows) == 5


def test_descendants_collect_path_matches_distributed(spark):
    # golden rows of the former distributed BFS of broadcast joins
    def walk(folders, roots, **kw):
        return sorted(tuple(r) for r in fo.folder_descendants(folders, roots, **kw).collect())

    tree = _folders(spark)
    assert walk(tree, ["a"]) == [
        ("a", "a1", 1), ("a", "a1x", 2), ("a", "a1xz", 3), ("a", "a1y", 2), ("a", "a2", 1),
    ]
    assert walk(tree, ["a1", "b"]) == [("a1", "a1x", 1), ("a1", "a1xz", 2), ("a1", "a1y", 1)]
    assert walk(tree, ["nope"]) == []
    # cycle guard: bounded repetition, no visited set
    cyc = spark.createDataFrame(
        [("p", "q", "/p"), ("q", "p", "/q")], "id string, parent_id string, full_path string"
    )
    assert walk(cyc, ["p"], max_depth=5) == [
        ("p", "p", 2), ("p", "p", 4), ("p", "q", 1), ("p", "q", 3), ("p", "q", 5),
    ]


def test_descendants_bigint_ids_match_string_roots(spark):
    # ids match as strings; the id column keeps its input type
    folders = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, 1)], "id bigint, parent_id bigint"
    )
    out = fo.folder_descendants(folders, ["1"])
    assert sorted(tuple(r) for r in out.collect()) == [("1", 2, 1), ("1", 3, 2), ("1", 4, 1)]
    assert out.schema.simpleString() == "struct<root:string,id:bigint,rel_depth:int>"


def test_descendants_by_path_prefix_not_sibling(spark):
    got = {r.id for r in fo.descendants_by_path(_folders(spark), "/a/1").collect()}
    assert got == {"a1x", "a1y", "a1xz"}  # not /a/2, not /a itself


def test_folder_doc_counts(spark):
    docs = spark.createDataFrame(
        [(1, "/a/1"), (2, "/a/1"), (3, "/b"), (4, None), (5, "")],
        "doc_id long, folder_path string",
    )
    out = {r.id: r.doc_count for r in fo.folder_doc_counts(_folders(spark), docs).collect()}
    assert out["a1"] == 2 and out["b"] == 1 and out["a"] == 0
