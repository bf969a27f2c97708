"""Folder-tree operators over a parent_id-linked folders dimension.

Reference surface (/root/reference/core/database/postgres_database.py):
- list_folders (:1661-1708): folders + per-folder child_count prefetched
  as one GROUP BY parent_id.
- list_folders_summary (:2507-2599): folder rows + doc counts via a LEFT
  JOIN against documents on folder path.
- move_folder descendant walk (:1896-1944): descendants via path-prefix
  match, parent_id relinked per row — the tree is doubly encoded
  (parent_id + materialized full_path), and the reference uses whichever
  is convenient.

Spark restatement. The folders table is a *dimension*: even a 100 TB
corpus has maybe 1e6 folders, so every join against it broadcasts, and
the recursive descendants walk is a driver-side BFS over one bounded
collect of the (id, parent_id) edges, bounded by ``max_depth``. Spark
has no native recursive CTE; for the path-materialized encoding the
non-recursive scale path is ``descendants_by_path`` (a prefix predicate
the scan can push down).
Doc counts stay aggregate-side: count per folder key FIRST, then join
the small result to folders — never join raw documents to folders.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from morphik_core_spark.plans.literal import bounded_collect, literal_frame_from_schema

__all__ = ["folder_children", "folder_descendants", "descendants_by_path", "folder_doc_counts"]

# The folders dimension is pulled to the driver for the descendants
# walk; past this many parented folders it raises
FOLDERS_MAX_ROWS = 100_000


def folder_children(
    folders: DataFrame,
    parent_id: str | None,
    id_col: str = "id",
    parent_col: str = "parent_id",
) -> DataFrame:
    """Direct children of ``parent_id`` (None = root folders), each with its
    own child_count — list_folders' GROUP BY parent_id prefetch as a
    broadcast left join."""
    counts = (
        folders.filter(F.col(parent_col).isNotNull())
        .groupBy(F.col(parent_col).alias(id_col))
        .agg(F.count(F.lit(1)).alias("child_count"))
    )
    pred = F.col(parent_col).isNull() if parent_id is None else F.col(parent_col) == parent_id
    return (
        folders.filter(pred)
        .join(F.broadcast(counts), id_col, "left")
        .withColumn("child_count", F.coalesce(F.col("child_count"), F.lit(0)))
    )


def folder_descendants(
    folders: DataFrame,
    root_ids: Sequence[str],
    id_col: str = "id",
    parent_col: str = "parent_id",
    max_depth: int = 20,
) -> DataFrame:
    """All strict descendants of ``root_ids`` via parent_id BFS.

    Returns (root, <id_col>, rel_depth) — rel_depth 1 = direct child;
    ``root`` is a string and ``id_col`` keeps its input type.

    ONE collect pulls the (id, parent_id) edges of the dimension and
    the BFS runs on driver dicts — the reference's own shape
    (move_folder walks the tree driver-side); it terminates when a
    level is empty or at ``max_depth`` (cycle guard). Ids match as
    strings, so string roots find integer-typed ids. Per-row
    multiplicity is kept (no visited set, so DAG/cycle re-reach repeats
    rows, bounded by ``max_depth``); NULL parents never match. The
    folders dimension is bounded by contract (see module docstring):
    more than ``FOLDERS_MAX_ROWS`` parented folders raise. For the
    path-materialized encoding prefer :func:`descendants_by_path`.
    """
    rows = bounded_collect(
        folders.filter(F.col(parent_col).isNotNull()).select(
            F.col(id_col),
            F.col(id_col).cast("string").alias("_id"),
            F.col(parent_col).cast("string").alias("_parent"),
        ),
        FOLDERS_MAX_ROWS,
        "folder_descendants folders dimension (FOLDERS_MAX_ROWS)",
    )
    children_of: dict[str, list] = {}
    for fid, fid_s, parent in rows:
        children_of.setdefault(parent, []).append((fid, fid_s))
    frontier = [(str(r), str(r)) for r in root_ids]
    out_rows: list[tuple] = []
    for depth in range(1, max_depth + 1):
        level = [
            (root, child, child_s)
            for root, fid_s in frontier
            for child, child_s in children_of.get(fid_s, ())
        ]
        if not level:
            break
        out_rows.extend((root, child, depth) for root, child, _ in level)
        frontier = [(root, child_s) for root, _, child_s in level]
    id_t = folders.schema[id_col].dataType.simpleString()
    return literal_frame_from_schema(
        folders.sparkSession, f"root string, {id_col} {id_t}, rel_depth int", out_rows
    )


def descendants_by_path(
    folders: DataFrame,
    root_path: str,
    path_col: str = "full_path",
) -> DataFrame:
    """Strict descendants by materialized-path prefix — the non-recursive
    encoding the reference's move_folder walk uses. A plain startswith
    predicate: pushes down to the scan, no joins at all."""
    prefix = root_path.rstrip("/") + "/"
    return folders.filter(F.col(path_col).startswith(prefix))


def folder_doc_counts(
    folders: DataFrame,
    documents: DataFrame,
    folder_path_col: str = "folder_path",
    path_col: str = "full_path",
) -> DataFrame:
    """folders + doc_count (list_folders_summary): aggregate documents per
    folder path FIRST (shuffle on the path key, map-side combine), then
    broadcast-join the small per-folder counts back to the dimension."""
    counts = (
        documents.filter(F.col(folder_path_col).isNotNull() & (F.col(folder_path_col) != ""))
        .groupBy(F.col(folder_path_col).alias(path_col))
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    return folders.join(F.broadcast(counts), path_col, "left").withColumn(
        "doc_count", F.coalesce(F.col("doc_count"), F.lit(0))
    )
