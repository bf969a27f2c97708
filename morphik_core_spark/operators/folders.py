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
the recursive descendants walk is a driver-side BFS loop of small
broadcast equi-joins — one join per tree LEVEL (not per folder), bounded
by ``max_depth``. Spark has no native recursive CTE; for the
path-materialized encoding the non-recursive scale path is
``descendants_by_path`` (a prefix predicate the scan can push down).
Doc counts stay aggregate-side: count per folder key FIRST, then join
the small result to folders — never join raw documents to folders.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from morphik_core_spark.plans.literal import bounded_collect

__all__ = ["folder_children", "folder_descendants", "descendants_by_path", "folder_doc_counts"]


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
    collect_max_folders: int | None = None,
) -> DataFrame:
    """All strict descendants of ``root_ids`` via iterative parent_id BFS.

    Returns (root, <id_col>, rel_depth) — rel_depth 1 = direct child.
    One broadcast equi-join per tree level; terminates when a level is
    empty or at ``max_depth`` (cycle guard). The folders dimension is
    driver-loop-friendly by construction (see module docstring); for the
    path-materialized encoding prefer :func:`descendants_by_path`.

    ``collect_max_folders`` opts a CONTRACT-BOUNDED dimension into one
    collect of (id, parent_id) + the same BFS on driver dicts — the
    reference's own shape (move_folder walks the tree driver-side). The
    distributed loop pays 2 jobs per LEVEL (eager checkpoint +
    emptiness probe); the collected form pays 1 job total. Semantics
    mirror the join exactly: per-row multiplicity kept (no visited set,
    so DAG/cycle re-reach repeats rows, bounded by ``max_depth``), NULL
    parents never match. Raises when the dimension exceeds the bound
    rather than collecting unboundedly. Outputs are strings/ints only,
    so results are identical by construction.
    """
    spark = folders.sparkSession
    if collect_max_folders is not None:
        rows = bounded_collect(
            folders.select(F.col(id_col), F.col(parent_col)).filter(
                F.col(parent_col).isNotNull()
            ),
            collect_max_folders,
            "folder_descendants folders dimension (collect_max_folders)",
        )
        children_of: dict[str, list[str]] = {}
        for r in rows:
            children_of.setdefault(r[parent_col], []).append(r[id_col])
        frontier_d = [(str(r), str(r)) for r in root_ids]
        out_rows: list[tuple[str, str, int]] = []
        for depth in range(1, max_depth + 1):
            nxt = [
                (root, child)
                for root, fid in frontier_d
                for child in children_of.get(fid, ())
            ]
            if not nxt:
                break
            out_rows.extend((root, child, depth) for root, child in nxt)
            frontier_d = nxt
        from morphik_core_spark.plans.literal import values_literal_frame

        return values_literal_frame(
            spark,
            [("root", "string"), (id_col, "string"), ("rel_depth", "int")],
            out_rows,
        )
    frontier = spark.createDataFrame([(r,) for r in root_ids], f"{id_col} string").select(
        F.col(id_col).alias("root"), F.col(id_col)
    )
    levels: list[DataFrame] = []
    for depth in range(1, max_depth + 1):
        children = (
            folders.alias("f")
            .join(
                F.broadcast(frontier.select("root", F.col(id_col).alias(parent_col))),
                parent_col,
            )
            .select("root", F.col(f"f.{id_col}").alias(id_col), F.lit(depth).alias("rel_depth"))
        )
        # dimension-sized: materialize the level to test emptiness and feed
        # the next join without recomputing the whole lineage each round
        children = children.localCheckpoint(eager=True)
        if children.isEmpty():
            break
        levels.append(children)
        frontier = children.select("root", id_col)
    if not levels:
        return frontier.limit(0).withColumn("rel_depth", F.lit(0)).select("root", id_col, "rel_depth")
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out


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
