"""Dual-store index migration: dual-write window, pinned reads, audited cutover.

The reference ships a migration wrapper that ingests every chunk batch
into BOTH the old and the new vector store while searches stay pinned to
the old one until the operator flips the switch
(core/vector_store/dual_multivector_store.py:24-33: store_embeddings →
both stores, query_similar → slow store only, new-store failure logged,
old-store failure raised). This module restates that pattern over the
engine's materialized IVF layouts:

- :class:`DualIndexStore`\\ ``.ingest`` appends each embedding batch into
  the old AND the new partitioned layout (each with its own centroids —
  a migration is typically a retrained quantizer or a new list count).
  A new-layout failure is counted and carried in the migration state but
  never fails the batch; an old-layout failure raises, because reads
  serve from it.
- ``.search`` always queries the READ layout: the old one during the
  window, the new one after cutover. Callers never branch.
- ``.parity_audit`` is the cutover gate: total row-count parity plus
  per-probe-query top-k agreement (id overlap and max |Δscore|) between
  the two layouts — the "counts + sampled score agreement" check you run
  before pointing production reads at a new index.
- ``.cutover`` runs the audit, refuses unless every query clears the
  overlap floor and counts match, then atomically flips the state file.

State is a tiny JSON document next to the layouts, written to a temp
file and atomically renamed into place, so the window survives process
restarts and a crashed migration resumes where it was.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
from typing import Iterator, Sequence

try:  # posix; the target runtime is linux executors + a linux driver
    import fcntl
except ImportError:  # pragma: no cover - non-posix fallback, lock is a no-op
    fcntl = None  # type: ignore[assignment]

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from morphik_core_spark.operators.similarity import (
    ivf_append,
    knn_ivf_partitioned,
)

__all__ = ["DualIndexStore", "MigrationStateError"]


class MigrationStateError(RuntimeError):
    """Raised when an operation is illegal in the current migration phase
    (e.g. cutover before the parity audit passes, or a second cutover).
    Post-cutover ``ingest`` is NOT illegal: the store keeps accepting
    batches after the window closes and routes them to the new layout
    alone — the wrapper degrades to a plain single-store writer."""


def _read_state(path: str) -> dict:
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {"phase": "dual", "new_store_errors": 0, "batches": 0}


@contextlib.contextmanager
def _state_lock(path: str) -> Iterator[None]:
    """Exclusive advisory lock serializing read–mutate–write cycles on the
    state file, so two concurrent ``ingest()`` calls can't lose a
    ``new_store_errors`` increment. Lock file sits next to the state file;
    held only for the tiny JSON update, never across a Spark write."""
    if fcntl is None:  # pragma: no cover - non-posix: single-writer contract
        yield
        return
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _write_state(path: str, state: dict) -> None:
    # write-then-rename: a crash mid-write never leaves a torn state file
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".migration_state_")
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        json.dump(state, fh)
    os.replace(tmp, path)


class DualIndexStore:
    """Migration-window wrapper over two materialized IVF layouts."""

    def __init__(
        self,
        spark: SparkSession,
        old_path: str,
        new_path: str,
        old_centroids: Sequence[tuple[int, Sequence[float]]],
        new_centroids: Sequence[tuple[int, Sequence[float]]],
        state_path: str,
        enable_dual_ingestion: bool = True,
        emb_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> None:
        self.spark = spark
        self.old_path = old_path
        self.new_path = new_path
        self.old_centroids = list(old_centroids)
        self.new_centroids = list(new_centroids)
        self.state_path = state_path
        self.enable_dual_ingestion = enable_dual_ingestion
        self.emb_col = emb_col
        self.id_col = id_col

    # ---------------------------------------------------------- state
    @property
    def state(self) -> dict:
        return _read_state(self.state_path)

    @property
    def phase(self) -> str:
        return self.state.get("phase", "dual")

    def read_path(self) -> str:
        """The layout reads serve from: old during the window, new after."""
        return self.new_path if self.phase == "cut" else self.old_path

    def _read_centroids(self) -> list[tuple[int, Sequence[float]]]:
        return self.new_centroids if self.phase == "cut" else self.old_centroids

    # ---------------------------------------------------------- writes
    def ingest(self, batch: DataFrame) -> dict:
        """Append one embedding batch. During the window the batch lands
        in BOTH layouts; the old (serving) layout's failure raises, the
        new layout's failure is swallowed into the state counter exactly
        like the reference's fast-store error handling — the window can
        heal by re-driving missed batches before the audit."""
        if self.phase == "cut":
            # post-cutover the new layout IS the store; single write
            ivf_append(batch, self.new_centroids, self.new_path, emb_col=self.emb_col)
            with _state_lock(self.state_path):
                state = self.state
                state["batches"] = state.get("batches", 0) + 1
                _write_state(self.state_path, state)
            return {"old": False, "new": True}
        ivf_append(batch, self.old_centroids, self.old_path, emb_col=self.emb_col)
        wrote_new = False
        new_errors = 0
        if self.enable_dual_ingestion:
            try:
                ivf_append(batch, self.new_centroids, self.new_path, emb_col=self.emb_col)
                wrote_new = True
            except Exception:  # noqa: BLE001 — new store must not fail serving writes
                new_errors = 1
        # re-read under the lock so concurrent ingests can't lose a counter
        # increment (the Spark appends above run lock-free — only the tiny
        # JSON read-modify-write is serialized)
        with _state_lock(self.state_path):
            state = self.state
            state["new_store_errors"] = state.get("new_store_errors", 0) + new_errors
            state["batches"] = state.get("batches", 0) + 1
            _write_state(self.state_path, state)
        return {"old": True, "new": wrote_new}

    # ---------------------------------------------------------- reads
    def search(self, query_vector: Sequence[float], k: int, n_probes: int = 1) -> DataFrame:
        """Top-k against the current READ layout (pinned to old until
        cutover) — callers never know a migration is in flight."""
        return knn_ivf_partitioned(
            self.spark,
            self.read_path(),
            query_vector,
            self._read_centroids(),
            k,
            n_probes=n_probes,
            id_col=self.id_col,
            emb_col=self.emb_col,
        )

    # ---------------------------------------------------------- audit
    def parity_audit(
        self,
        queries: Sequence[Sequence[float]],
        k: int,
        n_probes: int = 1,
        decimals: int = 6,
    ) -> DataFrame:
        """The cutover gate, as a DataFrame so it can land in a report
        table: one row per probe query with the two layouts' total row
        counts, the top-k id overlap fraction, and the max |Δscore| over
        the shared ids. Row counts compare once (same value repeated) —
        dual-written layouts must hold the same vectors even though
        their list partitioning differs."""
        n_old = self.spark.read.parquet(self.old_path).count()
        n_new = self.spark.read.parquet(self.new_path).count()
        rows = []
        for qi, qv in enumerate(queries):
            old_top = {
                r[0]: r[1]
                for r in self.search_layout("old", qv, k, n_probes).collect()
            }
            new_top = {
                r[0]: r[1]
                for r in self.search_layout("new", qv, k, n_probes).collect()
            }
            shared = set(old_top) & set(new_top)
            overlap = len(shared) / float(max(len(old_top), 1))
            max_d = max((abs(old_top[i] - new_top[i]) for i in shared), default=0.0)
            rows.append(
                (
                    qi,
                    n_old,
                    n_new,
                    round(overlap, decimals),
                    round(max_d, decimals),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "query_idx int, n_old bigint, n_new bigint, topk_overlap double, max_score_delta double",
        )

    def search_layout(
        self, which: str, query_vector: Sequence[float], k: int, n_probes: int = 1
    ) -> DataFrame:
        """Search a specific layout regardless of phase (audit plumbing)."""
        path = self.old_path if which == "old" else self.new_path
        cents = self.old_centroids if which == "old" else self.new_centroids
        return knn_ivf_partitioned(
            self.spark, path, query_vector, cents, k,
            n_probes=n_probes, id_col=self.id_col, emb_col=self.emb_col,
        )

    # ---------------------------------------------------------- cutover
    def cutover(
        self,
        queries: Sequence[Sequence[float]],
        k: int,
        n_probes: int = 1,
        min_overlap: float = 0.8,
        max_score_delta: float = 1e-6,
    ) -> DataFrame:
        """Flip reads to the new layout — but only if the audit passes:
        row counts equal, zero unhealed new-store write errors, every
        probe query at or above the overlap floor and within the score
        tolerance on shared ids. Returns the audit frame either way
        (raises with it summarized on refusal)."""
        state = self.state
        if state["phase"] == "cut":
            raise MigrationStateError("cutover already completed")
        if state.get("new_store_errors", 0):
            raise MigrationStateError(
                f"{state['new_store_errors']} batch(es) failed to dual-write into the "
                "new layout — re-drive them (ingest with dual enabled) before cutover"
            )
        audit = self.parity_audit(queries, k, n_probes=n_probes)
        bad = audit.filter(
            (F.col("n_old") != F.col("n_new"))
            | (F.col("topk_overlap") < F.lit(float(min_overlap)))
            | (F.col("max_score_delta") > F.lit(float(max_score_delta)))
        ).count()
        if bad:
            raise MigrationStateError(
                f"parity audit failed for {bad} probe quer(ies) — reads stay on the old layout"
            )
        with _state_lock(self.state_path):
            state = self.state
            if state["phase"] == "cut":
                raise MigrationStateError("cutover already completed")
            if state.get("new_store_errors", 0):
                raise MigrationStateError(
                    "new-store write errors appeared during the audit — re-drive first"
                )
            state["phase"] = "cut"
            _write_state(self.state_path, state)
        return audit
