"""Output checks: a brute-force numpy model of the store.

The model is read back from parquet with pyarrow and answers every read
op by brute force (auth, metadata filter, folder scope, cosine top-k) in
numpy. The mixed workload replays its writes into the model in op order,
so each read is checked against the store as it stood at that op, and the
final store is compared with the model after the run.
"""

from __future__ import annotations

import json
import os
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from morphik_core_spark.functions.chunking import split_text
from morphik_core_spark.functions.embedder import hash_embed
from perfbench import corpus

TOL = 1e-9


def read_documents(root: str) -> pa.Table:
    part = ds.partitioning(pa.schema([("app_id", pa.string())]), flavor="hive")
    return ds.dataset(os.path.join(root, "documents"), format="parquet", partitioning=part).to_table(
        columns=["external_id", "filename", "metadata", "status", "folder_path", "app_id", "updated_at"]
    )


def read_chunks(root: str) -> pa.Table:
    return pq.read_table(os.path.join(root, "chunks"), columns=["document_id", "chunk_number", "content", "embedding"])


def embeddings(column: pa.ChunkedArray) -> np.ndarray:
    flat = column.combine_chunks()
    if flat.null_count:
        raise ValueError("null embedding in the chunks table")
    return flat.flatten().to_numpy(zero_copy_only=False).reshape(len(flat), -1)


def _matches(value: Any, cond: Any) -> bool:
    """The subset of the filter DSL the workloads use: scalar equality and
    numeric range operators."""
    if isinstance(cond, dict):
        ops = {"$gte": lambda v, x: v >= x, "$lte": lambda v, x: v <= x, "$gt": lambda v, x: v > x, "$lt": lambda v, x: v < x}
        return all(
            isinstance(value, (int, float)) and not isinstance(value, bool) and ops[op](value, x)
            for op, x in cond.items()
        )
    return value == cond


def _in_folder(folder: str | None, path: str, depth: int) -> bool:
    if folder is None:
        return False
    if depth == 0:
        return folder == path
    if depth < 0:
        return folder == path or folder.startswith(path.rstrip("/") + "/")
    raise ValueError("positive folder depths are not modelled")


class StoreModel:
    def __init__(self, root: str) -> None:
        docs = read_documents(root).to_pylist()
        self.doc_ids = [d["external_id"] for d in docs]
        self.row_of = {d: i for i, d in enumerate(self.doc_ids)}
        self.filename = [d["filename"] for d in docs]
        self.app = [d["app_id"] for d in docs]
        self.folder = [d["folder_path"] for d in docs]
        self.status = [d["status"] for d in docs]
        self.updated_at = [d["updated_at"] for d in docs]
        self.metadata = [json.loads(d["metadata"] or "{}") for d in docs]
        self.index_of = {corpus.doc_index(f): i for i, f in enumerate(self.filename)}

        chunks = self.in_model_order(read_chunks(root))
        self.chunk_doc = np.array([self.row_of[d] for d in chunks["document_id"].to_pylist()])
        self.chunk_number = chunks["chunk_number"].to_numpy()
        self.emb = embeddings(chunks["embedding"]).copy()
        self.norm = np.linalg.norm(self.emb, axis=1)
        starts = np.searchsorted(self.chunk_doc, np.arange(len(self.doc_ids) + 1))
        self.chunk_rows = [(int(starts[i]), int(starts[i + 1])) for i in range(len(self.doc_ids))]
        self.texts: dict[int, str] = {}  # doc row -> text written by the run

    def in_model_order(self, chunks: pa.Table) -> pa.Table:
        """``chunks`` sorted by (document row, chunk_number)."""
        rows = np.array([self.row_of[d] for d in chunks["document_id"].to_pylist()])
        return chunks.take(pa.array(np.lexsort((chunks["chunk_number"].to_numpy(), rows))))

    @property
    def n_chunks(self) -> int:
        return len(self.chunk_doc)

    def doc_id(self, index: int) -> str:
        return self.doc_ids[self.index_of[index]]

    # ------------------------------------------------------------ reads

    def doc_mask(self, app: str, filters: dict | None = None, folder: tuple[str, int] | None = None,
                 completed_only: bool = True) -> np.ndarray:
        mask = np.zeros(len(self.doc_ids), dtype=bool)
        for i in range(len(self.doc_ids)):
            if self.app[i] != app or (completed_only and self.status[i] != "completed"):
                continue
            if filters and not all(_matches(self.metadata[i].get(f), c) for f, c in filters.items()):
                continue
            if folder is not None and not _in_folder(self.folder[i], *folder):
                continue
            mask[i] = True
        return mask

    def ranked(self, query: str, mask: np.ndarray, k: int) -> list[tuple[str, int, float]]:
        """Candidates in (score desc, document_id, chunk_number) order: the
        top k plus every candidate tied with the k-th score."""
        rows = np.flatnonzero(mask[self.chunk_doc])
        if len(rows) == 0:
            return []
        q = np.asarray(hash_embed(query), dtype=np.float64)
        denom = self.norm[rows] * np.linalg.norm(q)
        with np.errstate(invalid="ignore", divide="ignore"):
            scores = (1.0 + (self.emb[rows] @ q) / denom) / 2.0
        if np.isnan(scores).any():
            raise ValueError("zero-norm vector: NULL scores are not modelled")
        s9 = np.round(scores, 9)
        if len(rows) > k:
            cut = -np.partition(-s9, k - 1)[k - 1]
            keep = s9 >= cut
            rows, scores, s9 = rows[keep], scores[keep], s9[keep]
        out = [
            (self.doc_ids[self.chunk_doc[r]], int(self.chunk_number[r]), float(s), float(r9))
            for r, s, r9 in zip(rows, scores, s9)
        ]
        out.sort(key=lambda t: (-t[3], t[0], t[1]))
        return [t[:3] for t in out]

    def has_chunk(self, doc_id: str, number: int) -> bool:
        lo, hi = self.chunk_rows[self.row_of[doc_id]]
        return 0 <= number < hi - lo

    # ----------------------------------------------------------- writes

    def update_text(self, index: int, text: str) -> None:
        row = self.row_of[self.doc_id(index)]
        pieces = split_text(text, corpus.CHUNK_SIZE, corpus.CHUNK_OVERLAP)
        lo, hi = self.chunk_rows[row]
        if len(pieces) != hi - lo:
            raise ValueError(f"update changes the chunk count of document {index}")
        self.emb[lo:hi] = np.array([hash_embed(p) for p in pieces])
        self.norm[lo:hi] = np.linalg.norm(self.emb[lo:hi], axis=1)
        self.texts[row] = text

    def update_metadata(self, index: int, updates: dict) -> None:
        self.metadata[self.row_of[self.doc_id(index)]].update(updates)


def _rows_equal(got, exp) -> bool:
    return len(got) == len(exp) and all(
        g[0] == e[0] and g[1] == e[1] and abs(g[2] - e[2]) <= TOL for g, e in zip(got, exp)
    )


def check_topk(got: list[tuple[str, int, float]], ranked: list[tuple[str, int, float]], k: int) -> str | None:
    """None when ``got`` is a correct top-k. Rows tied on score may come
    in any order and either side of the cut."""
    exp = ranked[:k]
    if _rows_equal(got, exp):
        return None
    score_of = {(d, c): s for d, c, s in ranked}
    if (
        len(got) == len(exp)
        and len({(d, c) for d, c, _ in got}) == len(got)
        and all(abs(g[2] - e[2]) <= TOL for g, e in zip(got, exp))
        and all((d, c) in score_of and abs(score_of[(d, c)] - s) <= TOL for d, c, s in got)
    ):
        return None
    return f"top-{k} mismatch: got {got[:3]}... expected {exp[:3]}..."


def check_read(model: StoreModel, op: corpus.Op, result: Any) -> str | None:
    p = op.params
    if op.type == "retrieve":
        mask = model.doc_mask(p["app"], p["filters"], (p["folder_path"], p["folder_depth"]))
        return check_topk(result, model.ranked(p["query"], mask, p["k"]), p["k"])
    if op.type == "grouped":
        mains = [(d, c, s) for d, c, s, pad in result if not pad]
        err = check_topk(mains, model.ranked(p["query"], model.doc_mask(p["app"]), p["k"]), p["k"])
        if err:
            return err
        keys = {(d, c) for d, c, _ in mains}
        want = {
            (d, c + step)
            for d, c in keys
            for step in range(-p["padding"], p["padding"] + 1)
            if step and (d, c + step) not in keys and model.has_chunk(d, c + step)
        }
        pads = [(d, c, s) for d, c, s, pad in result if pad]
        if {(d, c) for d, c, _ in pads} != want or len(pads) != len(want) or any(s != 0.0 for *_, s in pads):
            return f"padding mismatch: got {sorted(pads)[:3]}... expected {sorted(want)[:3]}..."
        return None
    if op.type == "retrieve_docs":
        # best chunk per document among the top max(4k, 20) chunks
        pool = max(p["k"] * 4, 20)
        ranked = model.ranked(p["query"], model.doc_mask(p["app"]), pool)
        best: dict[str, tuple[str, int, float]] = {}
        for d, c, s in ranked[:pool]:
            if d not in best or (round(s, 9), -c) > (round(best[d][2], 9), -best[d][1]):
                best[d] = (d, c, s)
        exp = sorted(best.values(), key=lambda t: (-round(t[2], 9), t[0]))[: p["k"]]
        if _rows_equal(result, exp):
            return None
        # rows tied on score may swap, also across the pool's cut
        score_of = {(d, c): s for d, c, s in ranked}
        if (
            len(result) == len(exp)
            and len({d for d, _, _ in result}) == len(result)
            and all(abs(g[2] - e[2]) <= TOL for g, e in zip(result, exp))
            and all((d, c) in score_of and abs(score_of[(d, c)] - s) <= TOL for d, c, s in result)
        ):
            return None
        return f"retrieve_docs mismatch: got {result[:3]}... expected {exp[:3]}..."
    if op.type == "query":
        citations, answer = result
        ranked = model.ranked(p["query"], model.doc_mask(p["app"]), p["k"])
        name = {d: model.filename[model.row_of[d]] for d, _, _ in ranked}
        by_citation = {f"[{name[d]} p.{c + 1}]": (d, c, s) for d, c, s in ranked}
        got = [by_citation.get(c, ("?", -1, -1.0)) for c in citations]
        if not answer.startswith("stub-answer"):
            return f"unexpected answer {answer[:40]!r}"
        return check_topk(got, ranked, p["k"])
    if op.type == "list":
        mask = model.doc_mask(p["app"], p["filters"], completed_only=False)
        rows = sorted(np.flatnonzero(mask), key=lambda i: model.doc_ids[i])
        rows.sort(key=lambda i: model.updated_at[i], reverse=True)
        exp = [model.doc_ids[i] for i in rows[: p["limit"]]]
        return None if result == exp else f"list mismatch: got {result[:3]}... expected {exp[:3]}..."
    raise ValueError(op.type)


def check_final(model: StoreModel, root: str, n_docs: int, n_chunks: int) -> list[str]:
    """The store after a mixed run: same row counts as at the start, and
    every chunk, text and metadata value equal to the model's."""
    errors = []
    docs = read_documents(root)
    chunks = read_chunks(root)
    if docs.num_rows != n_docs or chunks.num_rows != n_chunks:
        errors.append(f"row counts changed: {docs.num_rows}/{chunks.num_rows}, started at {n_docs}/{n_chunks}")
        return errors
    for d in docs.to_pylist():
        row = model.row_of.get(d["external_id"])
        if row is None or json.loads(d["metadata"] or "{}") != model.metadata[row] or d["status"] != "completed":
            errors.append(f"document {d['external_id']} does not read back as written")
            break
    chunks = model.in_model_order(chunks)
    if not np.allclose(embeddings(chunks["embedding"]), model.emb, rtol=0, atol=1e-12):
        errors.append("chunk embeddings differ from hash_embed over the written texts")
    content = chunks["content"].to_pylist()
    for row, text in model.texts.items():
        lo, hi = model.chunk_rows[row]
        if content[lo:hi] != split_text(text, corpus.CHUNK_SIZE, corpus.CHUNK_OVERLAP):
            errors.append(f"chunks of document {model.doc_ids[row]} differ from split_text of its new text")
            break
    return errors
