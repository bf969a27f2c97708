"""MorphikSpark — the reference's API surface over parquet-backed tables.

One class mapping morphik-core's service endpoints (SURVEY §3) onto this
engine, so a reference user can switch workloads 1:1:

- ``ingest_text`` / ``ingest_texts``   → POST /ingest/text (§3.3 pipeline)
- ``retrieve_chunks``                  → POST /retrieve/chunks (§3.1)
- ``retrieve_docs``                    → POST /retrieve/docs (doc-level agg)
- ``query``                            → POST /query (RAG completion, §3.2)
- ``list_documents`` / ``get_document``→ listing surface (§2.6)
- ``get_document_status``              → GET /documents/{id}/status
- ``get_document_by_filename``         → GET /documents/filename/{name}
- ``update_document_text``             → POST /documents/{id}/update_text
- ``document_summary`` / ``upsert_document_summary`` → GET/PUT summary
- ``update_document_metadata``         → metadata merge + snapshot rewrite
- ``delete_document``                  → snapshot rewrite
- ``move_folder``                      → folder subtree move

Storage: ``<root>/documents`` and ``<root>/chunks`` parquet snapshots.
Mutations rewrite the snapshot relationally (docstore ops); at scale the
writer targets affected partitions only — the logic is identical.

Each table carries a version token, ``<root>/_<table>_version``: a tiny
file that every rewrite of the table (``_overwrite``'s swap,
``_merge_documents``' partition merge) replaces AFTER its data lands. A
client keeps one resident snapshot per table — the parquet relation
(schema inferred and files listed once, documents already cast to
schema) plus, for documents, the row count — keyed on that file's
``stat``.
Every read stats the token once and rebuilds only when it moved, so a
write is seen on the next read by this client and by any other client
on the same root. Snapshots are never ``persist()``-ed: a read after a
write pays one rebuild, never a cache fill.

The embedder defaults to the seeded hash embedder; production embedders
(LiteLLM dense / ColPali) plug in via the same (text→vector, UDF) pair.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from datetime import UTC, datetime
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from morphik_core_spark.functions.chunking import chunk_documents
from morphik_core_spark.functions.embedder import hash_embed, hash_embed_udf
from morphik_core_spark.functions.text import clean_control_chars
from morphik_core_spark.operators import docstore, listing, rag, retrieval
from morphik_core_spark.operators.metadata_filters import MetadataFilterCompiler
from morphik_core_spark.operators.rerank import make_reranker
from morphik_core_spark.operators.scopes import AuthContext, build_folder_scope
from morphik_core_spark.operators.typed_metadata import merge_metadata, normalize_metadata
from morphik_core_spark.plans.literal import values_literal_frame

__all__ = ["MorphikSpark"]

_DOCS_SCHEMA = (
    "external_id string, filename string, content_type string, metadata string, "
    "metadata_types map<string,string>, status string, created_at timestamp, "
    "updated_at timestamp, owner_id string, app_id string, folder_name string, "
    "folder_path string, end_user_id string"
)
_CHUNKS_SCHEMA = (
    "document_id string, chunk_number int, content string, embedding array<double>, "
    "app_id string, folder_path string"
)


class _Snapshot:
    """One table as of one version token: its DataFrame and, for the
    documents table, the row count, filled by the first retrieval that
    needs it."""

    __slots__ = ("token", "df", "rows")

    def __init__(self, token: tuple | None, df: DataFrame) -> None:
        self.token = token
        self.df = df
        self.rows: int | None = None


class MorphikSpark:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        embed_dims: int = 16,
        chunk_size: int = 512,
        chunk_overlap: int = 64,
        embed_text: Callable[[str], list[float]] | None = None,
        embed_udf=None,
        embedder: str | dict | None = None,
        reranker: str | dict | None = None,
        storage=None,
    ) -> None:
        """``embedder``/``reranker`` select models by spec — the facade
        analog of the reference's morphik.toml registered_models
        (morphik.toml:17-56): ``"hash"`` (default), ``"hash:<dims>"``, or
        ``"remote:<api_base>"`` / a provider dict for an OpenAI-compatible
        endpoint served through the batched, retrying, failure-isolated
        adapter (functions/model_registry.py). Explicit ``embed_text`` /
        ``embed_udf`` callables override the spec (power-user seam)."""
        from morphik_core_spark.functions.model_registry import (
            build_embedder,
            build_rerank_kernel,
        )

        self.spark = spark
        self.root = root
        self.embed_dims = embed_dims
        self.chunk_size = chunk_size
        self.chunk_overlap = chunk_overlap
        spec_text, spec_udf = build_embedder(embedder, default_dims=embed_dims)
        self._embed_text = embed_text or spec_text
        self._embed_udf = embed_udf or spec_udf
        self._rerank_kernel = build_rerank_kernel(reranker)
        # object store for source-file payloads + download-URL hydration
        # (sources/object_store; reference base_storage.py contract).
        # None = text-only deployment, download_url stays null.
        self._storage = storage
        self._compiler = MetadataFilterCompiler()
        # resident per-table snapshots (module docstring, "Storage")
        self._snapshots: dict[str, _Snapshot] = {}
        self._snapshot_lock = threading.Lock()

    # ------------------------------------------------------------- tables

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _version_token(self, name: str) -> tuple | None:
        """The table's version as one ``stat``: every bump replaces the
        file, so its inode and mtime move together; None = never bumped."""
        try:
            st = os.stat(self._path(f"_{name}_version"))
        except FileNotFoundError:
            return None
        return (st.st_ino, st.st_mtime_ns)

    def _bump_version(self, name: str) -> None:
        """Publish a rewrite of ``name``: called after its data landed."""
        path = self._path(f"_{name}_version")
        tmp = f"{path}.{uuid.uuid4().hex}"
        open(tmp, "w").close()
        os.replace(tmp, path)
        with self._snapshot_lock:
            self._snapshots.pop(name, None)

    def _snapshot(self, name: str) -> _Snapshot:
        token = self._version_token(name)
        with self._snapshot_lock:
            snap = self._snapshots.get(name)
            if snap is None or snap.token != token:
                snap = _Snapshot(token, self._read_table(name))
                self._snapshots[name] = snap
            return snap

    def _read_table(self, name: str) -> DataFrame:
        schema = _DOCS_SCHEMA if name == "documents" else _CHUNKS_SCHEMA
        p = self._path(name)
        if not os.path.exists(p):
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.parquet(p)
        if name == "chunks":
            return df
        # the table is partitioned by app_id (tenant pruning + partition-
        # granularity upserts); re-select in schema order since parquet
        # reads append partition columns at the end, and CAST each column:
        # a table whose only partition value is NULL infers the partition
        # column as VOID, which poisons later partitioned writes
        fields = self.spark.createDataFrame([], schema).schema.fields
        return df.select(*[F.col(f.name).cast(f.dataType) for f in fields])

    def _document_rows(self, snap: _Snapshot) -> int:
        """Row count of a documents snapshot: one job per table version."""
        if snap.rows is None:
            snap.rows = snap.df.count()
        return snap.rows

    def documents(self) -> DataFrame:
        return self._snapshot("documents").df

    def chunks(self) -> DataFrame:
        return self._snapshot("chunks").df

    def _write_documents(self, df: DataFrame) -> None:
        self._overwrite(df, "documents", _DOCS_SCHEMA, partition_by="app_id")

    def _merge_documents(self, updates: DataFrame) -> None:
        """Partition-granularity MERGE: only the app_id partitions named by
        the update batch are read back and rewritten (dynamic partition
        overwrite); every other tenant's files stay byte-identical. This is
        the scale path for every upsert-shaped mutation — the reference
        mutates single Postgres rows (postgres_database.py:227-298); at
        100 TB the analog is one tenant-partition's IO, never the table's.
        Full-snapshot `_write_documents` remains only for mutations that can
        touch every partition (delete across tenants, folder moves).
        """
        from morphik_core_spark.plans.partitioning import merge_upsert_partitioned

        path = self._path("documents")
        if not os.path.exists(path):
            self._write_documents(updates)
            return
        merge_upsert_partitioned(path, updates, keys=["external_id"], partition_col="app_id")
        self._bump_version("documents")

    def _write_chunks(self, df: DataFrame) -> None:
        self._overwrite(df, "chunks", _CHUNKS_SCHEMA)

    def _overwrite(self, df: DataFrame, name: str, schema: str, partition_by: str | None = None) -> None:
        # snapshot rewrite: stage then swap (parquet has no transactional
        # overwrite-while-reading; at scale this is a partition-level swap).
        # A stale backup from a prior crash is cleared first so the swap
        # can't wedge on rename-to-existing; if a prior crash left the live
        # path absent, the backup IS the live data — restore it before
        # staging the new snapshot. The remaining non-atomic window is the
        # instant between the two renames and the version bump right after
        # them (POSIX can't exchange two directories); a table format
        # (Delta/Iceberg) closes it for real.
        import shutil

        final = self._path(name)
        backup = self._path(f"_{name}_old")
        if os.path.exists(backup):
            if os.path.exists(final):
                shutil.rmtree(backup)
            else:
                os.rename(backup, final)
        tmp = self._path(f"_{name}_staging")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tmp)
        if os.path.exists(final):
            os.rename(final, backup)
        os.rename(tmp, final)
        self._bump_version(name)
        if os.path.exists(backup):
            shutil.rmtree(backup)

    # ----------------------------------------------------------- ingestion

    def ingest_text(
        self,
        content: str,
        filename: str | None = None,
        metadata: dict[str, Any] | None = None,
        metadata_types: dict[str, str] | None = None,
        auth: AuthContext | None = None,
        folder_path: str | None = None,
        end_user_id: str | None = None,
    ) -> str:
        return self.ingest_texts(
            [content],
            filenames=[filename],
            metadatas=[metadata],
            metadata_types_list=[metadata_types],
            auth=auth,
            folder_path=folder_path,
            end_user_id=end_user_id,
        )[0]

    def ingest_texts(
        self,
        contents: Sequence[str],
        filenames: Sequence[str | None] | None = None,
        metadatas: Sequence[dict | None] | None = None,
        metadata_types_list: Sequence[dict | None] | None = None,
        auth: AuthContext | None = None,
        folder_path: str | None = None,
        end_user_id: str | None = None,
        content_types: Sequence[str] | None = None,
    ) -> list[str]:
        """Batch text ingestion: normalize metadata → chunk → embed → index."""
        auth = auth or AuthContext(user_id="local")
        now = datetime.now(UTC).replace(tzinfo=None)
        n = len(contents)
        filenames = filenames or [None] * n
        metadatas = metadatas or [None] * n
        metadata_types_list = metadata_types_list or [None] * n
        content_types = content_types or ["text/plain"] * n

        doc_rows, ids = [], []
        for content, filename, md, hints, ctype in zip(
            contents, filenames, metadatas, metadata_types_list, content_types
        ):
            doc_id = str(uuid.uuid4())
            ids.append(doc_id)
            values, types = normalize_metadata(md or {}, hints)
            ok = bool(content and content.strip())
            doc_rows.append(
                (
                    doc_id,
                    filename,
                    ctype,
                    json.dumps(values),
                    types,
                    "completed" if ok else "failed",
                    now,
                    now,
                    auth.user_id,
                    auth.app_id,
                    folder_path.rstrip("/").rsplit("/", 1)[-1] if folder_path else None,
                    folder_path,
                    end_user_id,
                )
            )
        new_docs = self.spark.createDataFrame(doc_rows, _DOCS_SCHEMA)

        raw = self.spark.createDataFrame(
            [(i, c) for i, c in zip(ids, contents) if c and c.strip()], "external_id string, text string"
        )
        if not raw.isEmpty():
            cleaned = raw.withColumn("text", clean_control_chars(F.col("text")))
            new_chunks = chunk_documents(
                cleaned, text_col="text", id_col="external_id",
                chunk_size=self.chunk_size, chunk_overlap=self.chunk_overlap,
            ).select(
                "document_id",
                "chunk_number",
                "content",
                self._embed_udf(F.col("content")).alias("embedding"),
                F.lit(auth.app_id).alias("app_id"),
                F.lit(folder_path).alias("folder_path"),
            )
            self._write_chunks(self.chunks().unionByName(new_chunks))
        self._merge_documents(new_docs)
        return ids

    def _parse_payload(
        self, data: bytes, filename: str, pdf_layout: bool = False, pdf_tables: bool = False
    ) -> tuple[str, str]:
        """MIME-from-extension + the SAME kernel table the distributed
        drop-dir pipeline uses (sources/binary.parse_kernels). Returns
        (text, mime); an unparseable payload yields text '' — the caller
        decides whether that means status='failed' (ingest) or an empty
        analysis (on-the-fly)."""
        from morphik_core_spark.functions.binary import _DEFAULT_MIME, _EXT_MIME
        from morphik_core_spark.sources.binary import parse_kernels

        ext = filename.rsplit(".", 1)[-1].lower() if "." in filename else ""
        mime = _EXT_MIME.get(ext, _DEFAULT_MIME)
        text = ""
        if mime.startswith("text/") and mime != "text/html":
            try:
                text = data.decode("utf-8", errors="replace")
            except Exception:  # noqa: BLE001
                text = ""
        else:
            kernel = parse_kernels(pdf_layout, pdf_tables).get(mime)
            if kernel is not None:
                try:
                    text = kernel(data)
                except Exception:  # noqa: BLE001 — failed parse = failed row
                    text = ""
        return text, mime

    def query_document(
        self,
        data: bytes,
        filename: str,
        prompt: str,
        schema: dict[str, Any] | None = None,
        model: rag.CompletionModel | None = None,
        auth: AuthContext | None = None,
        ingest: bool = False,
        metadata: dict[str, Any] | None = None,
        folder_path: str | None = None,
        end_user_id: str | None = None,
        pdf_layout: bool = False,
        pdf_tables: bool = False,
    ) -> dict[str, Any]:
        """One-off analysis of an UN-ingested file (reference POST
        /document/query, routes/ingest.py:471 — 'Morphik On-the-Fly'):
        parse the payload through the same kernel table as ingestion,
        run the prompt over the full document text (plain completion, or
        schema-enforced structured output through the same normalized
        schema path as extract_metadata), and optionally queue the
        follow-up ingestion the reference's ingestion_options control.

        Returns {completion, structured_output, document_id, status} —
        the DocumentQueryResponse shape; document_id/status are set only
        when ``ingest=True``."""
        auth = auth or AuthContext(user_id="local")
        text, _mime = self._parse_payload(data, filename, pdf_layout, pdf_tables)
        model = model or rag.StubCompletionModel()
        completion: str | None = None
        structured: dict[str, Any] | None = None
        if schema:
            from morphik_core_spark.operators.extraction import extract_structured

            # the user's prompt rides ahead of the document text, inside
            # the same extraction-prompt envelope extract_metadata uses
            # (reference on-the-fly passes prompt + content to one call)
            one = self.spark.createDataFrame(
                [("__on_the_fly__", f"{prompt}\n\n{text}")],
                "document_id string, content string",
            )
            row = extract_structured(one, schema, model).collect()[0]
            structured = {
                k: v
                for k, v in row.asDict(recursive=True).items()
                if k not in ("document_id", "content", "raw_extraction")
            }
        else:
            completion = model.complete(
                rag.build_prompt(
                    prompt,
                    text,
                    "Analyze the document below and answer.\n\nDocument:\n{context}"
                    "\n\nTask: {question}\nAnswer:",
                )
            )
        doc_id = None
        status = None
        if ingest:
            doc_id = self.ingest_file(
                data,
                filename,
                metadata=metadata,
                auth=auth,
                folder_path=folder_path,
                end_user_id=end_user_id,
                pdf_layout=pdf_layout,
            )
            got = self.get_document_status(doc_id)
            status = got["status"] if got else None
        return {
            "completion": completion,
            "structured_output": structured,
            "document_id": doc_id,
            "status": status,
        }

    def ingest_file(
        self,
        data: bytes,
        filename: str,
        metadata: dict[str, Any] | None = None,
        auth: AuthContext | None = None,
        folder_path: str | None = None,
        end_user_id: str | None = None,
        pdf_layout: bool = False,
        pdf_tables: bool = False,
        use_colpali: bool = False,
    ) -> str:
        """Single-file ingestion at the serving edge (reference POST
        /ingest/file, ingestion_service.py): infer MIME from the
        extension, parse through the SAME kernel table the distributed
        drop-dir pipeline uses (sources/binary.parse_kernels — PDF incl.
        optional XY-cut layout mode, Office, HTML, ...), store the source
        payload in the configured object store, and index the text.

        With a storage configured, the document's metadata carries
        ``external_storage`` (bucket/key JSON — the engine-side analog of
        the reference Document.storage_info) and retrieval results
        hydrate ``download_url`` from it (document_service.py:1720-1738).
        A payload the kernels cannot parse still ingests — status
        'failed', payload stored — matching the reference worker's
        keep-the-file-mark-the-row behavior."""
        auth = auth or AuthContext(user_id="local")
        text, mime = self._parse_payload(data, filename, pdf_layout, pdf_tables)
        md = dict(metadata or {})
        if self._storage is not None:
            doc_key = f"ingest/{uuid.uuid4()}/{filename}"
            bucket = auth.app_id or "storage"
            self._storage.upload(bucket, doc_key, data)
            md["external_storage"] = json.dumps({"bucket": bucket, "key": doc_key})
        doc_id = self.ingest_texts(
            [text],
            filenames=[filename],
            metadatas=[md],
            auth=auth,
            folder_path=folder_path,
            end_user_id=end_user_id,
            content_types=[mime],
        )[0]
        if use_colpali and mime == "application/pdf":
            # visual path (reference use_colpali=True, ingestion_service
            # renders pages -> multivectors -> colpali store): one
            # multivector row per page via the model-free patch kernel;
            # a live ColPali model writes the same schema through
            # model_adapters.remote_multivector_udf
            from morphik_core_spark.operators.multimodal import page_patch_multivectors

            pages = page_patch_multivectors(
                self.spark.createDataFrame([(doc_id, bytearray(data))], "media_id string, payload binary")
            ).filter(F.col("ok") & F.col("multivector").isNotNull())
            rows = pages.select(
                F.col("media_id").alias("document_id"),
                F.col("page_idx").alias("chunk_number"),
                "multivector",
                F.lit(auth.app_id).cast("string").alias("app_id"),
            )
            rows.write.mode("append").parquet(self._path("page_multivectors"))
        return doc_id

    def page_multivectors(self) -> DataFrame:
        p = self._path("page_multivectors")
        if not os.path.exists(p):
            return self.spark.createDataFrame(
                [], "document_id string, chunk_number int, multivector array<array<double>>, app_id string"
            )
        return self.spark.read.parquet(p)

    # ----------------------------------------------------------- retrieval

    def retrieve_chunks(
        self,
        query: str,
        k: int = 5,
        filters: dict[str, Any] | None = None,
        auth: AuthContext | None = None,
        folder_path: str | None = None,
        folder_depth: int = 0,
        end_user_id: str | None = None,
        padding: int = 0,
        use_reranker: bool = False,
        min_score: float | None = None,
        apply_min_score: bool = False,
        use_colpali: bool = False,
    ) -> list[dict]:
        """Filtered vector top-k (§3.1). Returns ChunkResult-shaped dicts.

        ``min_score`` is accepted-and-ignored by default — bug-for-bug
        reference parity (every retrieval API takes it, nothing applies
        it; SURVEY §0). ``apply_min_score=True`` opts into the behavior
        the parameter advertises: drop hits below the threshold (padding
        rows keep their score-0 convention and survive).

        ``use_colpali=True`` adds the visual path (reference
        document_service.py retrieve_chunks configuration 2: colpali
        chunks + regular chunks, visual rows replacing text rows on the
        same chunk key — merge_colpali semantics at the serving edge):
        stored page multivectors are MaxSim-scored against the query
        rendered through the same patch kernel, normalized by query token
        count, and the union is re-cut to k."""
        hits = self._retrieve_chunks_df(
            query,
            k=k,
            filters=filters,
            auth=auth,
            folder_path=folder_path,
            folder_depth=folder_depth,
            end_user_id=end_user_id,
            padding=padding,
            use_reranker=use_reranker,
        )
        rows = [r.asDict(recursive=True) for r in hits.collect()]
        for r in rows:
            r["download_url"] = self._download_url_for(r.get("metadata"))
        if use_colpali:
            for r in rows:
                r["is_visual"] = False
            visual = self._visual_page_hits(query, k, auth)
            if visual:
                keys = {(v["document_id"], v["chunk_number"]) for v in visual}
                rows = [r for r in rows if (r["document_id"], r["chunk_number"]) not in keys]
                template = {kk: None for kk in rows[0]} if rows else {}
                for v in visual:
                    merged = dict(template)
                    merged.update(v)
                    rows.append(merged)
                # re-cut to k among scored rows; padding rows ride along
                pad = [r for r in rows if r.get("is_padding")]
                main = sorted(
                    (r for r in rows if not r.get("is_padding")),
                    key=lambda r: (-r["score"], str(r["document_id"]), r["chunk_number"]),
                )[:k]
                rows = main + pad
        if apply_min_score and min_score is not None:
            rows = [
                r for r in rows
                if r["score"] >= min_score or (padding > 0 and r["score"] == 0.0)
            ]
        return sorted(rows, key=lambda r: (-r["score"], str(r["document_id"]), r["chunk_number"]))

    def _visual_page_hits(self, query: str, k: int, auth: AuthContext | None) -> list[dict]:
        """Top-k visually-matching pages from the stored multivectors:
        MaxSim against the rendered query, app-scoped, hydrated with the
        document's filename/metadata and a download URL. Driver-side work
        is k rows; the MaxSim scan is the engine's.

        Caveat (measured in evaluations/visual_retrieval_eval.py): the
        model-free patch kernel matches page LAYOUT, not words — glyph
        boxes carry no glyph identity. Content-level visual retrieval
        needs a real ColPali encoder writing the same multivector schema
        (functions/model_adapters.remote_multivector_udf); the merge
        machinery here is identical either way."""
        from morphik_core_spark.operators.maxsim import maxsim_pandas
        from morphik_core_spark.operators.multimodal import text_query_multivector

        mv = self.page_multivectors()
        if auth is not None and auth.app_id is not None:
            mv = mv.filter(F.col("app_id").isNull() | (F.col("app_id") == auth.app_id))
        q = text_query_multivector(query)
        if not q or mv.isEmpty():
            return []
        scored = maxsim_pandas(mv, q, id_cols=("document_id", "chunk_number")).select(
            "document_id",
            "chunk_number",
            F.round(F.col("maxsim") / F.lit(float(len(q))), 6).alias("score"),
        )
        top = scored.orderBy(F.col("score").desc(), "document_id", "chunk_number").limit(k).collect()
        out = []
        for r in top:
            doc = self.get_document(r["document_id"]) or {}
            out.append(
                {
                    "document_id": r["document_id"],
                    "chunk_number": r["chunk_number"],
                    "content": None,  # page hit: content is the page image
                    "score": r["score"],
                    "filename": doc.get("filename"),
                    "metadata": doc.get("metadata"),
                    "content_type": doc.get("content_type"),
                    "download_url": self._download_url_for(doc.get("metadata")),
                    "is_visual": True,
                }
            )
        return out

    def _download_url_for(self, metadata_json: str | None) -> str | None:
        """ChunkResult download-URL hydration (reference
        document_service.py:1720-1738): when the document's metadata
        carries external_storage and a store is configured, hand back a
        presigned/file URL for the source payload. Serving-edge only —
        runs over the k collected rows, never inside a plan. A missing
        file or store error yields None, like the reference's
        warn-and-continue."""
        if self._storage is None or not metadata_json:
            return None
        try:
            info = json.loads(json.loads(metadata_json).get("external_storage") or "null")
            if not info:
                return None
            return self._storage.get_download_url(info["bucket"], info["key"])
        except Exception:  # noqa: BLE001 — reference warns and continues
            return None

    def _retrieve_chunks_df(
        self,
        query: str,
        k: int = 5,
        filters: dict[str, Any] | None = None,
        auth: AuthContext | None = None,
        folder_path: str | None = None,
        folder_depth: int = 0,
        end_user_id: str | None = None,
        padding: int = 0,
        use_reranker: bool = False,
    ) -> DataFrame:
        """The retrieval pipeline as a DataFrame — shared by chunk- and
        doc-level serving so aggregation stays in the engine, not the
        driver."""
        system_filters = build_folder_scope(
            folder_path=folder_path, folder_depth=folder_depth, end_user_id=end_user_id
        )
        qv = self._embed_text(query)
        if use_reranker:
            reranker = (
                make_reranker(query, kernel=self._rerank_kernel)
                if self._rerank_kernel is not None
                else make_reranker(query)
            )
        else:
            reranker = None
        docs = self._snapshot("documents")
        chunks = self.chunks()
        # the documents row count bounds the authorized set: at or under
        # the broadcast threshold it settles the gate, so no probe runs
        n_docs = self._document_rows(docs)
        hits = retrieval.retrieve_chunks(
            docs.df,
            chunks,
            qv,
            k=k,
            auth=auth,
            filters=filters,
            system_filters=system_filters or None,
            reranker=reranker,
            auth_rows_hint=n_docs if n_docs <= retrieval.BROADCAST_ROWS else None,
        )
        if padding > 0:
            # the scoring pass runs once: its k scored keys come back as a
            # VALUES frame, so padding and the flag below re-read chunks by
            # key instead of re-running the top-k plan
            top = [tuple(r) for r in hits.select("document_id", "chunk_number", "score").collect()]
            key_type = chunks.schema["chunk_number"].dataType.simpleString()
            matches = values_literal_frame(
                self.spark,
                [("document_id", "string"), ("chunk_number", key_type), ("score", "double")],
                top,
            )
            # the id list is a pushed-down scan filter: row groups holding
            # none of the matched documents are skipped
            near = chunks.filter(F.col("document_id").isin(sorted({r[0] for r in top})))
            hits = retrieval.with_padding(matches, near, padding)
            # is_padding = key ∉ original matches (document_service.py:715),
            # flagged relationally — score==0.0 alone is not the contract
            hits = docstore.grouped_response(hits, matches)
        # hydration join (§2.3): attach document fields to chunk results
        doc_meta = docs.df.select(
            F.col("external_id").alias("document_id"), "filename", "metadata", "content_type"
        )
        return hits.join(F.broadcast(doc_meta), "document_id", "left")

    def retrieve_docs(self, query: str, k: int = 5, **kwargs) -> list[dict]:
        """Document-level results: best chunk per doc (§2.4), via the
        max_by document_results operator — one shuffle on document_id,
        no driver-side aggregation."""
        hits = self._retrieve_chunks_df(query, k=max(k * 4, 20), **kwargs)
        docs = retrieval.document_results(hits)
        rows = [r.asDict(recursive=True) for r in docs.collect()]
        return sorted(rows, key=lambda r: (-r["score"], str(r["document_id"])))[:k]

    def retrieve_chunks_grouped(
        self,
        query: str,
        k: int = 5,
        padding: int = 0,
        **kwargs,
    ) -> dict:
        """GroupedChunkResponse (reference POST /retrieve/chunks/grouped,
        document_service.py:692-819): the flat chunk list with is_padding
        flags PLUS per-main-chunk groups {main_chunk, padding_chunks,
        total_chunks}. The padding self-join and the is_padding flag
        (key ∉ original matches) are engine-side; group assembly is
        serving-edge work over ≤ k·(2·padding+1) collected rows, exactly
        where the reference does it in memory. Padding chunks attach to
        the first main chunk that claims them, scanned ±1..±padding —
        the reference's processed_chunks walk (:745-763)."""
        rows = self.retrieve_chunks(query, k=k, padding=padding, **kwargs)
        if padding <= 0:
            for r in rows:
                r.setdefault("is_padding", False)
            return {
                "chunks": rows,
                "groups": [
                    {"main_chunk": r, "padding_chunks": [], "total_chunks": 1}
                    for r in rows
                ],
                "total_results": len(rows),
                "has_padding": False,
            }
        mains = [r for r in rows if not r.get("is_padding")]
        pads = {
            (r["document_id"], r["chunk_number"]): r for r in rows if r.get("is_padding")
        }
        processed: set[tuple] = set()
        groups = []
        for m in mains:
            key = (m["document_id"], m["chunk_number"])
            if key in processed:
                continue
            padding_chunks = []
            for i in range(1, padding + 1):
                for nk in (
                    (m["document_id"], m["chunk_number"] - i),
                    (m["document_id"], m["chunk_number"] + i),
                ):
                    r = pads.get(nk)
                    if r is not None and nk not in processed:
                        padding_chunks.append(r)
                        processed.add(nk)
            groups.append(
                {
                    "main_chunk": m,
                    "padding_chunks": padding_chunks,
                    "total_chunks": 1 + len(padding_chunks),
                }
            )
            processed.add(key)
        return {
            "chunks": rows,
            "groups": groups,
            "total_results": len(rows),
            "has_padding": True,
        }

    def batch_get_documents(
        self,
        document_ids: Sequence[str],
        auth: AuthContext | None = None,
        folder_path: str | None = None,
        folder_depth: int = 0,
        end_user_id: str | None = None,
        fields: Sequence[str] | None = None,
    ) -> list[dict]:
        """Batch document fetch (reference POST /batch/documents,
        document_service.py:853-887): access + folder scoping ANDed in
        front, id-deduplicated, optional field projection. The id list
        rides a broadcast semi-join (docstore.batch_get) — never an
        OR-chain predicate."""
        if not document_ids:
            return []
        from morphik_core_spark.operators.scopes import access_predicate, system_predicate

        docs = self.documents()
        if auth is not None:
            docs = docs.filter(access_predicate(auth))
        system_filters = build_folder_scope(
            folder_path=folder_path, folder_depth=folder_depth, end_user_id=end_user_id
        )
        if system_filters:
            docs = docs.filter(system_predicate(system_filters))
        wanted = [(i,) for i in dict.fromkeys(document_ids)]
        out = listing.project(
            docstore.batch_get(docs, wanted, ["external_id"]), fields
        )
        return [r.asDict(recursive=True) for r in out.collect()]

    def batch_get_chunks(
        self,
        sources: Sequence[tuple[str, int]],
        auth: AuthContext | None = None,
        folder_path: str | None = None,
        folder_depth: int = 0,
        end_user_id: str | None = None,
        output_format: str = "base64",
    ) -> list[dict]:
        """Batch chunk fetch (reference POST /batch/chunks,
        document_service.py:888-1010): authorize the DISTINCT document
        ids first, restrict the requested (document_id, chunk_number)
        tuples to authorized docs, then ONE composite-key broadcast
        semi-join against chunks — duplicate requests collapse, order of
        the request list does not matter. Hydrates filename/metadata and
        a download URL per row (output_format='url' skips inline content,
        the reference's skip_image_content switch)."""
        if not sources:
            return []
        doc_ids = list(dict.fromkeys(d for d, _ in sources))
        authorized = {
            r["external_id"]
            for r in self.batch_get_documents(
                doc_ids,
                auth=auth,
                folder_path=folder_path,
                folder_depth=folder_depth,
                end_user_id=end_user_id,
                fields=["external_id"],
            )
        }
        wanted = [
            (d, int(n)) for d, n in dict.fromkeys(tuple(s) for s in sources) if d in authorized
        ]
        if not wanted:
            return []
        hits = docstore.batch_get(self.chunks(), wanted, ["document_id", "chunk_number"])
        doc_meta = self.documents().select(
            F.col("external_id").alias("document_id"), "filename", "metadata", "content_type"
        )
        hydrated = hits.join(F.broadcast(doc_meta), "document_id", "left")
        rows = [r.asDict(recursive=True) for r in hydrated.collect()]
        for r in rows:
            r["download_url"] = self._download_url_for(r.get("metadata"))
            if output_format == "url":
                r["content"] = None
        return sorted(rows, key=lambda r: (str(r["document_id"]), r["chunk_number"]))

    def query(
        self,
        question: str,
        model: rag.CompletionModel | None = None,
        k: int = 20,
        prompt_template: str | None = None,
        **kwargs,
    ) -> dict:
        """RAG completion (§3.2): retrieve → assemble → complete."""
        rows = self.retrieve_chunks(question, k=k, **kwargs)
        return rag.rag_query(rows, question, model or rag.StubCompletionModel(), prompt_template)

    # ------------------------------------------------------------- listing

    def list_documents(
        self,
        skip: int = 0,
        limit: int = 100,
        sort_by: str = "updated_at",
        order: str = "desc",
        filters: dict[str, Any] | None = None,
        auth: AuthContext | None = None,
        fields: Sequence[str] | None = None,
    ) -> list[dict]:
        docs = self.documents()
        if auth is not None:
            from morphik_core_spark.operators.scopes import access_predicate

            docs = docs.filter(access_predicate(auth))
        if filters:
            docs = docs.filter(self._compiler.compile(filters))
        page = listing.sorted_page(docs, sort_by=sort_by, order=order, skip=skip, limit=limit)
        page = listing.project(page, fields)
        return [r.asDict(recursive=True) for r in page.collect()]

    def get_document(self, document_id: str) -> dict | None:
        rows = self.documents().filter(F.col("external_id") == document_id).limit(1).collect()
        return rows[0].asDict(recursive=True) if rows else None

    def get_document_status(self, document_id: str) -> dict | None:
        """Lifecycle probe (reference GET /documents/{id}/status,
        routes/documents.py:169-205): the status fields only — a cheap
        poll that never hydrates metadata or chunks."""
        rows = (
            self.documents()
            .filter(F.col("external_id") == document_id)
            .select("external_id", "status", "filename", "created_at", "updated_at")
            .limit(1)
            .collect()
        )
        if not rows:
            return None
        r = rows[0]
        return {
            "document_id": r.external_id,
            "status": r.status,
            "filename": r.filename,
            "created_at": r.created_at,
            "updated_at": r.updated_at,
        }

    def get_document_by_filename(
        self, filename: str, auth: AuthContext | None = None
    ) -> dict | None:
        """Newest document with this filename (reference GET
        /documents/filename/{filename}, routes/documents.py:259-293 —
        'most recently updated wins' when filenames collide)."""
        from morphik_core_spark.operators.scopes import access_predicate

        docs = self.documents().filter(F.col("filename") == filename)
        if auth is not None:
            docs = docs.filter(access_predicate(auth))
        rows = (
            docs.orderBy(F.col("updated_at").desc(), F.col("external_id").asc())
            .limit(1)
            .collect()
        )
        return rows[0].asDict(recursive=True) if rows else None

    def search_documents_by_name(
        self,
        query: str,
        limit: int = 10,
        filters: dict[str, Any] | None = None,
        auth: AuthContext | None = None,
    ) -> list[dict]:
        """Filename full-text search (reference search_documents_by_name,
        postgres_database.py:2700-2790): access + metadata scoping, then
        the ILIKE/english/simple match union ranked by the restated
        ts_rank, recency tiebreak."""
        from morphik_core_spark.functions.text import filename_search
        from morphik_core_spark.operators.scopes import access_predicate

        docs = self.documents()
        if auth is not None:
            docs = docs.filter(access_predicate(auth))
        if filters:
            docs = docs.filter(self._compiler.compile(filters))
        out = filename_search(docs, query, limit=limit)
        return [r.asDict(recursive=True) for r in out.collect()]

    def search_documents_by_name_fuzzy(
        self,
        query: str,
        max_dist: int = 1,
        limit: int = 10,
        filters: dict[str, Any] | None = None,
        auth: AuthContext | None = None,
    ) -> list[dict]:
        """Typo-tolerant filename lookup — the single-probe specialization
        of `dedup.edit_distance_pairs`: for ONE probe string the right
        plan is a pushed-down length-band scan filter + exact
        levenshtein, not the deletion-variant self-join (that blocking
        pays off for probe BATCHES and corpus self-joins). Extends the
        exact/ILIKE-only reference lookup (postgres_database.py
        filename matching) with edit-distance tolerance."""
        from morphik_core_spark.operators.scopes import access_predicate

        docs = self.documents().filter(F.col("filename").isNotNull())
        if auth is not None:
            docs = docs.filter(access_predicate(auth))
        if filters:
            docs = docs.filter(self._compiler.compile(filters))
        out = (
            docs.filter(
                F.abs(F.length("filename") - F.lit(len(query))) <= F.lit(max_dist)
            )
            .withColumn("dist", F.levenshtein(F.col("filename"), F.lit(query)))
            .filter(F.col("dist") <= max_dist)
            .orderBy(F.col("dist").asc(), F.col("filename").asc())
            .limit(limit)
            .select("external_id", "filename", "dist")
        )
        return [r.asDict(recursive=True) for r in out.collect()]

    def _graph_scope_key(self, auth: AuthContext | None) -> str:
        """Deterministic per-auth-scope key for the persisted term graph.

        The graph is auth-FILTERED content, so it must be persisted per
        scope: a shared path would leak co-occurrence weights from
        inaccessible documents into other callers' seed expansion (or,
        narrow-scope-built, corrupt broader callers' retrieval)."""
        import hashlib

        if auth is None:
            return "public"
        raw = f"app={auth.app_id or ''}|user={auth.user_id or ''}"
        return hashlib.sha256(raw.encode()).hexdigest()[:16]

    def _graph_path(self, auth: AuthContext | None) -> str:
        return self._path(f"term_graph__{self._graph_scope_key(auth)}")

    def _tables_signature(self) -> str:
        """Version of the tables the term graph derives from (chunks for
        edges, documents for the auth scope set): their version tokens
        (module docstring, "Storage"), which every rewrite moves."""
        return json.dumps([self._version_token("chunks"), self._version_token("documents")])

    def build_term_graph(
        self,
        min_weight: int = 2,
        max_terms_per_doc: int | None = 64,
        auth: AuthContext | None = None,
    ) -> int:
        """Build and persist the chunk-content term co-occurrence graph
        (`graph.term_cooccurrence_edges`) — the offline half of GraphRAG.
        Tokens stand in for model-extracted entities; a live NER/LLM
        extractor drops into the same (doc, term) contract. Returns the
        edge count; edges land beside the other warehouse tables, keyed
        by auth scope (see `_graph_scope_key`), stamped with the source-
        table signature so `graph_retrieve` can detect staleness after
        ingest/update/delete and rebuild instead of serving stale or
        cross-scope edges."""
        import json as _json

        from morphik_core_spark.operators.graph import term_cooccurrence_edges

        src_sig = self._tables_signature()
        chunks = self.chunks().select(
            F.col("document_id").alias("doc_id"), F.col("content")
        )
        if auth is not None:
            from morphik_core_spark.operators.scopes import access_predicate

            scoped = self.documents().filter(access_predicate(auth)).select(
                F.col("external_id").alias("doc_id")
            )
            chunks = chunks.join(scoped, "doc_id")
        from morphik_core_spark.plans.cache import release_scoped

        edges = term_cooccurrence_edges(
            chunks, "content", "doc_id",
            min_weight=min_weight, max_terms_per_doc=max_terms_per_doc,
        )
        gpath = self._graph_path(auth)
        try:
            edges.write.mode("overwrite").parquet(gpath)
        finally:
            # the operator persists its distinct (doc, term) frame; the
            # API sits over a MUTABLE store, so a cached relation must
            # not outlive the operation — a later ingest overwrites the
            # chunk files and any surviving cache entry would reference
            # dead parquet parts on the next (rebuilt) plan
            release_scoped()
        # leading underscore => Spark's parquet reader ignores the sidecar
        with open(os.path.join(gpath, "_graph_meta.json"), "w") as fh:
            _json.dump({"source_signature": src_sig}, fh)
        return self.spark.read.parquet(gpath).count()

    def _graph_is_stale(self, gpath: str) -> bool:
        import json as _json

        meta = os.path.join(gpath, "_graph_meta.json")
        if not os.path.exists(meta):
            return True  # pre-metadata build: treat as stale, rebuild once
        try:
            with open(meta) as fh:
                built_sig = _json.load(fh).get("source_signature")
        except (OSError, ValueError):
            return True
        return built_sig != self._tables_signature()

    def graph_retrieve(
        self,
        seeds: list[str],
        k_terms: int = 5,
        k_docs: int = 10,
        seed_weight: int = 1000,
        auth: AuthContext | None = None,
    ) -> list[dict]:
        """GraphRAG retrieval: expand the seed terms one hop through the
        persisted term graph (`graph.seed_expansion_weights`, broadcast-
        sized by construction), then rank documents by tf-weighted
        matched-term score. The graph read is pinned to this caller's
        auth scope and rebuilt if missing or stale (source tables mutated
        since the build) — a shared/stale graph would leak inaccessible
        documents' co-occurrence weights across scopes."""
        import os as _os

        from pyspark.sql import Window

        from morphik_core_spark.operators.graph import seed_expansion_weights

        gpath = self._graph_path(auth)
        if not _os.path.exists(gpath) or self._graph_is_stale(gpath):
            self.build_term_graph(auth=auth)
        edges = self.spark.read.parquet(gpath)
        wts = seed_expansion_weights(
            edges, seeds, k=k_terms, seed_weight=seed_weight
        )
        chunks = self.chunks().select(
            F.col("document_id").alias("doc_id"), F.col("content")
        )
        if auth is not None:
            from morphik_core_spark.operators.scopes import access_predicate

            scoped = self.documents().filter(access_predicate(auth)).select(
                F.col("external_id").alias("doc_id")
            )
            chunks = chunks.join(scoped, "doc_id")
        tf = (
            chunks.select(
                "doc_id",
                F.explode(F.split(F.lower(F.col("content")), r"\s+")).alias("term"),
            )
            .filter(F.col("term") != "")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        out = (
            tf.join(F.broadcast(wts), "term")
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("tf") * F.col("wt")).alias("score"),
                F.count(F.lit(1)).alias("n_matched"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k_docs)
            .select(F.col("doc_id").alias("document_id"), "score", "n_matched")
        )
        try:
            return [r.asDict(recursive=True) for r in out.collect()]
        finally:
            # seed_expansion_weights persists the (static, per-scope)
            # edge read; release at the operation boundary — the API's
            # mutable-store contract (see build_term_graph)
            from morphik_core_spark.plans.cache import release_scoped

            release_scoped()

    def list_folders(self, auth: AuthContext | None = None) -> list[dict]:
        """Folder summaries with doc counts (reference list_folders_summary):
        aggregate-then-broadcast-join, no document_ids payload."""
        docs = self.documents()
        if auth is not None:
            from morphik_core_spark.operators.scopes import access_predicate

            docs = docs.filter(access_predicate(auth))
        counts = (
            docs.filter(F.col("folder_path").isNotNull() & (F.col("folder_path") != ""))
            .groupBy("folder_path")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy("folder_path")
        )
        return [r.asDict() for r in counts.collect()]

    # ------------------------------------------------------------ mutation

    def update_document_metadata(
        self, document_id: str, updates: dict[str, Any], update_type_hints: dict[str, str] | None = None
    ) -> None:
        doc = self.get_document(document_id)
        if doc is None:
            raise KeyError(document_id)
        merged, merged_types = merge_metadata(
            json.loads(doc["metadata"] or "{}"), doc["metadata_types"], updates, update_type_hints
        )
        now = datetime.now(UTC).replace(tzinfo=None)
        updated = (
            self.documents()
            .filter(F.col("external_id") == document_id)
            .withColumn("metadata", F.lit(json.dumps(merged)))
            .withColumn(
                "metadata_types",
                F.create_map(*[F.lit(x) for kv in merged_types.items() for x in kv]) if merged_types else F.col("metadata_types"),
            )
            .withColumn("updated_at", F.lit(now))
        )
        self._merge_documents(updated)

    def update_document_text(
        self, document_id: str, content: str, filename: str | None = None
    ) -> dict:
        """Replace a document's content: re-clean, re-chunk, re-embed, swap
        ONLY this document's chunks, bump updated_at (reference POST
        /documents/{id}/update_text, routes/documents.py:397-440). The
        documents-table mutation rides the partition-granularity merge;
        the chunk swap is a filter + union that `_write_chunks` writes
        as a new flat chunks snapshot (every chunk file is rewritten)."""
        doc = self.get_document(document_id)
        if doc is None:
            raise KeyError(document_id)
        now = datetime.now(UTC).replace(tzinfo=None)
        ok = bool(content and content.strip())
        updated = (
            self.documents()
            .filter(F.col("external_id") == document_id)
            .withColumn("updated_at", F.lit(now))
            .withColumn("status", F.lit("completed" if ok else "failed"))
        )
        if filename is not None:
            updated = updated.withColumn("filename", F.lit(filename))
        kept = self.chunks().filter(F.col("document_id") != document_id)
        if ok:
            raw = self.spark.createDataFrame(
                [(document_id, content)], "external_id string, text string"
            ).withColumn("text", clean_control_chars(F.col("text")))
            new_chunks = chunk_documents(
                raw, text_col="text", id_col="external_id",
                chunk_size=self.chunk_size, chunk_overlap=self.chunk_overlap,
            ).select(
                "document_id",
                "chunk_number",
                "content",
                self._embed_udf(F.col("content")).alias("embedding"),
                F.lit(doc["app_id"]).cast("string").alias("app_id"),
                F.lit(doc["folder_path"]).cast("string").alias("folder_path"),
            )
            kept = kept.unionByName(new_chunks)
        self._write_chunks(kept)
        self._merge_documents(updated)
        return self.get_document(document_id)

    def update_document_file(self, document_id: str, payload: bytes, filename: str) -> dict:
        """Replace a document's content from a FILE (reference POST
        /documents/{id}/update_file, routes/documents.py:442-484): the
        payload runs through the exact binary-source routing — compressed
        unwrap, MIME inference, format parse with row-level isolation —
        then the update_text swap. A payload that fails to parse marks
        the document failed (its old chunks are removed, matching the
        reference's failed-reprocess state), never raises mid-pipeline."""
        from morphik_core_spark.sources.binary import files_to_raw_docs

        doc = self.get_document(document_id)
        if doc is None:
            raise KeyError(document_id)
        files = self.spark.createDataFrame([(filename, payload)], "path string, content binary")
        row = files_to_raw_docs(files).collect()[0]
        out = self.update_document_text(
            document_id, row.text if row.parse_status == "ok" and row.text else "", filename=row.filename
        )
        ct = (
            self.documents()
            .filter(F.col("external_id") == document_id)
            .withColumn("content_type", F.lit(row.content_type).cast("string"))
        )
        self._merge_documents(ct)
        out["content_type"] = row.content_type
        return out

    def get_document_content(self, document_id: str) -> str:
        """Reconstruct the document's stored text from its chunks in order
        (the engine analog of GET /documents/{id}/file — the reference
        streams stored bytes from S3, routes/documents.py:334-394; this
        engine's stored form IS the chunk table). Overlap-aware: chunking
        prepends the previous chunk's tail, so the join strips the
        ``chunk_overlap`` prefix from every chunk after the first."""
        rows = (
            self.chunks()
            .filter(F.col("document_id") == document_id)
            .orderBy("chunk_number")
            .select("content")
            .collect()
        )
        if not rows:
            raise KeyError(document_id)
        # the splitter's overlap COMPOUNDS with recursion depth (reference
        # quirk, functions/chunking.py), so a fixed-width strip is wrong:
        # de-overlap by the longest chunk prefix that is a suffix of the
        # text reconstructed so far — exact by construction, since every
        # prepended context IS the previous chunk's tail
        acc = rows[0].content
        for r in rows[1:]:
            c = r.content
            # compounding prepends the SAME tail once per recursion level,
            # so strip matching copies until the prefix is fresh content
            # (exact unless the document genuinely repeats its own chunk
            # boundary — the inherent ambiguity of overlap-joined storage)
            while True:
                k = min(len(c), len(acc))
                while k > 0 and not acc.endswith(c[:k]):
                    k -= 1
                if k == 0:
                    break
                c = c[k:]
            acc += c
        return acc

    # ------------------------------------------------------------ summaries

    def document_summary(self, document_id: str, summarizer: Callable[[str], str] | None = None) -> str:
        """Stored summary, or generate-on-first-read (reference GET
        /documents/{id}/summary, routes/documents.py:207-219 — generation
        is the CompletionModel seam; the default is a deterministic
        extractive head so the engine stays model-free)."""
        p = self._path("summaries")
        if os.path.exists(p):
            rows = (
                self.spark.read.parquet(p)
                .filter(F.col("document_id") == document_id)
                .limit(1)
                .collect()
            )
            if rows:
                return rows[0].summary
        chunk_rows = (
            self.chunks()
            .filter(F.col("document_id") == document_id)
            .orderBy("chunk_number")
            .limit(1)
            .collect()
        )
        if not chunk_rows:
            raise KeyError(document_id)
        text = chunk_rows[0].content
        summary = (summarizer or (lambda t: " ".join(t.split()[:60])))(text)
        self.upsert_document_summary(document_id, summary)
        return summary

    def upsert_document_summary(self, document_id: str, summary: str) -> None:
        """Manual summary override (reference PUT /documents/{id}/summary)."""
        p = self._path("summaries")
        now = datetime.now(UTC).replace(tzinfo=None)
        new = self.spark.createDataFrame(
            [(document_id, summary, now)], "document_id string, summary string, updated_at timestamp"
        )
        if os.path.exists(p):
            base = self.spark.read.parquet(p).filter(F.col("document_id") != document_id)
            new = base.unionByName(new)
        self._overwrite(new, "summaries", "document_id string, summary string, updated_at timestamp")

    def delete_document(self, document_id: str) -> None:
        self._write_documents(self.documents().filter(F.col("external_id") != document_id))
        self._write_chunks(self.chunks().filter(F.col("document_id") != document_id))

    def delete_folder(self, folder_path: str, recursive: bool = False) -> int:
        """Delete a folder and its documents (reference DELETE
        /folders/{id}, core/routes/folders.py:417-479): refuses when the
        folder has descendant folders unless ``recursive=True``, then
        removes the subtree's documents and chunks. Folders here ARE
        document paths, so removing the documents removes the folders;
        deepest-first ordering is therefore implicit. Returns the number
        of documents deleted."""
        path = folder_path.rstrip("/") or "/"
        docs = self.documents()
        prefix = "/" if path == "/" else path + "/"
        in_folder = F.col("folder_path") == path
        in_subtree = in_folder | F.col("folder_path").startswith(prefix)
        n_desc = docs.filter(
            F.col("folder_path").startswith(prefix) & (F.col("folder_path") != path)
        ).select("folder_path").distinct().count()
        if n_desc and not recursive:
            raise ValueError(
                f"Folder {path} has {n_desc} descendant folders; "
                "set recursive=True to delete the entire subtree."
            )
        target = in_subtree if recursive else in_folder
        doomed = docs.filter(target).select(F.col("external_id").alias("document_id"))
        n = doomed.count()
        # chunks first: `doomed`'s lineage reads the documents table, so
        # it must be consumed BEFORE the documents overwrite lands (the
        # per-table overwrite staging only protects same-table rewrites)
        self._write_chunks(
            self.chunks().join(F.broadcast(doomed), "document_id", "left_anti")
        )
        self._write_documents(docs.filter(~F.coalesce(target, F.lit(False))))
        return n

    def move_folder(self, old_prefix: str, new_prefix: str) -> None:
        self._write_documents(docstore.move_folder(self.documents(), old_prefix, new_prefix))
        self._write_chunks(docstore.move_folder(self.chunks(), old_prefix, new_prefix))

    def extract_document_pages(
        self,
        document_id: str,
        start_page: int,
        end_page: int,
        output_format: str = "base64",
        dpi: int = 150,
    ) -> dict[str, Any]:
        """Render specific pages of a stored PDF as images (reference
        POST /documents/pages, routes/documents.py:520 +
        document_service.extract_pdf_pages:1936): download the source
        payload from the object store, rasterize the 1-indexed page
        window through the pure-Python renderer (DPI 150 default, the
        reference's), and return PNG data URIs — or, with
        output_format='url', store each page image and return presigned
        URLs. Returns the DocumentPagesResponse shape
        {document_id, pages, start_page, end_page, total_pages}.

        Serving-edge by design (a page window of one document); corpus-
        scale page rendering runs through the multimodal mapInPandas
        path instead (operators/multimodal.pdf_page_images)."""
        import base64

        import numpy as np

        from morphik_core_spark.functions.image import encode_png
        from morphik_core_spark.functions.pdf_render import rasterize_pdf_pages

        if start_page > end_page:
            raise ValueError("start_page must be <= end_page")
        doc = self.get_document(document_id)
        if doc is None:
            raise KeyError(document_id)
        info = None
        try:
            info = json.loads(doc.get("metadata") or "{}").get("external_storage")
            info = json.loads(info) if isinstance(info, str) else info
        except Exception:  # noqa: BLE001
            info = None
        if not info or not info.get("bucket") or not info.get("key") or self._storage is None:
            raise KeyError(f"{document_id}: source payload not in storage")
        data = self._storage.download(info["bucket"], info["key"])
        bitmaps = rasterize_pdf_pages(data, dpi=dpi)
        total = len(bitmaps)
        lo = max(1, start_page)
        hi = min(end_page, total)
        pages: list[str] = []
        for idx in range(lo, hi + 1):
            g = bitmaps[idx - 1]
            rgb = np.repeat(g[:, :, None], 3, axis=2)
            png = encode_png(rgb)
            if output_format == "url":
                page_key = f"document-pages/{info['key'].replace('/', '_')}/page_{idx}.png"
                self._storage.upload(info["bucket"], page_key, png)
                pages.append(self._storage.get_download_url(info["bucket"], page_key))
            else:
                pages.append("data:image/png;base64," + base64.b64encode(png).decode("utf-8"))
        return {
            "document_id": document_id,
            "pages": pages,
            "start_page": start_page,
            "end_page": end_page,
            "total_pages": total,
        }

    def folder_details(
        self,
        identifiers: Sequence[str] | None = None,
        auth: AuthContext | None = None,
        include_documents: bool = False,
        include_document_count: bool = True,
        include_status_counts: bool = False,
        document_skip: int = 0,
        document_limit: int = 20,
        document_filters: dict[str, Any] | None = None,
        document_fields: Sequence[str] | None = None,
    ) -> list[dict]:
        """Folder metadata with optional per-folder document statistics
        (reference POST /folders/details, routes/folders.py:149): for
        each requested folder path (or every folder when none given),
        the document count, status breakdown, and a stable document page
        with has_more/next_skip — each piece the same engine operator the
        standalone endpoints use (listing.sorted_page / value_counts),
        scoped by the folder-path system filter."""
        from morphik_core_spark.operators.scopes import access_predicate, system_predicate

        docs = self.documents()
        if auth is not None:
            docs = docs.filter(access_predicate(auth))
        if document_filters:
            docs = docs.filter(self._compiler.compile(document_filters))
        paths = list(identifiers) if identifiers else [
            f["folder_path"] for f in self.list_folders(auth)
        ]
        out: list[dict] = []
        for path in paths:
            scoped = docs.filter(system_predicate({"folder_path": path}))
            entry: dict[str, Any] = {
                "folder_path": path,
                "folder_name": path.rstrip("/").rsplit("/", 1)[-1] if path else None,
            }
            if include_document_count:
                entry["document_count"] = scoped.count()
            if include_status_counts:
                entry["status_counts"] = {
                    r[0]: r[1] for r in listing.value_counts(scoped, "status").collect()
                }
            if include_documents:
                page = listing.sorted_page(
                    scoped, skip=document_skip, limit=document_limit + 1
                )
                rows = [
                    r.asDict(recursive=True)
                    for r in listing.project(page, document_fields).collect()
                ]
                has_more = len(rows) > document_limit
                entry["documents"] = rows[:document_limit]
                entry["has_more"] = has_more
                entry["next_skip"] = document_skip + document_limit if has_more else None
            out.append(entry)
        return out

    def add_document_to_folder(self, folder_path: str, document_id: str) -> None:
        """Folder membership add (reference POST
        /folders/{folder}/documents/{id}, postgres_database.py folder
        association + the doc's folder columns). This engine keeps
        membership doc-side only (SURVEY §1.1: tree ops via path
        columns, no document_ids array), so add = set the folder columns
        on the document and its chunks."""
        name = folder_path.rstrip("/").rsplit("/", 1)[-1] if folder_path else None

        def _set(df: DataFrame, id_col: str) -> DataFrame:
            hit = F.col(id_col) == document_id
            out = df.withColumn(
                "folder_path", F.when(hit, F.lit(folder_path)).otherwise(F.col("folder_path"))
            )
            if "folder_name" in df.columns:
                out = out.withColumn(
                    "folder_name", F.when(hit, F.lit(name)).otherwise(F.col("folder_name"))
                )
            return out

        self._write_documents(_set(self.documents(), "external_id"))
        self._write_chunks(_set(self.chunks(), "document_id"))

    def remove_document_from_folder(self, folder_path: str, document_id: str) -> None:
        """Folder membership remove (reference DELETE
        /folders/{folder}/documents/{id}): clear the folder columns on
        the document — only when it is actually in that folder, matching
        the reference's association check."""

        def _clear(df: DataFrame, id_col: str) -> DataFrame:
            out = df.withColumn(
                "_hit", (F.col(id_col) == document_id) & (F.col("folder_path") == folder_path)
            )
            out = out.withColumn(
                "folder_path",
                F.when(F.col("_hit"), F.lit(None).cast("string")).otherwise(F.col("folder_path")),
            )
            if "folder_name" in df.columns:
                out = out.withColumn(
                    "folder_name",
                    F.when(F.col("_hit"), F.lit(None).cast("string")).otherwise(F.col("folder_name")),
                )
            return out.drop("_hit")

        self._write_documents(_clear(self.documents(), "external_id"))
        self._write_chunks(_clear(self.chunks(), "document_id"))

    # ----------------------------------------------------- file ingestion

    def ingest_directory(
        self,
        path: str,
        glob: str | None = None,
        auth: AuthContext | None = None,
        folder_path: str | None = None,
    ) -> dict[str, str]:
        """Ingest a drop directory of files (the reference's /ingest/file
        endpoint as a batch surface): binaryFile scan → MIME-routed parse
        (PDF/xlsx/docx/HTML real, per-row failure isolation) → chunk →
        embed → index. Returns {external_id: status}."""
        from morphik_core_spark.sources.binary import files_to_raw_docs, read_binary_dir
        from morphik_core_spark.streaming.ingestion import ingest_batch

        auth = auth or AuthContext(user_id="local")
        raw = files_to_raw_docs(
            read_binary_dir(self.spark, path, glob), app_id=auth.app_id, folder_path=folder_path
        ).drop("parse_status")
        documents, chunks = ingest_batch(
            raw,
            chunk_size=self.chunk_size,
            chunk_overlap=self.chunk_overlap,
            embedder=self._embed_udf,
        )
        now = datetime.now(UTC).replace(tzinfo=None)
        doc_rows = documents.select(
            "external_id",
            "filename",
            F.col("content_type"),
            F.lit("{}").alias("metadata"),
            F.create_map().cast("map<string,string>").alias("metadata_types"),
            "status",
            F.lit(now).alias("created_at"),
            F.lit(now).alias("updated_at"),
            F.lit(auth.user_id).alias("owner_id"),
            F.lit(auth.app_id).alias("app_id"),
            F.lit(folder_path.rstrip("/").rsplit("/", 1)[-1] if folder_path else None).alias("folder_name"),
            F.lit(folder_path).alias("folder_path"),
            F.lit(None).cast("string").alias("end_user_id"),
        )
        self._write_chunks(self.chunks().unionByName(chunks.select(*self.chunks().columns)))
        self._merge_documents(doc_rows)
        return {r.external_id: r.status for r in documents.select("external_id", "status").collect()}

    # ------------------------------------------------------- extraction

    def extract_metadata(
        self,
        document_id: str,
        schema: dict[str, Any],
        model,
        apply: bool = False,
    ) -> dict[str, Any]:
        """Schema-guided structured extraction over a document's chunks
        (reference morphik_on_the_fly_structured_output): concatenated
        chunk text → CompletionModel → typed fields. ``apply=True`` merges
        the extracted values into the document's metadata."""
        from morphik_core_spark.operators.extraction import extract_structured

        doc_chunks = (
            self.chunks()
            .filter(F.col("document_id") == document_id)
            .orderBy("chunk_number")
            .select("content")
        )
        if doc_chunks.isEmpty():
            raise KeyError(document_id)
        text = "\n".join(r.content for r in doc_chunks.collect())
        one = self.spark.createDataFrame([(document_id, text)], "document_id string, content string")
        row = extract_structured(one, schema, model).collect()[0]
        extracted = {
            k: v for k, v in row.asDict(recursive=True).items()
            if k not in ("document_id", "content", "raw_extraction")
        }
        if apply:
            self.update_document_metadata(document_id, {k: v for k, v in extracted.items() if v is not None})
        return extracted

    # ------------------------------------------------------------- usage

    def app_storage_usage(self, auth: AuthContext) -> dict[str, Any]:
        """Per-app storage usage rollup (reference GET /usage/app-storage,
        routes/usage.py:28): raw payload bytes, chunk text bytes,
        multivector bytes, and the document count, reported in MB with
        the reference's rounding. The reference reads counters it
        maintains at ingest (app_storage_usage table,
        core/database/models.py:50-80); here the same numbers roll up
        LIVE from the engine tables — one aggregation per table, plus
        object-store HEADs for the raw payloads (listing-scale driver
        work; at 100 TB this becomes a summary table maintained at
        write time)."""
        from morphik_core_spark.operators.scopes import access_predicate

        if auth is None or not auth.app_id:
            raise ValueError("app_id is required")

        def _mb(b: int) -> float:
            return round(b / (1024 * 1024), 2) if b else 0.0

        docs = self.documents().filter(access_predicate(auth))
        doc_rows = docs.select("external_id", "metadata").collect()
        raw_bytes = 0
        if self._storage is not None:
            for r in doc_rows:
                info = None
                try:
                    info = json.loads(r["metadata"] or "{}").get("external_storage")
                    info = json.loads(info) if isinstance(info, str) else info
                except Exception:  # noqa: BLE001
                    info = None
                if info and info.get("bucket") and info.get("key"):
                    try:
                        raw_bytes += int(self._storage.object_size(info["bucket"], info["key"]))
                    except Exception:  # noqa: BLE001 — missing payloads count zero
                        pass
        chunk_bytes = (
            self.chunks()
            .filter(F.col("app_id") == auth.app_id)
            .agg(F.coalesce(F.sum(F.octet_length("content")), F.lit(0)).alias("b"))
            .collect()[0]["b"]
        )
        mv_bytes = (
            self.page_multivectors()
            .filter(F.col("app_id") == auth.app_id)
            .agg(
                F.coalesce(
                    F.sum(
                        F.expr(
                            "aggregate(multivector, 0L, (acc, v) -> acc + size(v)) * 8"
                        )
                    ),
                    F.lit(0),
                ).alias("b")
            )
            .collect()[0]["b"]
        )
        total = int(raw_bytes) + int(chunk_bytes) + int(mv_bytes)
        return {
            "app_id": auth.app_id,
            "doc_raw_bytes_mb": _mb(int(raw_bytes)),
            "chunk_raw_bytes_mb": _mb(int(chunk_bytes)),
            "multivector_mb": _mb(int(mv_bytes)),
            "total_mb": _mb(total),
            "document_count": len(doc_rows),
        }

    # ------------------------------------------------------------- chat

    def append_chat_message(
        self,
        conversation_id: str,
        role: str,
        content: str,
        auth: AuthContext | None = None,
    ) -> None:
        """Append one turn to a conversation history — the engine-scoped
        slice of the reference's chat_conversations table
        (core/database/models.py:129-144: history JSONB keyed by
        conversation id; SSE/completion orchestration stays driver-side).
        Append-only parquet keyed by (conversation_id, seq); seq assigned
        from the current max so history order is total."""
        import time as _time

        existing = self.chat_history(conversation_id)
        seq = len(existing)
        row = self.spark.createDataFrame(
            [(
                conversation_id,
                seq,
                role,
                content,
                (auth.app_id if auth else None),
                int(_time.time() * 1_000_000),
            )],
            "conversation_id string, seq int, role string, content string, "
            "app_id string, created_at_us long",
        )
        row.write.mode("append").parquet(self._path("chat"))

    def chat_history(
        self,
        conversation_id: str,
        auth: AuthContext | None = None,
        limit: int | None = None,
        offset: int = 0,
    ) -> list[dict]:
        """Ordered turns for one conversation (empty list if none).

        Scope parity with the reference's history read
        (postgres_database.py get_chat_history: an app-scoped token only
        sees conversations stored under its app — a stored app_id that
        differs from the caller's yields nothing; NULL-scoped rows stay
        visible). ``limit``/``offset`` page by seq — a keyset cut, not a
        driver-side slice, so a long conversation never fully collects."""
        p = self._path("chat")
        if not os.path.exists(p):
            return []
        df = self.spark.read.parquet(p).filter(F.col("conversation_id") == conversation_id)
        if auth is not None and auth.app_id is not None:
            df = df.filter(F.col("app_id").isNull() | (F.col("app_id") == auth.app_id))
        if offset:
            df = df.filter(F.col("seq") >= offset)
        df = df.orderBy("seq")
        if limit is not None:
            df = df.limit(limit)
        return [r.asDict() for r in df.collect()]

    def list_chat_conversations(
        self, auth: AuthContext | None = None, limit: int = 100
    ) -> list[dict]:
        """Conversations ordered by last update, newest first, with the
        last message and an auto-title — the reference's conversation
        listing (postgres_database.py list_chat_conversations: ORDER BY
        updated_at DESC LIMIT :limit, history->-1 preview; title
        auto-generated from the first user message's first 50 chars,
        upsert_chat_history). One groupBy over the turns table — the
        rollup happens in the engine, the driver gets ``limit`` rows."""
        p = self._path("chat")
        if not os.path.exists(p):
            return []
        df = self.spark.read.parquet(p)
        if auth is not None and auth.app_id is not None:
            df = df.filter(F.col("app_id").isNull() | (F.col("app_id") == auth.app_id))
        rolled = (
            df.groupBy("conversation_id")
            .agg(
                F.max("created_at_us").alias("updated_at_us"),
                F.min("created_at_us").alias("created_at_us"),
                F.max_by(
                    F.struct("role", "content"), F.col("seq")
                ).alias("last_message"),
                F.min_by(
                    F.when(F.col("role") == "user", F.substring("content", 1, 50)),
                    F.when(F.col("role") == "user", F.col("seq")),
                ).alias("_auto_title"),
            )
        )
        tp = self._path("chat_titles")
        if os.path.exists(tp):
            overrides = (
                self.spark.read.parquet(tp)
                .groupBy("conversation_id")
                .agg(F.max_by("title", "set_at_us").alias("_title_override"))
            )
            rolled = rolled.join(F.broadcast(overrides), "conversation_id", "left")
        else:
            rolled = rolled.withColumn("_title_override", F.lit(None).cast("string"))
        out = (
            rolled.withColumn(
                "title", F.coalesce(F.col("_title_override"), F.col("_auto_title"))
            )
            .drop("_title_override", "_auto_title")
            .orderBy(F.col("updated_at_us").desc(), F.col("conversation_id").asc())
            .limit(limit)
        )
        return [r.asDict(recursive=True) for r in out.collect()]

    def rename_chat_title(self, conversation_id: str, title: str) -> None:
        """Explicit conversation title (reference PATCH
        /chats/{chat_id}/title): an append-only override row; the
        listing coalesces the latest override over the auto-generated
        first-user-message title."""
        import time as _time

        row = self.spark.createDataFrame(
            [(conversation_id, title, int(_time.time() * 1_000_000))],
            "conversation_id string, title string, set_at_us long",
        )
        row.write.mode("append").parquet(self._path("chat_titles"))

    # ------------------------------------------------- corpus operations

    def corpus_profile(self, auth: AuthContext | None = None) -> DataFrame:
        """Data-quality gate over the store's own tables — the ops health
        check a deployment runs before trusting retrieval results
        (engine extension; the reference validates rows only at the API
        edge via Pydantic). One aggregation pass per table
        (operators/validation): completeness of the columns retrieval
        depends on, key uniqueness, text length stats, status
        sanity — metric AND check rows, long format, tagged by table.
        Scoped to ``auth``'s app when given (same tenancy rule as every
        read path)."""
        from morphik_core_spark.operators.validation import validation_suite

        docs = self.documents()
        chunks = self.chunks()
        if auth is not None and auth.app_id is not None:
            docs = docs.filter(F.col("app_id") == auth.app_id)
            chunks = chunks.filter(F.col("app_id") == auth.app_id)
        d = validation_suite(
            docs,
            completeness_cols=["external_id", "status", "content_type"],
            unique_cols=["external_id"],
            length_cols=["filename"],
            in_set={"status": ["completed", "processing", "failed"]},
            min_completeness={"external_id": 1.0},
            min_in_set_rate={"status": 1.0},
        ).select(F.lit("documents").alias("table"), "entity", "metric", "value")
        c = validation_suite(
            chunks,
            completeness_cols=["document_id", "chunk_number", "content"],
            numeric_cols=["chunk_number"],
            length_cols=["content"],
            min_completeness={"document_id": 1.0, "content": 1.0},
        ).select(F.lit("chunks").alias("table"), "entity", "metric", "value")
        return d.unionByName(c)

    def privacy_report(
        self,
        auth: AuthContext | None = None,
        k: int = 5,
    ) -> DataFrame:
        """Privacy gate over the store's own tables, the release check
        that pairs with :meth:`corpus_profile` (engine extension; the
        reference's governance is per-row ACLs only): PII hit totals
        over chunk text (`curation.pii_scrub`'s counters — emails,
        phones, IPv4s actually redacted) plus a k-anonymity audit
        (`validation.k_anonymity_audit`) of the document metadata
        quasi-identifier (folder_name, content_type, status) — how many
        documents sit in metadata equivalence classes smaller than
        ``k``, i.e. re-identifiable by their metadata alone.

        Long format (section, metric, value) like the profile, so the
        two gates concatenate into one dashboard feed. Scoped to
        ``auth``'s app when given.
        """
        from morphik_core_spark.operators.curation import pii_scrub
        from morphik_core_spark.operators.validation import k_anonymity_audit

        docs = self.documents()
        chunks = self.chunks()
        if auth is not None and auth.app_id is not None:
            docs = docs.filter(F.col("app_id") == auth.app_id)
            chunks = chunks.filter(F.col("app_id") == auth.app_id)
        pii = pii_scrub(chunks, "content", "document_id").agg(
            F.sum("email_cnt").alias("email_cnt"),
            F.sum("phone_cnt").alias("phone_cnt"),
            F.sum("ipv4_cnt").alias("ipv4_cnt"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        pii_rows = pii.select(
            F.explode(
                F.array(
                    F.struct(F.lit("pii_email_hits").alias("metric"), F.col("email_cnt").cast("double").alias("value")),
                    F.struct(F.lit("pii_phone_hits").alias("metric"), F.col("phone_cnt").cast("double").alias("value")),
                    F.struct(F.lit("pii_ipv4_hits").alias("metric"), F.col("ipv4_cnt").cast("double").alias("value")),
                    F.struct(F.lit("n_chunks_scanned").alias("metric"), F.col("n_chunks").cast("double").alias("value")),
                )
            ).alias("r")
        ).select(F.lit("pii").alias("section"), F.col("r.metric"), F.col("r.value"))
        kan = k_anonymity_audit(
            docs.select(
                F.coalesce(F.col("folder_name"), F.lit("")).alias("folder_name"),
                "content_type",
                "status",
            ),
            ["folder_name", "content_type", "status"],
            "status",
            k=k,
        )
        kan_rows = kan.agg(
            F.sum(F.when(F.col("at_risk"), F.col("n_rows")).otherwise(F.lit(0))).alias("at_risk_rows"),
            F.sum("n_rows").alias("total_rows"),
            F.sum(F.when(F.col("at_risk"), F.col("n_classes")).otherwise(F.lit(0))).alias("at_risk_classes"),
            F.min(F.when(F.col("class_size") >= k, F.col("min_l"))).alias("min_l_safe"),
        ).select(
            F.explode(
                F.array(
                    F.struct(F.lit("k_anonymity_at_risk_rows").alias("metric"), F.col("at_risk_rows").cast("double").alias("value")),
                    F.struct(F.lit("k_anonymity_total_rows").alias("metric"), F.col("total_rows").cast("double").alias("value")),
                    F.struct(F.lit("k_anonymity_at_risk_classes").alias("metric"), F.col("at_risk_classes").cast("double").alias("value")),
                )
            ).alias("r")
        ).select(F.lit("k_anonymity").alias("section"), F.col("r.metric"), F.col("r.value"))
        return pii_rows.unionByName(kan_rows)
