"""MorphikSpark facade: the reference API surface end-to-end."""

from __future__ import annotations

import pytest

from morphik_core_spark.api import MorphikSpark
from morphik_core_spark.operators.scopes import AuthContext


@pytest.fixture()
def client(spark, tmp_path):
    return MorphikSpark(spark, str(tmp_path / "store"), chunk_size=120, chunk_overlap=12)


AUTH = AuthContext(user_id="u1", app_id="app1")


def _seed(client):
    ids = client.ingest_texts(
        [
            "spark shuffles data between executors during wide transformations " * 5,
            "cats are small domesticated felines that purr " * 5,
            "catalyst optimizes logical plans into physical plans " * 5,
        ],
        filenames=["spark.txt", "cats.txt", "catalyst.txt"],
        metadatas=[{"topic": "engine", "priority": 1}, {"topic": "pets"}, {"topic": "engine", "priority": 2}],
        auth=AUTH,
        folder_path="/corp/docs",
    )
    return ids


def test_ingest_list_get(client):
    ids = _seed(client)
    docs = client.list_documents(auth=AUTH)
    assert len(docs) == 3
    got = client.get_document(ids[0])
    assert got["status"] == "completed" and got["folder_path"] == "/corp/docs"
    assert got["metadata_types"]["priority"] == "number"


def test_retrieve_chunks_with_filters_and_scope(client):
    _seed(client)
    # NB: the hash embedder is exact-token (no stemming) — query with the
    # document's own tokens
    hits = client.retrieve_chunks("spark shuffles data between executors", k=2, auth=AUTH)
    assert hits and "shuffles" in hits[0]["content"]
    engine_only = client.retrieve_chunks(
        "spark shuffles data", k=5, auth=AUTH, filters={"topic": "engine"}
    )
    assert all("purr" not in h["content"] for h in engine_only)
    wrong_folder = client.retrieve_chunks("spark", k=2, auth=AUTH, folder_path="/elsewhere")
    assert wrong_folder == []


def test_retrieve_docs_and_query(client):
    _seed(client)
    docs = client.retrieve_docs("catalyst physical plans", k=2, auth=AUTH)
    assert len(docs) == 2
    out = client.query("what does catalyst do?", auth=AUTH, k=3)
    assert out["answer"].startswith("stub-answer")
    assert out["citations"]


def test_metadata_update_then_filter(client):
    ids = _seed(client)
    client.update_document_metadata(ids[1], {"reviewed": True, "price": "10.500"}, {"price": "decimal"})
    got = client.get_document(ids[1])
    assert got["metadata_types"]["price"] == "decimal"
    reviewed = client.list_documents(filters={"reviewed": True}, auth=AUTH)
    assert [d["external_id"] for d in reviewed] == [ids[1]]
    cheap = client.list_documents(filters={"price": {"$lte": "10.5"}}, auth=AUTH)
    assert [d["external_id"] for d in cheap] == [ids[1]]


def test_delete_and_folder_move(client):
    ids = _seed(client)
    client.delete_document(ids[1])
    assert client.get_document(ids[1]) is None
    assert len(client.list_documents(auth=AUTH)) == 2
    client.move_folder("/corp/docs", "/archive/docs")
    assert client.get_document(ids[0])["folder_path"] == "/archive/docs"
    # retrieval respects the new scope
    hits = client.retrieve_chunks("spark shuffle", k=2, auth=AUTH, folder_path="/archive/docs", folder_depth=-1)
    assert hits


def _jobs_submitted(spark) -> int:
    """Job-id counter of the DAG scheduler: its delta is the number of
    Spark jobs a call ran (no listener lag, no retained-jobs cap)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_warm_requests_run_few_spark_jobs(spark, client):
    _seed(client)
    q = dict(k=2, auth=AUTH, filters={"topic": "engine"})
    client.retrieve_chunks("spark shuffles data", **q)  # builds the snapshots
    before = _jobs_submitted(spark)
    assert client.retrieve_chunks("spark shuffles data", **q)
    assert _jobs_submitted(spark) - before <= 3
    before = _jobs_submitted(spark)
    assert len(client.list_documents(filters={"topic": "engine"}, auth=AUTH)) == 2
    assert _jobs_submitted(spark) - before == 1


def test_writes_seen_by_this_and_a_second_client(spark, client):
    ids = _seed(client)
    other = MorphikSpark(spark, client.root, chunk_size=120, chunk_overlap=12)

    def read_both():
        # every read runs on snapshots the previous write replaced: a
        # stale file listing would raise FileNotFoundException here
        return [
            (
                c.get_document(ids[2]),
                c.retrieve_chunks("catalyst optimizes logical plans", k=3, auth=AUTH),
                [d["external_id"] for d in c.list_documents(filters={"reviewed": True}, auth=AUTH)],
            )
            for c in (client, other)
        ]

    read_both()
    client.update_document_metadata(ids[1], {"reviewed": True})
    assert [reviewed for _, _, reviewed in read_both()] == [[ids[1]], [ids[1]]]
    client.update_document_text(ids[2], "zebras graze on open savanna grass " * 5)
    for _, hits, _ in read_both():
        assert hits and all("catalyst" not in h["content"] for h in hits)
    assert "zebras" in other.get_document_content(ids[2])
    client.delete_document(ids[0])
    client.move_folder("/corp/docs", "/archive/docs")
    for doc, hits, _ in read_both():
        assert doc["folder_path"] == "/archive/docs"
        assert {h["folder_path"] for h in hits} == {"/archive/docs"}
        assert ids[0] not in {h["document_id"] for h in hits}
    assert client.get_document(ids[0]) is None and other.get_document(ids[0]) is None


def test_concurrent_reads_return_identical_rows(client):
    import sys
    from concurrent.futures import ThreadPoolExecutor

    ids = _seed(client)
    client.retrieve_chunks("spark", k=1, auth=AUTH)  # both snapshots warm
    client.update_document_metadata(ids[0], {"priority": 3})  # documents stale for every reader
    builds = []
    read_table = client._read_table

    def counting_read_table(name):
        builds.append(name)
        return read_table(name)

    def read(_):
        return client.retrieve_chunks("spark shuffles data", k=3, auth=AUTH)

    client._read_table = counting_read_table
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(6) as pool:
            results = list(pool.map(read, range(6), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert results[0] and all(r == results[0] for r in results)
    assert results[0] == read(None)
    assert builds == ["documents"]  # one rebuild, however many readers raced for it


def test_padding_and_rerank(client):
    _seed(client)
    padded = client.retrieve_chunks("spark shuffle executors", k=1, auth=AUTH, padding=1)
    nums = sorted({h["chunk_number"] for h in padded})
    assert len(nums) >= 2  # neighbors came along
    assert any(h["score"] == 0.0 for h in padded)  # padding rows scored 0.0
    reranked = client.retrieve_chunks("spark shuffle executors", k=2, auth=AUTH, use_reranker=True)
    assert reranked[0]["score"] >= reranked[-1]["score"]


def test_empty_store(client):
    assert client.list_documents() == []
    assert client.retrieve_chunks("anything", k=3) == []


def test_ingest_directory_and_list_folders(client, tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/tests")
    from test_pdf import make_pdf

    d = tmp_path / "files"
    d.mkdir()
    body = " ".join(f"tok{i}" for i in range(120)).encode()
    (d / "report.pdf").write_bytes(make_pdf(b"BT (" + body + b") Tj ET", compress=True))
    (d / "notes.txt").write_text("plain searchable notes " * 20)
    (d / "page.html").write_bytes(b"<html><body><p>html body text here</p></body></html>")
    (d / "broken.pdf").write_bytes(b"%PDF-1.4 nothing inside")

    statuses = client.ingest_directory(str(d), auth=AUTH, folder_path="/drops/a")
    by_name = {k.rsplit("/", 1)[-1]: v for k, v in statuses.items()}
    assert by_name["report.pdf"] == "completed"
    assert by_name["notes.txt"] == "completed"
    assert by_name["page.html"] == "completed"
    assert by_name["broken.pdf"] == "failed"

    docs = client.list_documents(auth=AUTH)
    assert len(docs) == 4
    # parsed content is retrievable end-to-end
    hits = client.retrieve_chunks("tok3 tok4 tok5", k=3, auth=AUTH)
    assert hits and hits[0]["document_id"].endswith("report.pdf")

    folders = client.list_folders(auth=AUTH)
    assert folders == [{"folder_path": "/drops/a", "doc_count": 4}]


def test_extract_metadata_applies_typed_fields(client):
    import json as _json
    import re as _re

    ids = _seed(client)

    class TitleYearModel:
        def complete(self, prompt, max_tokens=None, temperature=None):
            doc = prompt.split("Document:\n", 1)[1]
            return _json.dumps(
                {
                    "first_word": _re.findall(r"\w+", doc)[0],
                    "n_words": float(len(doc.split())),
                }
            )

    out = client.extract_metadata(ids[0], {"first_word": "string", "n_words": "number"}, TitleYearModel())
    assert out["first_word"] == "spark" and out["n_words"] > 0

    client.extract_metadata(ids[0], {"first_word": "string", "n_words": "number"}, TitleYearModel(), apply=True)
    doc = client.get_document(ids[0])
    assert _json.loads(doc["metadata"])["first_word"] == "spark"
    # typed filter finds it
    found = client.list_documents(filters={"first_word": "spark"}, auth=AUTH)
    assert [d["external_id"] for d in found] == [ids[0]]

    with pytest.raises(KeyError):
        client.extract_metadata("missing-doc", {"a": "string"}, TitleYearModel())


def test_upsert_touches_only_the_tenants_partition(client, tmp_path):
    """Partition-granularity MERGE at the api boundary: mutating one
    tenant's document leaves every other tenant's data files byte-identical
    (at 100 TB an update costs one partition's IO, not the table's)."""
    import hashlib
    import os

    _seed(client)  # app1
    client.ingest_texts(
        ["completely unrelated tenant content " * 5],
        filenames=["other.txt"],
        metadatas=[{"topic": "other"}],
        auth=AuthContext(user_id="u2", app_id="app2"),
    )
    part2 = os.path.join(str(tmp_path / "store"), "documents", "app_id=app2")

    def digest(d):
        out = {}
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "rb") as fh:
                    out[f] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = digest(part2)
    assert before, "app2 partition must exist"

    ids = [d["external_id"] for d in client.list_documents(auth=AUTH)]
    client.update_document_metadata(ids[0], {"priority": 9})

    assert digest(part2) == before  # same files, same bytes
    # and the mutation really landed for app1
    got = client.get_document(ids[0])
    import json as _json

    assert _json.loads(got["metadata"])["priority"] == 9


def test_merge_upsert_preserves_null_partition_survivors(spark, tmp_path):
    """NULL partition values route to __HIVE_DEFAULT_PARTITION__, which
    dynamic overwrite rewrites — survivors there must be read back and kept
    (isin() alone would silently drop them)."""
    from morphik_core_spark.plans.partitioning import merge_upsert_partitioned

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("d1", None, "v1"), ("d2", None, "v1"), ("d3", "a", "v1")],
        "doc_id string, app_id string, payload string",
    )
    base.write.partitionBy("app_id").parquet(path)
    updates = spark.createDataFrame([("d2", None, "v2")], "doc_id string, app_id string, payload string")
    affected = merge_upsert_partitioned(path, updates, keys=["doc_id"], partition_col="app_id")
    assert affected == [None]
    out = {r.doc_id: (r.app_id, r.payload) for r in spark.read.parquet(path).collect()}
    assert out == {"d1": (None, "v1"), "d2": (None, "v2"), "d3": ("a", "v1")}


def test_search_documents_by_name(client):
    _seed(client)
    # 'cat' stems nothing; 'cats.txt' normalizes to token 'cats'->stem 'cat';
    # 'catalyst.txt' matches only via ILIKE substring ('cat' in 'catalyst')
    got = client.search_documents_by_name("cats", auth=AUTH)
    names = [d["filename"] for d in got]
    assert names[0] == "cats.txt"  # ts_rank puts the lexeme hit first
    assert "spark.txt" not in names
    # metadata filters compose with the search
    none = client.search_documents_by_name("cats", filters={"topic": "engine"}, auth=AUTH)
    assert all(d["filename"] != "cats.txt" for d in none)
    # rank column present and non-negative
    assert all(d["rank"] >= 0 for d in got)


def test_chat_history_append_and_order(spark, tmp_path):
    from morphik_core_spark.api import MorphikSpark

    client = MorphikSpark(spark, str(tmp_path / "m"))
    assert client.chat_history("c1") == []
    client.append_chat_message("c1", "user", "hello")
    client.append_chat_message("c1", "assistant", "hi there")
    client.append_chat_message("c2", "user", "other convo")
    h = client.chat_history("c1")
    assert [(m["seq"], m["role"], m["content"]) for m in h] == [
        (0, "user", "hello"), (1, "assistant", "hi there"),
    ]
    assert len(client.chat_history("c2")) == 1


def test_chat_history_pagination_and_app_scope(spark, tmp_path):
    from morphik_core_spark.api import MorphikSpark
    from morphik_core_spark.operators.scopes import AuthContext

    client = MorphikSpark(spark, str(tmp_path / "m"))
    for i in range(6):
        client.append_chat_message("c1", "user" if i % 2 == 0 else "assistant", f"turn {i}")
    # keyset pagination by seq: offset/limit cut in-engine
    page = client.chat_history("c1", limit=2, offset=2)
    assert [(m["seq"], m["content"]) for m in page] == [(2, "turn 2"), (3, "turn 3")]
    assert len(client.chat_history("c1", limit=10)) == 6

    # app scope: a conversation stored under another app is invisible to
    # an app-scoped caller (reference get_chat_history app_id check)
    client.append_chat_message("capp", "user", "scoped", auth=AuthContext(app_id="app-A"))
    assert client.chat_history("capp", auth=AuthContext(app_id="app-B")) == []
    assert len(client.chat_history("capp", auth=AuthContext(app_id="app-A"))) == 1
    # NULL-scoped history stays visible to scoped callers, as in the reference
    assert len(client.chat_history("c1", auth=AuthContext(app_id="app-A"))) == 6


def test_list_chat_conversations_rollup(spark, tmp_path):
    from morphik_core_spark.api import MorphikSpark

    client = MorphikSpark(spark, str(tmp_path / "m"))
    assert client.list_chat_conversations() == []
    client.append_chat_message("old", "user", "a question that is quite long " + "x" * 60)
    client.append_chat_message("old", "assistant", "the answer")
    client.append_chat_message("new", "user", "later convo")
    convos = client.list_chat_conversations(limit=10)
    # newest-updated first, reference ORDER BY updated_at DESC
    assert [c["conversation_id"] for c in convos] == ["new", "old"]
    old = convos[1]
    assert old["last_message"] == {"role": "assistant", "content": "the answer"}
    # auto-title = first user message's first 50 chars
    assert old["title"] == ("a question that is quite long " + "x" * 60)[:50]
    assert client.list_chat_conversations(limit=1)[0]["conversation_id"] == "new"


def test_min_score_ignored_by_default_applied_on_flag(spark, tmp_path):
    from morphik_core_spark.api import MorphikSpark
    from morphik_core_spark.operators.scopes import AuthContext

    client = MorphikSpark(spark, str(tmp_path / "m"))
    auth = AuthContext(user_id="u", app_id="a")
    client.ingest_texts(
        ["spark catalyst optimizer rewrites plans", "totally unrelated words here"],
        auth=auth,
    )
    ignored = client.retrieve_chunks("catalyst optimizer", k=5, auth=auth, min_score=0.99)
    assert len(ignored) == 2  # reference parity: threshold not applied
    applied = client.retrieve_chunks(
        "catalyst optimizer", k=5, auth=auth, min_score=0.99, apply_min_score=True
    )
    assert len(applied) < len(ignored)
    assert all(r["score"] >= 0.99 for r in applied)


def _mk(spark, path):
    from pyspark.sql import functions as F  # noqa: F401 — used by tests below
    return MorphikSpark(spark, str(path), chunk_size=120, chunk_overlap=12)


def test_document_status_and_by_filename(spark, tmp_path):
    m = _mk(spark, tmp_path / "api_status")
    a = m.ingest_text("first version of the report", filename="report.txt")
    m.ingest_text("unrelated", filename="other.txt")
    st = m.get_document_status(a)
    assert st["status"] == "completed" and st["filename"] == "report.txt"
    assert m.get_document_status("nope") is None
    # newest-wins on filename collision
    c = m.ingest_text("second doc, same name", filename="report.txt")
    got = m.get_document_by_filename("report.txt")
    assert got["external_id"] == c
    assert m.get_document_by_filename("missing.txt") is None


def test_update_document_text_replaces_chunks_and_bumps(spark, tmp_path):
    from pyspark.sql import functions as F

    m = _mk(spark, tmp_path / "api_upd")
    did = m.ingest_text("the original body about alpha topics", filename="d.txt")
    other = m.ingest_text("untouched sibling document", filename="e.txt")
    before = m.get_document(did)
    out = m.update_document_text(did, "entirely new body about beta topics", filename="d2.txt")
    assert out["filename"] == "d2.txt" and out["status"] == "completed"
    assert out["updated_at"] >= before["updated_at"]
    texts = [r.content for r in m.chunks().filter(F.col("document_id") == did).collect()]
    assert texts and all("beta" in t for t in texts) and all("alpha" not in t for t in texts)
    # sibling untouched; retrieval finds the new content
    assert m.chunks().filter(F.col("document_id") == other).count() == 1
    hits = m.retrieve_chunks("beta topics", k=1)
    assert hits and hits[0]["document_id"] == did
    with pytest.raises(KeyError):
        m.update_document_text("missing", "x")


def test_document_summary_generate_and_override(spark, tmp_path):
    m = _mk(spark, tmp_path / "api_sum")
    did = m.ingest_text("sentence one here. sentence two there. " * 30)
    s1 = m.document_summary(did)
    assert s1.startswith("sentence one here.")
    assert len(s1.split()) <= 60
    # stored: second read returns the same without regenerating
    assert m.document_summary(did, summarizer=lambda t: "SHOULD NOT RUN") == s1
    m.upsert_document_summary(did, "manual override")
    assert m.document_summary(did) == "manual override"
    with pytest.raises(KeyError):
        m.document_summary("missing")


def test_update_document_file_parses_and_swaps(spark, tmp_path):
    import zlib

    m = _mk(spark, tmp_path / "api_updf")
    did = m.ingest_text("old plain body", filename="doc.txt")

    def _obj(n, d, p):
        return b"%d 0 obj << %s /Length %d >> stream\n%s\nendstream endobj\n" % (n, d, len(p), p)

    pdf = (
        b"%PDF-1.4\n"
        + _obj(1, b"/Filter /FlateDecode", zlib.compress(b"BT (replacement pdf body) Tj ET"))
        + b"%%EOF"
    )
    out = m.update_document_file(did, pdf, "doc.pdf")
    assert out["content_type"] == "application/pdf" and out["status"] == "completed"
    hits = m.retrieve_chunks("replacement pdf", k=1)
    assert hits and hits[0]["document_id"] == did
    # corrupt payload -> failed, old chunks gone, no exception
    out2 = m.update_document_file(did, b"\x00garbage", "doc.pdf")
    assert out2["status"] == "failed"
    from pyspark.sql import functions as F
    assert m.chunks().filter(F.col("document_id") == did).count() == 0


def test_get_document_content_roundtrips_ingested_text(spark, tmp_path):
    m = _mk(spark, tmp_path / "api_content")
    body = "word%d " * 1  # placeholder, built below
    body = " ".join(f"token{i}" for i in range(400)) + "."
    did = m.ingest_text(body)
    assert m.get_document_content(did) == body
    with pytest.raises(KeyError):
        m.get_document_content("missing")


def test_retrieve_chunks_grouped(client):
    _seed(client)
    resp = client.retrieve_chunks_grouped("spark shuffle executors", k=1, auth=AUTH, padding=1)
    assert resp["has_padding"] is True
    assert resp["total_results"] == len(resp["chunks"])
    mains = [c for c in resp["chunks"] if not c["is_padding"]]
    pads = [c for c in resp["chunks"] if c["is_padding"]]
    assert mains and pads  # both kinds present with padding=1 on a 3+-chunk doc
    assert all(p["score"] == 0.0 for p in pads)
    # every chunk lands in exactly one group; groups' totals add up
    grouped_keys = []
    for g in resp["groups"]:
        grouped_keys.append((g["main_chunk"]["document_id"], g["main_chunk"]["chunk_number"]))
        assert g["total_chunks"] == 1 + len(g["padding_chunks"])
        for p in g["padding_chunks"]:
            assert p["document_id"] == g["main_chunk"]["document_id"]
            assert abs(p["chunk_number"] - g["main_chunk"]["chunk_number"]) <= 1
    assert len(grouped_keys) == len(set(grouped_keys)) == len(mains)
    n_grouped_pads = sum(len(g["padding_chunks"]) for g in resp["groups"])
    assert n_grouped_pads == len(pads)

    flat = client.retrieve_chunks_grouped("spark shuffle executors", k=2, auth=AUTH, padding=0)
    assert flat["has_padding"] is False
    assert all(g["total_chunks"] == 1 and g["padding_chunks"] == [] for g in flat["groups"])
    assert len(flat["groups"]) == len(flat["chunks"])


def test_batch_get_documents_and_chunks(client):
    ids = _seed(client)
    # dup-safe id list + projection; unknown ids silently drop (reference
    # returns only what exists and is authorized)
    docs = client.batch_get_documents(
        [ids[0], ids[1], ids[0], "nope"], auth=AUTH, fields=["external_id", "filename"]
    )
    assert sorted(d["external_id"] for d in docs) == sorted([ids[0], ids[1]])
    assert set(docs[0].keys()) == {"external_id", "filename"}
    # folder scoping ANDs in front, like every reference read
    assert client.batch_get_documents([ids[0]], auth=AUTH, folder_path="/elsewhere") == []

    chunks = client.batch_get_chunks(
        [(ids[0], 0), (ids[0], 0), (ids[2], 0), ("nope", 3)], auth=AUTH
    )
    keys = {(c["document_id"], c["chunk_number"]) for c in chunks}
    assert keys == {(ids[0], 0), (ids[2], 0)}  # deduped, unauthorized/unknown dropped
    assert all(c["filename"] for c in chunks)  # hydration attached doc fields
    urls = client.batch_get_chunks([(ids[0], 0)], auth=AUTH, output_format="url")
    assert urls and urls[0]["content"] is None  # url mode skips inline content

    # wrong-app auth sees nothing
    other = AuthContext(user_id="u2", app_id="other-app")
    assert client.batch_get_chunks([(ids[0], 0)], auth=other) == []


def test_folder_membership_add_remove(client):
    ids = _seed(client)
    client.add_document_to_folder("/corp/archive", ids[0])
    moved = client.get_document(ids[0])
    assert moved["folder_path"] == "/corp/archive" and moved["folder_name"] == "archive"
    # chunks follow the document's folder columns
    in_folder = client.retrieve_chunks(
        "spark shuffles data", k=3, auth=AUTH, folder_path="/corp/archive"
    )
    assert in_folder and all(h["document_id"] == ids[0] for h in in_folder)

    # removing from a folder the doc is NOT in is a no-op
    client.remove_document_from_folder("/corp/docs", ids[0])
    assert client.get_document(ids[0])["folder_path"] == "/corp/archive"

    client.remove_document_from_folder("/corp/archive", ids[0])
    cleared = client.get_document(ids[0])
    assert cleared["folder_path"] is None and cleared["folder_name"] is None
    # others untouched
    assert client.get_document(ids[1])["folder_path"] == "/corp/docs"


def test_query_document_on_the_fly(client):
    import json as _json

    payload = ("quarterly revenue was nine million dollars and growth stayed strong " * 4).encode()

    # plain completion path: prompt + full document text reach the model
    class EchoModel:
        def complete(self, prompt, max_tokens=None, temperature=None):
            assert "revenue" in prompt and "summarize" in prompt
            return "one-off summary"

    out = client.query_document(payload, "report.txt", "summarize this", model=EchoModel())
    assert out["completion"] == "one-off summary"
    assert out["structured_output"] is None and out["document_id"] is None
    # nothing was ingested
    assert client.list_documents() == []

    # structured path: schema-enforced typed output, still no ingestion
    class FieldModel:
        def complete(self, prompt, max_tokens=None, temperature=None):
            return _json.dumps({"topic": "finance", "n_words": 44.0})

    out = client.query_document(
        payload, "report.txt", "extract the fields",
        schema={"topic": "string", "n_words": "number"}, model=FieldModel(),
    )
    assert out["structured_output"] == {"topic": "finance", "n_words": 44.0}
    assert out["completion"] is None

    # ingestion_options analog: ingest=True queues the normal pipeline
    out = client.query_document(
        payload, "report.txt", "summarize this", model=EchoModel(),
        ingest=True, auth=AUTH, folder_path="/corp/docs", metadata={"kind": "report"},
    )
    assert out["document_id"] and out["status"] == "completed"
    doc = client.get_document(out["document_id"])
    assert doc["folder_path"] == "/corp/docs"


def test_extract_document_pages(spark, tmp_path):
    import base64 as _b64

    from test_pdf import make_pdf_pages

    from morphik_core_spark.functions.image import decode_png
    from morphik_core_spark.sources.object_store import PresignedStubStore

    store = PresignedStubStore(str(tmp_path / "objects"))
    api = MorphikSpark(spark, str(tmp_path / "m"), storage=store, chunk_size=120, chunk_overlap=12)
    pdf = make_pdf_pages([
        b"BT /F1 12 Tf 72 720 Td (page one content here) Tj ET",
        b"BT /F1 12 Tf 72 720 Td (page two content here) Tj ET",
        b"BT /F1 12 Tf 72 720 Td (page three content) Tj ET",
    ])
    doc_id = api.ingest_file(pdf, "tri.pdf")

    out = api.extract_document_pages(doc_id, 2, 3, dpi=36)
    assert out["total_pages"] == 3 and out["start_page"] == 2 and out["end_page"] == 3
    assert len(out["pages"]) == 2
    assert all(p.startswith("data:image/png;base64,") for p in out["pages"])
    px = decode_png(_b64.b64decode(out["pages"][0].split(",", 1)[1]))
    assert px.shape[2] == 3 and px.shape[0] > 50  # real decodable page image

    # window clamps to the document, 1-indexed
    clamped = api.extract_document_pages(doc_id, 1, 99, dpi=36)
    assert len(clamped["pages"]) == 3

    # url mode stores page images and returns presigned URLs
    urls = api.extract_document_pages(doc_id, 1, 1, output_format="url", dpi=36)
    assert urls["pages"] and urls["pages"][0].startswith("http")
    assert store.verify_url(urls["pages"][0])

    with pytest.raises(ValueError):
        api.extract_document_pages(doc_id, 3, 2)
    with pytest.raises(KeyError):
        api.extract_document_pages("missing", 1, 1)


def test_folder_details(client):
    ids = _seed(client)
    client.ingest_text("other folder text " * 10, filename="x.txt", auth=AUTH, folder_path="/corp/other")
    details = client.folder_details(
        auth=AUTH, include_document_count=True, include_status_counts=True,
        include_documents=True, document_limit=2,
    )
    by_path = {d["folder_path"]: d for d in details}
    assert set(by_path) == {"/corp/docs", "/corp/other"}
    d = by_path["/corp/docs"]
    assert d["folder_name"] == "docs" and d["document_count"] == 3
    assert d["status_counts"] == {"completed": 3}
    assert len(d["documents"]) == 2 and d["has_more"] is True and d["next_skip"] == 2
    assert by_path["/corp/other"]["document_count"] == 1
    # explicit identifiers + metadata filter compose
    only = client.folder_details(
        identifiers=["/corp/docs"], auth=AUTH,
        document_filters={"topic": "engine"}, include_documents=True,
    )
    assert only[0]["document_count"] == 2 and only[0]["has_more"] is False


def test_app_storage_usage(spark, tmp_path):
    from test_pdf import make_pdf

    from morphik_core_spark.sources.object_store import PresignedStubStore

    store = PresignedStubStore(str(tmp_path / "objects"))
    api = MorphikSpark(spark, str(tmp_path / "m"), storage=store, chunk_size=120, chunk_overlap=12)
    auth = AuthContext(user_id="u1", app_id="app1")
    pdf = make_pdf(b"BT /F1 12 Tf 72 720 Td (storage usage accounting text) Tj ET")
    api.ingest_file(pdf, "a.pdf", auth=auth, use_colpali=True)
    # big enough that the reference's 2-decimal MB rounding registers
    big = ("plain text body " * 20 + "\n") * 9000
    api.ingest_file(big.encode(), "b.txt", auth=auth)

    usage = api.app_storage_usage(auth)
    assert usage["app_id"] == "app1" and usage["document_count"] == 2
    assert usage["doc_raw_bytes_mb"] == round((len(pdf) + len(big)) / (1024 * 1024), 2)
    assert usage["doc_raw_bytes_mb"] > 1.0  # ~2.9 MB of stored payloads
    assert usage["chunk_raw_bytes_mb"] > 1.0  # chunk text covers the body
    assert usage["multivector_mb"] >= 0.0  # one tiny page rounds to 0.00
    assert usage["total_mb"] >= usage["doc_raw_bytes_mb"]

    # other app sees nothing
    other = api.app_storage_usage(AuthContext(user_id="x", app_id="elsewhere"))
    assert other["document_count"] == 0 and other["total_mb"] == 0.0
    with pytest.raises(ValueError):
        api.app_storage_usage(AuthContext(user_id="x"))


def test_corpus_profile_health_gate(client):
    _seed(client)
    prof = client.corpus_profile(auth=AUTH)
    rows = {(r.table, r.entity, r.metric): r.value for r in prof.collect()}
    # both tables profiled; retrieval-critical checks pass on a healthy store
    assert rows[("documents", "_table", "row_count")] == 3.0
    assert rows[("documents", "external_id", "check:unique")] == 1.0
    assert rows[("documents", "status", "check:in_set")] == 1.0
    assert rows[("chunks", "document_id", "check:complete")] == 1.0
    assert rows[("chunks", "_table", "row_count")] > 3.0  # chunking fanned out
    # tenancy: another app sees an empty (0-row) profile, not this app's
    other = client.corpus_profile(auth=AuthContext(user_id="x", app_id="other"))
    vals = {(r.table, r.metric): r.value for r in other.collect()}
    assert vals[("documents", "row_count")] == 0.0


def test_privacy_report_gate(client):
    _seed(client)
    # add a doc with real PII so the counters are non-vacuous
    client.ingest_text(
        "contact admin@corp.io or call 555-123-4567 from 10.0.0.1 " * 3,
        filename="pii.txt",
        auth=AUTH,
        folder_path="/corp/docs",
    )
    rep = client.privacy_report(auth=AUTH)
    rows = {(r.section, r.metric): r.value for r in rep.collect()}
    assert rows[("pii", "pii_email_hits")] >= 3.0
    assert rows[("pii", "pii_ipv4_hits")] >= 3.0
    assert rows[("pii", "n_chunks_scanned")] >= 4.0
    # 4 docs share one (folder, type, status) class -> all in classes < 5
    assert rows[("k_anonymity", "k_anonymity_total_rows")] == 4.0
    assert rows[("k_anonymity", "k_anonymity_at_risk_rows")] == 4.0
    # tenancy scoping
    other = client.privacy_report(auth=AuthContext(user_id="x", app_id="other"))
    vals = {(r.section, r.metric): r.value for r in other.collect()}
    assert vals[("pii", "n_chunks_scanned")] == 0.0


def test_search_documents_by_name_fuzzy(client):
    _seed(client)
    got = client.search_documents_by_name_fuzzy("cats.txt", auth=AUTH)
    assert got and got[0]["filename"] == "cats.txt" and got[0]["dist"] == 0
    # one substitution away still hits; ranked after the exact match
    typo = client.search_documents_by_name_fuzzy("cats.txd", auth=AUTH)
    assert [d["filename"] for d in typo] == ["cats.txt"]
    assert typo[0]["dist"] == 1
    # two edits away finds nothing at max_dist=1
    assert client.search_documents_by_name_fuzzy("cuts.txd", auth=AUTH) == []
    # metadata filters compose
    assert (
        client.search_documents_by_name_fuzzy(
            "cats.txt", filters={"topic": "engine"}, auth=AUTH
        )
        == []
    )


def test_graph_build_and_retrieve(client):
    _seed(client)
    n_edges = client.build_term_graph(min_weight=1, auth=AUTH)
    assert n_edges > 0
    got = client.graph_retrieve(["catalyst"], k_terms=3, k_docs=3, auth=AUTH)
    assert got and all(set(d) == {"document_id", "score", "n_matched"} for d in got)
    # the seed-bearing document outranks everything: seed weight dominates
    ids = client.ingest_texts  # noqa: F841  (facade still usable after)
    docs = {d["filename"]: d["external_id"] for d in client.list_documents(auth=AUTH)}
    assert got[0]["document_id"] == docs["catalyst.txt"]
    # deterministic across calls (persisted graph, no rebuild)
    again = client.graph_retrieve(["catalyst"], k_terms=3, k_docs=3, auth=AUTH)
    assert again == got


def test_graph_is_auth_scoped_and_invalidated(client):
    """Round-6 ADVICE (medium): the persisted term graph must be keyed by
    auth scope — one caller's build must not serve another caller's
    retrieval — and must be rebuilt after document mutation."""
    from morphik_core_spark.operators.scopes import AuthContext

    _seed(client)
    other = AuthContext(user_id="intruder")
    # different scopes persist to different paths
    assert client._graph_path(AUTH) != client._graph_path(other)
    assert client._graph_path(None) != client._graph_path(AUTH)

    client.build_term_graph(min_weight=1, auth=AUTH)
    # the other scope owns no documents: its graph is empty, never AUTH's
    got = client.graph_retrieve(["catalyst"], k_terms=3, k_docs=3, auth=other)
    assert got == []

    # mutation invalidates: a new seed-bearing doc must appear after ingest
    before = client.graph_retrieve(["zeppelin"], k_terms=3, k_docs=3, auth=AUTH)
    assert before == []
    client.ingest_text("zeppelin zeppelin flies high " * 5, filename="z.txt", auth=AUTH)
    after = client.graph_retrieve(["zeppelin"], k_terms=3, k_docs=3, auth=AUTH)
    assert len(after) == 1
    docs = {d["filename"]: d["external_id"] for d in client.list_documents(auth=AUTH, limit=50)}
    assert after[0]["document_id"] == docs["z.txt"]


def test_delete_folder_recursive_semantics(client):
    ids = client.ingest_texts(
        ["root doc " * 10, "child doc " * 10, "deep doc " * 10, "other doc " * 10],
        filenames=["r.txt", "c.txt", "d.txt", "o.txt"],
        auth=AUTH,
    )
    # place docs across a subtree
    docs = {d["filename"]: d["external_id"] for d in client.list_documents(auth=AUTH, limit=50)}
    import pytest as _pytest

    # build folder structure via move: ingest_texts above had no folder,
    # so re-ingest with folders instead
    client2_ids = client.ingest_texts(
        ["a " * 20, "b " * 20, "c " * 20],
        filenames=["pa.txt", "pb.txt", "pc.txt"],
        auth=AUTH,
        folder_path="/proj",
    )
    client.ingest_texts(
        ["x " * 20], filenames=["x.txt"], auth=AUTH, folder_path="/proj/sub"
    )
    with _pytest.raises(ValueError, match="descendant"):
        client.delete_folder("/proj")
    n = client.delete_folder("/proj", recursive=True)
    assert n == 4  # 3 in /proj + 1 in /proj/sub
    left = {d["filename"] for d in client.list_documents(auth=AUTH, limit=50)}
    assert {"pa.txt", "pb.txt", "pc.txt", "x.txt"}.isdisjoint(left)
    assert {"r.txt", "c.txt", "d.txt", "o.txt"} <= left


def test_rename_chat_title_overrides_auto(spark, tmp_path):
    from morphik_core_spark.api import MorphikSpark

    client = MorphikSpark(spark, str(tmp_path / "m"))
    client.append_chat_message("c1", "user", "what is the plan for today exactly?")
    client.append_chat_message("c2", "user", "another thread")
    convos = {c["conversation_id"]: c["title"] for c in client.list_chat_conversations()}
    assert convos["c1"].startswith("what is the plan")
    client.rename_chat_title("c1", "Daily planning")
    client.rename_chat_title("c1", "Daily planning v2")  # latest override wins
    convos = {c["conversation_id"]: c["title"] for c in client.list_chat_conversations()}
    assert convos["c1"] == "Daily planning v2"
    assert convos["c2"] == "another thread"
