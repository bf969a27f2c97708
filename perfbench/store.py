"""The serve/mixed store: built once per checkout through
``MorphikSpark.ingest_texts`` in a child process, then copied fresh into
every run so writes never leak between runs.

Run ``python3 -m perfbench.store <dir>`` from the checkout root to build a
store into ``<dir>``.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import time

from perfbench import corpus


def fingerprint(root: str) -> str:
    """Hash of the library sources and the corpus definition: a cached
    store is reused only by the code that built it."""
    h = hashlib.sha256(f"corpus-v{corpus.STORE_VERSION}:{corpus.N_DOCS}".encode())
    files = [os.path.join(root, "perfbench", n) for n in ("corpus.py", "store.py")]
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, "morphik_core_spark")):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "_")))
        files += [os.path.join(dirpath, n) for n in sorted(filenames) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_store(root: str, work: str) -> tuple[str, float]:
    """(path of the cached store, seconds spent building it now)."""
    path = os.path.join(work, f"store-{fingerprint(root)}")
    t0 = time.perf_counter()
    # one build at a time: a second process waits, then reuses the store
    with open(path + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(path, "_COMPLETE")):
            return path, 0.0
        staging = path + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        # a child process keeps the measured JVM as cold as in every other run
        subprocess.run(
            [sys.executable, "-m", "perfbench.store", staging],
            cwd=root,
            check=True,
            stdout=sys.stderr,
        )
        shutil.rmtree(path, ignore_errors=True)
        os.rename(staging, path)
    return path, time.perf_counter() - t0


def fresh_copy(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, ignore=shutil.ignore_patterns("_COMPLETE"))


def build(path: str) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = os.path.dirname(os.path.abspath(path))
    from perfbench import sparkenv

    spark = sparkenv.start_spark(root, work, app_name="perfbench-store")
    try:
        from pyspark.sql import functions as F

        from morphik_core_spark.api import MorphikSpark
        from morphik_core_spark.operators.scopes import AuthContext

        client = MorphikSpark(spark, path, chunk_size=corpus.CHUNK_SIZE, chunk_overlap=corpus.CHUNK_OVERLAP)
        for g, (app, folder) in enumerate(corpus.GROUPS):
            docs = [corpus.document(i) for i in range(g * corpus.DOCS_PER_GROUP, (g + 1) * corpus.DOCS_PER_GROUP)]
            client.ingest_texts(
                [d.text for d in docs],
                filenames=[d.filename for d in docs],
                metadatas=[d.metadata for d in docs],
                auth=AuthContext(user_id=f"user-{app}", app_id=app),
                folder_path=folder,
            )
        ids = client.documents().select(F.col("external_id").alias("document_id"))
        n_docs = ids.count()
        n_chunk_docs = client.chunks().select("document_id").distinct().join(ids, "document_id").count()
        if n_docs != corpus.N_DOCS or n_chunk_docs != corpus.N_DOCS:
            raise RuntimeError(f"store build is inconsistent: {n_docs} documents, {n_chunk_docs} with chunks")
        with open(os.path.join(path, "_COMPLETE"), "w") as f:
            f.write("ok\n")
    finally:
        sparkenv.stop_spark(spark)


if __name__ == "__main__":
    build(sys.argv[1])
