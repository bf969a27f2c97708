"""Closed-loop execution of a workload's op sequence against MorphikSpark.

One client, one process: each op of the window starts when the previous
one ends; only the untimed warm-up runs reads two at a time. Ops run in
whole cycles of the workload's mix, so every window holds the same mix. Every op is wrapped: an exception counts as a failed op and the run
continues.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from morphik_core_spark.operators.scopes import AuthContext
from perfbench import corpus, sparkenv, trace


def auth(app: str) -> AuthContext:
    return AuthContext(user_id=f"user-{app}", app_id=app)


@dataclass
class Record:
    seq: int
    op: corpus.Op
    phase: str  # warmup | window | traced (a window op run traced)
    latency_ms: float | None = None
    error: str | None = None
    result: Any = None
    layers: dict[str, float] = field(default_factory=dict)


def prepare(client, op: corpus.Op, doc_id: Callable[[int], str]) -> Callable[[], tuple[Any, int, int]]:
    """A zero-argument call running ``op``; it returns (what the output
    checks need, rows returned, bytes of user data written). Inputs such as
    a rewritten text are built here, outside the timed call."""
    p = op.params
    if op.type == "retrieve":
        def run():
            rows = client.retrieve_chunks(
                p["query"], k=p["k"], filters=p["filters"], auth=auth(p["app"]),
                folder_path=p["folder_path"], folder_depth=p["folder_depth"],
            )
            return [(r["document_id"], r["chunk_number"], r["score"]) for r in rows], len(rows), 0
    elif op.type == "grouped":
        def run():
            out = client.retrieve_chunks_grouped(p["query"], k=p["k"], padding=p["padding"], auth=auth(p["app"]))
            rows = out["chunks"]
            return [(r["document_id"], r["chunk_number"], r["score"], bool(r["is_padding"])) for r in rows], len(rows), 0
    elif op.type == "retrieve_docs":
        def run():
            rows = client.retrieve_docs(p["query"], k=p["k"], auth=auth(p["app"]))
            return [(r["document_id"], r["chunk_number"], r["score"]) for r in rows], len(rows), 0
    elif op.type == "query":
        def run():
            out = client.query(p["query"], k=p["k"], auth=auth(p["app"]))
            return (out["citations"], out["answer"]), len(out["citations"]), 0
    elif op.type == "list":
        def run():
            rows = client.list_documents(limit=p["limit"], filters=p["filters"], auth=auth(p["app"]))
            return [r["external_id"] for r in rows], len(rows), 0
    elif op.type == "update_metadata":
        target, size = doc_id(p["doc"]), len(json.dumps(p["updates"]).encode())
        def run():
            client.update_document_metadata(target, p["updates"])
            return None, 1, size
    elif op.type == "update_text":
        target, text = doc_id(p["doc"]), corpus.updated_text(op)
        def run():
            client.update_document_text(target, text)
            return None, 1, len(text.encode())
    else:
        raise ValueError(op.type)
    return run


class Runner:
    def __init__(self, client, doc_id: Callable[[int], str], cycles: Iterator[list[corpus.Op]]) -> None:
        self.client = client
        self.doc_id = doc_id
        self.cycles = cycles
        self.records: list[Record] = []
        # set for a traced run
        self.tracer: trace.Tracer | None = None
        self.counters: trace.SparkCounters | None = None
        self.jvm: int | None = None
        self._seen: dict[str, int] = {}

    def _add(self, op: corpus.Op, phase: str) -> Record:
        self.records.append(Record(len(self.records), op, phase))
        return self.records[-1]

    def run_op(self, op: corpus.Op) -> Record:
        """One window op; in a traced run every second op of each type
        runs traced."""
        n = self._seen[op.type] = self._seen.get(op.type, 0) + 1
        traced = self.tracer is not None and n % 2 == 0
        return self._execute(self._add(op, "traced" if traced else "window"), traced)

    def _execute(self, rec: Record, traced: bool) -> Record:
        op = rec.op
        try:
            call = prepare(self.client, op, self.doc_id)
            if traced:
                self.tracer.install(self.client)
                mark = self.counters.mark()
                jvm0, workers0 = sparkenv.jvm_and_worker_cpu_ms(self.jvm)
                driver0 = time.process_time()
                self.tracer.op = rec.seq
            t0 = time.perf_counter()
            rec.result, rows, written = call()
            rec.latency_ms = (time.perf_counter() - t0) * 1000.0
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            rec.error = f"{type(exc).__name__}: {exc}"[:500]
            return rec
        finally:
            if traced:
                self.tracer.op = None
                self.tracer.uninstall()
        if traced:
            driver1 = time.process_time()
            jvm1, workers1 = sparkenv.jvm_and_worker_cpu_ms(self.jvm)
            layers = trace.op_layer_metrics([s for s in self.tracer.spans if s.op == rec.seq])
            layers.update(self.counters.delta(mark, self.counters.mark()))
            layers["process.jvm_cpu_ms"] = jvm1 - jvm0
            layers["process.driver_cpu_ms"] = (driver1 - driver0) * 1000.0
            layers["python_workers.cpu_ms"] = workers1 - workers0
            if rows:
                layers["retrieval.records_per_hit"] = layers["spark.input_records"] / rows
            if written:
                layers["write.amplification"] = layers.get("write.bytes_written", 0.0) / written
            rec.layers = layers
        return rec

    def warm_up(self, cycles: int, clients: int) -> list[Record]:
        """``cycles`` cycles of the mix, untimed. Writes run in the first
        cycle only, each alone and in order; the reads between two writes
        run ``clients`` at a time. Concurrent reads add JIT invocations per
        second of warm-up on cores one client leaves idle, no read races a
        write, and the measured window stays one closed-loop client."""
        out: list[Record] = []
        with ThreadPoolExecutor(clients) as pool:
            def run_reads(reads: list[Record]) -> None:
                out.extend(pool.map(lambda rec: self._execute(rec, False), reads))
                reads.clear()

            for c in range(cycles):
                reads: list[Record] = []
                for op in next(self.cycles):
                    if not op.type.startswith("update_"):
                        reads.append(self._add(op, "warmup"))
                    elif c == 0:
                        run_reads(reads)
                        out.append(self._execute(self._add(op, "warmup"), False))
                run_reads(reads)
        return out

    def run_cycles(self, cycles: int) -> tuple[list[Record], float]:
        """The window: ``cycles`` whole cycles, one op at a time. Returns
        the records and the elapsed wall time."""
        out: list[Record] = []
        t0 = time.perf_counter()
        for _ in range(cycles):
            for op in next(self.cycles):
                out.append(self.run_op(op))
        return out, time.perf_counter() - t0
