"""The warm-up's concurrent reads never overlap a write, and its records
keep op order, so the output checks can replay them."""

import threading
import time

from perfbench import corpus
from perfbench.workload import Runner


class FakeClient:
    def __init__(self):
        self.lock = threading.Lock()
        self.active: list[str] = []
        self.overlaps: list[tuple[str, ...]] = []
        self.max_reads = 0

    def _call(self, kind):
        with self.lock:
            self.active.append(kind)
            if "write" in self.active and len(self.active) > 1:
                self.overlaps.append(tuple(self.active))
            self.max_reads = max(self.max_reads, self.active.count("read"))
        time.sleep(0.01)
        with self.lock:
            self.active.remove(kind)

    def retrieve_chunks(self, *a, **kw):
        self._call("read")
        return []

    def update_document_metadata(self, *a, **kw):
        self._call("write")

    def update_document_text(self, *a, **kw):
        self._call("write")


def test_warm_up_reads_run_concurrently_but_never_beside_a_write():
    client = FakeClient()
    runner = Runner(client, str, corpus.op_cycles("mixed", 4))
    out = runner.warm_up(2, clients=2)
    assert client.overlaps == []
    assert client.max_reads == 2
    types = [r.op.type for r in out]
    assert types.count("retrieve") == 2 * corpus.MIXED_CYCLE.count("retrieve")
    # writes run in the first cycle only
    assert types.count("update_text") == types.count("update_metadata") == 1
    assert [r.seq for r in runner.records] == list(range(len(runner.records)))
    assert sorted(r.seq for r in out) == [r.seq for r in runner.records]
    assert all(r.error is None and r.phase == "warmup" for r in out)


def test_warm_up_ops_follow_the_seeded_cycles():
    a = Runner(FakeClient(), str, corpus.op_cycles("mixed", 4))
    a.warm_up(2, clients=2)
    b = corpus.op_cycles("mixed", 4)
    expected = [op for op in next(b)] + [op for op in next(b) if not op.type.startswith("update_")]
    assert [r.op for r in a.records] == expected
