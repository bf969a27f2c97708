"""Seeded inputs: the same seed gives the same corpus and op sequence."""

import itertools
import random

from morphik_core_spark.functions.chunking import split_text
from perfbench import corpus


def _ops(workload, seed, cycles=5):
    return list(itertools.islice(corpus.op_cycles(workload, seed), cycles))


def test_same_seed_same_op_sequence():
    for workload in corpus.CYCLES:
        assert _ops(workload, 7) == _ops(workload, 7)
        assert _ops(workload, 7) != _ops(workload, 8)


def test_every_cycle_holds_the_workload_mix():
    for workload, mix in corpus.CYCLES.items():
        for cycle in _ops(workload, 3):
            assert sorted(op.type for op in cycle) == sorted(mix)


def test_store_corpus_is_fixed():
    for i in (0, 1, corpus.N_DOCS - 1):
        assert corpus.document(i) == corpus.document(i)
    assert corpus.document(0).text != corpus.document(1).text
    assert corpus.document(corpus.N_DOCS - 1).app == corpus.APPS[-1]


def test_updated_text_keeps_the_chunk_count():
    ops = [op for cycle in _ops("mixed", 5, cycles=20) for op in cycle if op.type == "update_text"]
    assert ops and corpus.updated_text(ops[0]) == corpus.updated_text(ops[0])
    for op in ops:
        old, new = corpus.document(op.params["doc"]).text, corpus.updated_text(op)
        assert new != old
        assert len(split_text(new, corpus.CHUNK_SIZE, corpus.CHUNK_OVERLAP)) == len(
            split_text(old, corpus.CHUNK_SIZE, corpus.CHUNK_OVERLAP)
        )


def test_paragraphs_fit_one_chunk():
    rng = random.Random(0)
    for i in rng.sample(range(corpus.N_DOCS), 20):
        paragraphs = corpus.document(i).text.split("\n\n")
        assert max(len(p) for p in paragraphs) < corpus.CHUNK_SIZE

