"""Inputs of the traced run's registry slice and batch ingest, and the
fixed window length."""

import pyarrow as pa

from perfbench import corpus, ingest, metrics, registry
from perfbench.run import window_cycles


def test_registry_tables_are_fixed_and_typed_like_the_testdata():
    a, b = registry.tables(), registry.tables()
    assert all(a[t].equals(b[t]) for t in a)
    assert a["events"].schema.field("ts").type == pa.timestamp("us")
    assert a["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert a["lineitem"].num_rows == registry.N_LINEITEMS


def test_registry_pass_order_comes_from_the_seed():
    order = registry.pass_order(5)
    assert order == registry.pass_order(5) != registry.pass_order(6)
    assert len(order) == registry.PASSES
    assert all(sorted(p) == sorted(registry.SLICE) for p in order)


def test_ingest_batches_come_from_the_seed_and_are_disjoint():
    a = ingest.batches(3)
    assert [[d.index for d in b] for b in a] == [[d.index for d in b] for b in ingest.batches(3)]
    indices = [d.index for b in a for d in b]
    assert len(indices) == len(set(indices)) == ingest.BATCHES * ingest.BATCH_DOCS
    assert all(0 <= i < corpus.N_DOCS for i in indices)


def test_window_is_a_fixed_number_of_cycles():
    assert window_cycles(12) == 2
    assert window_cycles(1) == 2
    assert window_cycles(60) == 6


def test_per_layer_names_fit_the_cap():
    names = [n for n, _ in metrics.per_layer()]
    assert len(names) == len(set(names)) <= 128
