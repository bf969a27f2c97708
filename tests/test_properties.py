"""Property-based tests (hypothesis) for the correctness-bearing kernels."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from morphik_core_spark.functions.chunking import split_text
from morphik_core_spark.functions.embedder import hash_embed

TEXT = st.text(
    alphabet=st.sampled_from(list("ab cd\n.!x")),
    min_size=0,
    max_size=400,
)


@settings(max_examples=200, deadline=None)
@given(text=TEXT, chunk_size=st.integers(5, 60))
def test_splitter_without_overlap_caps_chunk_size(text, chunk_size):
    chunks = split_text(text, chunk_size=chunk_size, chunk_overlap=0)
    assert all(len(c) <= chunk_size for c in chunks)
    assert all(c for c in chunks)  # never emits empty chunks


@settings(max_examples=200, deadline=None)
@given(text=TEXT, chunk_size=st.integers(5, 60), overlap=st.integers(1, 10))
def test_splitter_overlap_prefix_property(text, chunk_size, overlap):
    # Overlap is applied per recursion level (reference parity), so deep
    # chunks carry compounded prefixes. The invariants that survive:
    # chunk count is overlap-independent, the first chunk is untouched,
    # every chunk still ENDS with its no-overlap counterpart, and the
    # final prepend is the previous chunk's tail.
    plain = split_text(text, chunk_size=chunk_size, chunk_overlap=0)
    overlapped = split_text(text, chunk_size=chunk_size, chunk_overlap=overlap)
    assert len(plain) == len(overlapped)
    if overlapped:
        assert overlapped[0] == plain[0]
    for i in range(1, len(overlapped)):
        assert overlapped[i].endswith(plain[i])
        if len(plain[i - 1]) >= overlap:
            assert overlapped[i].startswith(plain[i - 1][-overlap:])


@settings(max_examples=200, deadline=None)
@given(text=TEXT)
def test_splitter_deterministic(text):
    assert split_text(text, 30, 5) == split_text(text, 30, 5)


@settings(max_examples=100, deadline=None)
@given(text=st.text(max_size=200))
def test_hash_embed_unit_norm_or_zero(text):
    import math

    v = hash_embed(text)
    norm = math.sqrt(sum(x * x for x in v))
    assert abs(norm - 1.0) < 1e-9 or norm == 0.0


# ---------------------------------------------- filter compiler robustness

# adversarial leaves: quotes, backslashes, LIKE and regex metacharacters,
# `${...}` (the SQL parser's variable-substitution syntax), non-ASCII text,
# doubles whose literal text is easy to get wrong, an int past 2^53, and
# field names with dots and quotes
ODD_STRINGS = ["O'Brien", "C:\\dir\\f", "50%", "a_b", "${x}", "${spark.app.name}", "café ü", "日本語", "a.b*c+(d)?", "[x]|^$"]
ODD_NUMBERS = [0.1, 1e-7, -0.0, 2**53 + 1, 1.5]
ODD_REGEXES = ["^e", "x$", "O'B", "\\\\", "50%", "a_b", "\\$\\{x\\}", "caf.", "[日本]", "a\\.b", "(x|y)+"]
TYPE_NAMES = ["string", "number", "array", "object", "boolean", "null", "decimal", "date", "datetime"]
_FIELDS = st.sampled_from(["department", "priority", "tags", "score", "missing", "a.b", "it's", "naïve"])
_STRINGS = st.sampled_from(["eng", "x", "3", "2024-03-01", "2024-04-01T00:00:00Z", *ODD_STRINGS])
_NUMBERS = st.one_of(st.integers(-5, 100), st.sampled_from(ODD_NUMBERS))
_SCALARS = st.one_of(_NUMBERS, st.booleans(), _STRINGS, st.none())


def _leaf():
    op_block = st.one_of(
        st.fixed_dictionaries({"$eq": _SCALARS.filter(lambda v: v is not None)}),
        st.fixed_dictionaries({"$ne": _SCALARS.filter(lambda v: v is not None)}),
        st.fixed_dictionaries({"$gte": _NUMBERS}),
        st.fixed_dictionaries({"$lt": st.one_of(_NUMBERS, _STRINGS)}),
        st.fixed_dictionaries({"$in": st.lists(_SCALARS, min_size=1, max_size=3)}),
        st.fixed_dictionaries({"$nin": st.lists(_SCALARS, min_size=1, max_size=3)}),
        st.fixed_dictionaries({"$exists": st.booleans()}),
        st.fixed_dictionaries({"$type": st.one_of(st.sampled_from(TYPE_NAMES), st.lists(st.sampled_from(TYPE_NAMES), min_size=1, max_size=2))}),
        st.fixed_dictionaries({"$contains": st.one_of(
            st.sampled_from(["en", "x", *ODD_STRINGS]),
            st.fixed_dictionaries({"value": st.sampled_from(["EN", *ODD_STRINGS]), "case_sensitive": st.booleans()}),
        )}),
        st.fixed_dictionaries({"$regex": st.one_of(
            st.sampled_from(ODD_REGEXES),
            st.fixed_dictionaries({"pattern": st.sampled_from(ODD_REGEXES), "flags": st.just("i")}),
        )}),
    )
    filename_block = st.one_of(
        st.fixed_dictionaries({"$eq": st.one_of(_STRINGS, st.none())}),
        st.fixed_dictionaries({"$ne": st.one_of(_STRINGS, st.none())}),
        st.fixed_dictionaries({"$gt": _STRINGS}),
        st.fixed_dictionaries({"$in": st.lists(st.one_of(_STRINGS, st.none()), min_size=1, max_size=3)}),
        st.fixed_dictionaries({"$nin": st.lists(st.one_of(_STRINGS, st.none()), min_size=1, max_size=3)}),
        st.fixed_dictionaries({"$exists": st.booleans()}),
        st.fixed_dictionaries({"$regex": st.sampled_from(ODD_REGEXES)}),
        st.fixed_dictionaries({"$contains": st.sampled_from(["x", *ODD_STRINGS])}),
    )
    return st.one_of(
        st.builds(lambda f, v: {f: v}, _FIELDS, st.one_of(_SCALARS, op_block)),
        st.builds(lambda v: {"filename": v}, st.one_of(_STRINGS, filename_block)),
    )


FILTER_TREES = st.recursive(
    _leaf(),
    lambda children: st.one_of(
        st.builds(lambda xs: {"$and": xs}, st.lists(children, min_size=1, max_size=3)),
        st.builds(lambda xs: {"$or": xs}, st.lists(children, min_size=1, max_size=3)),
        st.builds(lambda xs: {"$nor": xs}, st.lists(children, min_size=1, max_size=2)),
        st.builds(lambda x: {"$not": x}, children),
    ),
    max_leaves=6,
)

_FILTER_ROWS = [
    ("r1", {"department": "eng", "priority": 3, "tags": ["x", "O'Brien"], "a.b": 0.1}, "O'Brien.txt"),
    ("r2", {"department": "50%", "score": 1e-7, "it's": "C:\\dir\\f", "naïve": "café ü"}, None),
    ("r3", {"priority": 9007199254740993, "tags": "${x}", "score": -0.0}, "${x}"),
    ("r4", {"department": None, "tags": [3, "日本語"], "a.b": {"c": 1}}, "a_b"),
]


@pytest.fixture(scope="module")
def filter_rows(spark):
    data = [(i, json.dumps(m), f) for i, m, f in _FILTER_ROWS]
    return spark.createDataFrame(data, "id string, metadata string, filename string").withColumn(
        "metadata_types", F.create_map(F.lit("priority"), F.lit("number"))
    ).cache()


@settings(max_examples=60, deadline=None)
@given(tree=FILTER_TREES)
def test_random_filter_trees_compile(filter_rows, tree):
    """Any structurally-valid filter tree must compile to a predicate that
    Spark can analyze and run (numeric-operand guards may legitimately
    reject some leaves — InvalidMetadataFilterError is the only acceptable
    failure). The predicate is applied with ``collect()``: a rendering bug
    surfaces when Spark parses and analyzes the SQL text, not when
    ``compile()`` returns."""
    from morphik_core_spark.operators.metadata_filters import (
        InvalidMetadataFilterError,
        MetadataFilterCompiler,
    )

    try:
        col = MetadataFilterCompiler().compile(tree)
    except InvalidMetadataFilterError:
        return
    ids = [r.id for r in filter_rows.filter(col).select("id").collect()]
    assert set(ids) <= {r[0] for r in _FILTER_ROWS}


@settings(max_examples=100, deadline=None)
@given(
    a=st.text(alphabet=st.sampled_from(list("abc ")), max_size=60),
    b=st.text(alphabet=st.sampled_from(list("abc ")), max_size=60),
)
def test_hash_embed_depends_only_on_token_multiset(a, b):
    # embeddings are order-insensitive over tokens: shuffling words is identity
    tokens_a = a.lower().split()
    shuffled = " ".join(reversed(tokens_a))
    assert hash_embed(a) == hash_embed(shuffled)
    if sorted(tokens_a) != sorted(b.lower().split()):
        pass  # different multisets MAY collide (hashing) — no assertion


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(16, 32),
    w=st.integers(16, 32),
    seed=st.integers(0, 2**16),
    sub=st.booleans(),
    rst=st.sampled_from([0, 2]),
)
def test_jpeg_roundtrip_bounded_error(h, w, seed, sub, rst):
    """Smooth multi-block images round-trip through the baseline JPEG codec
    with bounded error and exact shape, across sampling/restart modes.
    (Sub-8px images with steep gradients quantize hard by design — that is
    JPEG, not a codec bug, so the property holds from 16px up; measured
    worst mean error over 1200 cases is 5.8.)"""
    import numpy as np

    from morphik_core_spark.functions.jpeg import decode_jpeg, encode_jpeg_baseline

    rng = np.random.default_rng(seed)
    # low-frequency content (random corners, bilinear fill) — JPEG's domain
    corners = rng.integers(0, 256, size=(2, 2, 3)).astype(np.float64)
    yy = np.linspace(0, 1, h)[:, None, None]
    xx = np.linspace(0, 1, w)[None, :, None]
    img = (
        corners[0, 0] * (1 - yy) * (1 - xx)
        + corners[0, 1] * (1 - yy) * xx
        + corners[1, 0] * yy * (1 - xx)
        + corners[1, 1] * yy * xx
    ).round().astype(np.uint8)
    out = decode_jpeg(encode_jpeg_baseline(img, subsample=sub, restart_interval=rst))
    assert out.shape == img.shape and out.dtype == np.uint8
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 12.0  # smooth content stays close even at 4:2:0


@settings(max_examples=100, deadline=None)
@given(tok=st.text(alphabet=st.sampled_from(list("abcdefgsiuy0123")), min_size=0, max_size=12))
def test_stemmer_python_twin_is_idempotent_and_bounded(tok):
    from morphik_core_spark.functions.text import stem_token_py

    s = stem_token_py(tok)
    assert len(s) <= len(tok)
    # suffix rules never grow a token and re-stemming 'ings'/'s' chains
    # terminates (idempotence holds after at most one extra pass)
    assert stem_token_py(stem_token_py(s)) == stem_token_py(s)


@settings(max_examples=40, deadline=None)
@given(
    names=st.lists(
        st.text(alphabet=st.sampled_from(list("ABCdef123")), min_size=1, max_size=8),
        min_size=1,
        max_size=5,
        unique=True,
    ),
    sizes=st.data(),
)
def test_cfb_roundtrip_any_stream_sizes(names, sizes):
    """CFB writer/reader round-trip across the mini/FAT boundary for
    arbitrary stream size mixes."""
    import os

    from morphik_core_spark.functions.cfb import CfbFile, write_cfb

    streams = {}
    for i, n in enumerate(names):
        size = sizes.draw(st.sampled_from([0, 1, 63, 64, 65, 4095, 4096, 5000]))
        streams[n] = bytes((i + j) % 256 for j in range(size))
    f = CfbFile(write_cfb(streams))
    assert {k: f.stream(k) for k in streams} == streams
