"""Golden rows for the filter DSL over a few hundred seeded random trees.

`tests/data/metadata_filter_golden.json` holds the trees (drawn from the
`tests/test_properties.py` generator, adversarial leaves included) and,
per tree and per compiler layout, the ids of the fixture rows it selects
or ``"invalid"`` when the compiler rejects it. The rows were recorded with
the Column-building compiler that the SQL-text renderer replaced, so this
test pins the renderer to the old semantics: escaping, literal text,
dotted field names, ``$type``/``$exists``/``$nin`` and ``filename``
clauses.

That compiler failed at run time on 38-41 of the trees per layout, in two
ways the renderer mends: a field name holding ``'`` made an invalid
variant path (INVALID_VARIANT_GET_PATH), and a guarded variant cast ran
before its type guard under code generation (INVALID_VARIANT_CAST). For
those trees the rows were recorded with the same old compiler on
interpreted evaluation (no code generation, no subexpression
elimination), which honours the guard, with the field ``it's`` renamed
``its`` in both the tree and the fixture.

Regenerate (only for a deliberate semantic change) with
``python tests/test_metadata_filter_golden.py``.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

GOLDEN = Path(__file__).resolve().parent / "data" / "metadata_filter_golden.json"
N_TREES = 300
BATCH = 50

# (id, metadata, declared types, filename)
ROWS = [
    ("g01", {"department": "eng", "priority": 3, "tags": ["x", "O'Brien"], "a.b": 0.1}, {"priority": "number"}, "O'Brien.txt"),
    ("g02", {"department": "50%", "score": 1e-7, "it's": "C:\\dir\\f", "naïve": "café ü"}, {"score": "number"}, None),
    ("g03", {"priority": 9007199254740993, "tags": "${x}", "score": -0.0}, {"priority": "number", "score": "number"}, "${x}"),
    ("g04", {"department": None, "tags": [3, "日本語"], "a.b": {"c": 1}}, {"department": "null"}, "a_b"),
    ("g05", {"department": "a_b", "priority": "10.5", "missing": 1.5}, {"priority": "decimal"}, "50%.pdf"),
    ("g06", {"department": "O'Brien", "priority": "2024-03-01", "score": 0.1}, {"priority": "date", "score": "number"}, "eng"),
    ("g07", {"priority": "2024-04-01T00:00:00+00:00", "tags": ["a.b*c+(d)?", "[x]|^$"]}, {"priority": "datetime"}, "C:\\dir\\f"),
    ("g08", {"department": "Eng", "it's": "x", "a.b": "x", "naïve": ["日本語", 1e-7]}, {}, "x"),
    ("g09", {"tags": [], "score": 100, "priority": True, "department": "café ü"}, {"score": "number", "priority": "boolean"}, "2024-03-01"),
    ("g10", {"department": "${spark.app.name}", "tags": ["eng", 0.1], "missing": None}, {"department": "string"}, "3"),
    ("g11", {"priority": 9007199254740992, "score": "3", "department": "\\\\"}, {"priority": "number"}, "日本語"),
    ("g12", {}, {}, None),
]

LAYOUTS = {
    # name: (compiler kwargs, metadata column, types column)
    "json_map": dict(),
    "json_json": dict(types_col="types_json", types_kind="json"),
    "variant_map": dict(metadata_col="metadata_v", metadata_kind="variant"),
    "variant_json": dict(metadata_col="metadata_v", metadata_kind="variant", types_col="types_json", types_kind="json"),
}


def fixture_frame(spark, rename: dict[str, str] | None = None):
    def fields(d):
        return {(rename or {}).get(k, k): v for k, v in d.items()}

    data = [(i, json.dumps(fields(m)), fields(t), json.dumps(fields(t)), f) for i, m, t, f in ROWS]
    df = spark.createDataFrame(
        data,
        "external_id string, metadata string, metadata_types map<string,string>, types_json string, filename string",
    )
    return df.withColumn("metadata_v", F.parse_json("metadata")).cache()


def selected_ids(df, trees, **compiler_kwargs) -> list:
    """Per tree: sorted ids of the rows it selects, "invalid" when the
    compiler rejects it, or "error" when Spark fails to run it."""
    from morphik_core_spark.operators.metadata_filters import (
        InvalidMetadataFilterError,
        MetadataFilterCompiler,
    )

    compiler = MetadataFilterCompiler(**compiler_kwargs)
    out: list = [None] * len(trees)
    preds = []
    for i, tree in enumerate(trees):
        try:
            preds.append((i, compiler.compile(tree)))
        except InvalidMetadataFilterError:
            out[i] = "invalid"
    for start in range(0, len(preds), BATCH):
        batch = preds[start : start + BATCH]
        try:
            rows = df.select("external_id", *[p.alias(f"p{i}") for i, p in batch]).collect()
        except PySparkException:
            # one failing predicate fails the batch: settle each alone
            for i, p in batch:
                try:
                    out[i] = sorted(r.external_id for r in df.filter(p).select("external_id").collect())
                except PySparkException:
                    out[i] = "error"
            continue
        for i, _ in batch:
            out[i] = sorted(r.external_id for r in rows if r[f"p{i}"])
    return out


@pytest.fixture(scope="module")
def golden():
    return json.loads(GOLDEN.read_text(encoding="utf-8"))


@pytest.fixture(scope="module")
def frame(spark):
    df = fixture_frame(spark)
    yield df
    df.unpersist()


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_filter_trees_select_golden_rows(frame, golden, layout):
    trees = [case["tree"] for case in golden["cases"]]
    got = selected_ids(frame, trees, **LAYOUTS[layout])
    want = [case[layout] for case in golden["cases"]]
    diff = [(t, w, g) for t, w, g in zip(trees, want, got) if w != g]
    assert not diff, f"{len(diff)} trees differ, first: {diff[0]}"


def test_golden_set_covers_the_adversarial_leaves(golden):
    text = json.dumps([case["tree"] for case in golden["cases"]], ensure_ascii=False)
    for needle in ["O'Brien", "\\\\", "50%", "a_b", "${x}", "日本語", '"a.b"', "$type", "$exists", "$nin", "filename", "1e-07", "-0.0", "9007199254740993"]:
        assert needle in text, needle
    selecting = [c for c in golden["cases"] if c["json_map"] not in ("invalid", "error", [])]
    assert len(selecting) >= N_TREES // 3


def _draw_trees(n: int) -> list:
    from hypothesis import HealthCheck, Phase, given, settings

    from test_properties import FILTER_TREES

    trees: list = []

    @settings(
        max_examples=n,
        derandomize=True,
        database=None,
        deadline=None,
        phases=[Phase.generate],
        suppress_health_check=list(HealthCheck),
    )
    @given(FILTER_TREES)
    def draw(tree):
        if tree not in trees:
            trees.append(tree)

    draw()
    return trees[:n]


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from morphik_core_spark.session import get_spark

    spark = get_spark(app_name="metadata_filter_golden")
    trees = _draw_trees(N_TREES)
    df = fixture_frame(spark)
    by_layout = {name: selected_ids(df, trees, **kw) for name, kw in LAYOUTS.items()}
    # trees the compiler failed to run: interpreted evaluation, quote-free field
    renamed = fixture_frame(spark, {"it's": "its"})
    for conf in ("spark.sql.subexpressionElimination.enabled", "spark.sql.codegen.wholeStage"):
        spark.conf.set(conf, "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    for name, kw in LAYOUTS.items():
        failed = [i for i, ids in enumerate(by_layout[name]) if ids == "error"]
        retry = [json.loads(json.dumps(trees[i]).replace('"it\'s"', '"its"')) for i in failed]
        for i, ids in zip(failed, selected_ids(renamed, retry, **kw)):
            by_layout[name][i] = ids
    cases = [{"tree": t, **{name: ids[i] for name, ids in by_layout.items()}} for i, t in enumerate(trees)]
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(json.dumps({"cases": cases}, ensure_ascii=False, indent=1) + "\n", encoding="utf-8")
    print(f"wrote {len(cases)} cases to {GOLDEN}")
