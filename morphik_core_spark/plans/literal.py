"""Bounded driver-side pulls, and tiny literal DataFrames via SQL VALUES
LocalRelations — pure JVM.

``bounded_collect`` is the one way an operator pulls a contract-bounded
frame to the driver: it collects ``df.limit(bound + 1)``, so an
over-bound frame is caught with at most one row past the bound leaving
the executors, and raises instead of truncating.

``spark.createDataFrame`` on local Python data plans a pickled-RDD scan
whose per-ACTION cost is a full Python worker round trip, spread over
``defaultParallelism`` near-empty tasks (measured 0.76 s vs 0.16 s per
literal-frame action at sf0.1 on local[32]). Every bounded-collect fast
path (the round-11/12 recipe: collect a contract-bounded frame, do exact
integer combinatorics at the driver, feed literals back into the
identical Spark double tree) therefore builds its literal frames here: a
``VALUES`` LocalRelation is parsed once and scanned in-JVM with no
Python involvement at action time.

Exactness: integers inline as CAST literals; DECIMAL and DOUBLE values
ride as STRINGS (arbitrary-precision decimals past int64; shortest
round-trip ``repr`` for doubles — CAST(string AS DOUBLE) reproduces the
bit pattern); None becomes a typed NULL; strings are quoted with
backslash escaping (Spark's default escapedStringLiterals=false).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


SAFE_TYPES = ("string", "bigint", "int", "smallint", "tinyint", "long",
              "double", "float", "boolean", "decimal", "array<double>",
              "date")


def bounded_collect(df: DataFrame, bound: int, what: str) -> list:
    """Collect ``df`` to the driver, or raise ``ValueError`` naming
    ``what`` and ``bound`` when it holds more than ``bound`` rows; at
    most ``bound + 1`` rows are ever pulled."""
    rows = df.limit(int(bound) + 1).collect()
    if len(rows) > int(bound):
        raise ValueError(
            f"{what} exceeds its bound of {bound} rows; the bound is a "
            f"contract, not a truncation"
        )
    return rows


def _cell(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "string":
        esc = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if typ == "date":
        # datetime.date (or an ISO string) — the literal is engine-exact
        return f"CAST('{v.isoformat() if hasattr(v, 'isoformat') else v}' AS DATE)"
    if typ.startswith("decimal"):
        return f"CAST('{v}' AS {typ})"
    if typ in ("double", "float"):
        f = float(v)
        if math.isnan(f):
            s = "NaN"
        elif math.isinf(f):
            s = "Infinity" if f > 0 else "-Infinity"
        else:
            s = repr(f)
        return f"CAST('{s}' AS {typ})"
    if typ == "array<double>":
        inner = ",".join(_cell(float(x), "double") for x in v)
        return f"CAST(ARRAY({inner}) AS ARRAY<DOUBLE>)"
    return f"CAST({v} AS {typ})"


def values_literal_frame(spark, cols: list[tuple[str, str]], rows: list[tuple]) -> DataFrame:
    """Build a literal DataFrame with schema ``cols`` ([(name, sql_type)])
    from local ``rows`` as a VALUES LocalRelation. An empty ``rows`` list
    yields an empty frame with the same schema."""
    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        return spark.sql(f"SELECT {sel}").limit(0)
    vals = ",".join(
        "(" + ",".join(_cell(v, t) for v, (_n, t) in zip(r, cols)) + ")" for r in rows
    )
    names = ", ".join(n for n, _t in cols)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({names})")


def literal_frame_from_schema(spark, schema: str, rows: list[tuple]) -> DataFrame:
    """``values_literal_frame`` for callers holding a DDL schema string
    ("name type, ..."). Falls back to ``spark.createDataFrame`` when a
    column type is outside the VALUES-safe set (e.g. caller-provided key
    columns of arbitrary types), so behaviour never changes — only the
    per-action Python round trip goes away where it safely can."""
    # split on top-level commas only — "decimal(38,0)" carries one
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            depth += ch in "(<"
            depth -= ch in ")>"
            cur.append(ch)
    parts.append("".join(cur))
    cols = [tuple(c.strip().rsplit(" ", 1)) for c in parts]

    def safe(t: str) -> bool:
        t = t.lower()
        # exact base types only — a prefix match would let e.g.
        # "interval day" slip through as "int"
        return t in SAFE_TYPES or t.startswith("decimal(")

    if all(safe(t) for _n, t in cols):
        return values_literal_frame(spark, [(n, t.lower()) for n, t in cols], rows)
    return spark.createDataFrame(rows, schema)
