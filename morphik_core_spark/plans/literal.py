"""Bounded driver-side pulls, tiny literal DataFrames via SQL VALUES
LocalRelations — pure JVM — and the Spark SQL literal and identifier
renderers that every SQL-text expression builder shares.

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

``sql_string`` and ``sql_double`` are the one way Python values become
SQL text. A string escapes ``\\`` and ``'`` with a backslash and writes
``$`` as ``\\u0024``, so a user value such as ``${spark.app.name}`` is
never rewritten by the parser's variable substitution (which runs on the
raw text before lexing); the lexer turns the escape back into ``$``. A
double renders as its shortest round-trip ``repr`` with a ``D`` suffix,
which Spark parses to the same bit pattern; NaN and ±inf, which have no
literal form, render as ``CAST('NaN' AS DOUBLE)`` and the like.
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


def sql_string(s: str) -> str:
    """``s`` as a quoted Spark SQL string literal."""
    esc = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{esc}'"


def _double_text(f: float) -> str:
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    return repr(f)


def sql_double(x: float) -> str:
    """``x`` as a DOUBLE literal that parses to the same bits."""
    f = float(x)
    if math.isnan(f) or math.isinf(f):
        return f"CAST('{_double_text(f)}' AS DOUBLE)"
    return f"{f!r}D"


def sql_literal(v) -> str:
    """A Python scalar as the literal ``F.lit(v)`` would build."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return sql_double(v)
    return sql_string(str(v))


def sql_ident(name: str) -> str:
    """A column reference as ``F.col(name)`` resolves it: each dot-separated
    part backquoted, a name already holding backquotes kept as written."""
    if "`" in name:
        return name
    return ".".join(f"`{part}`" for part in name.split("."))


def sql_and(clauses: list[str]) -> str:
    return " AND ".join(f"({c})" for c in clauses)


def sql_or(clauses: list[str]) -> str:
    return " OR ".join(f"({c})" for c in clauses)


def _cell(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "string":
        return sql_string(str(v))
    if typ == "date":
        # datetime.date (or an ISO string) — the literal is engine-exact
        return f"CAST('{v.isoformat() if hasattr(v, 'isoformat') else v}' AS DATE)"
    if typ.startswith("decimal"):
        return f"CAST('{v}' AS {typ})"
    if typ in ("double", "float"):
        return f"CAST('{_double_text(float(v))}' AS {typ})"
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
