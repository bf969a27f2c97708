"""MongoDB-style metadata filter DSL rendered to Spark SQL text.

The reference engine (morphik-core) compiles the same DSL to PostgreSQL WHERE
clauses over a JSONB column + a side ``metadata_types`` hint map
(`core/database/metadata_filters.py:29` in /root/reference). Here each
filter is rendered to one Spark SQL boolean expression, in pure Python, and
turned into a ``Column`` with a single ``F.expr`` call. Building the same
tree one ``Column`` method at a time cost one py4j round trip per node
(about 700 for a two-clause filter); the text costs three. The expression
reads:

- ``metadata``: a JSON *string* column (arbitrary user metadata), and
- ``metadata_types``: a ``map<string,string>`` (or JSON string) column of
  declared types per top-level field.

Everything renders to built-in JVM expressions (``get_json_object``,
variant functions, ``rlike`` ...) so predicates stay inside whole-stage
codegen and — crucially for the 100 TB target — remain visible to Catalyst
for pushdown/pruning. No Python UDFs anywhere in the filter path.

Literal rendering (``plans/literal.py``), so the parsed expression equals
the one the ``F.lit``-built tree held:

- strings are quoted with ``\\`` and ``'`` backslash-escaped and ``$``
  written as ``\\u0024`` (the parser substitutes ``${...}`` in raw text);
- doubles are their shortest ``repr`` plus a ``D`` suffix; NaN and ±inf
  are ``CAST('NaN' AS DOUBLE)``, ``CAST('Infinity' AS DOUBLE)`` ...;
- decimal, date and timestamp operands are ``CAST('…' AS DECIMAL(38,12))``,
  ``CAST('…' AS DATE)`` and ``CAST('…' AS TIMESTAMP)``;
- identifiers are backquoted; lambda variables are ``__mf_e``, a name no
  column of the filtered tables uses, and no lambda body reads a column.

Operator semantics mirrored from the reference (file:line cites are into
/root/reference/core/database/metadata_filters.py):

- implicit ``{f: v}``     → strict JSONB containment OR array membership (:352-392)
- ``$and/$or/$nor/$not``  → boolean combinators; a bare list is OR (:67-110)
- ``$eq $ne $gt ...``     → typed comparison via per-type guarded casts
                            (:233-269); ``$ne`` is NOT(eq) so NULL/missing
                            rows are *excluded* (:145-151)
- ``$in / $nin``          → OR of containment clauses / NOT of it (:152-159)
- ``$exists``             → top-level key presence, like JSONB ``?`` (:219-231)
- ``$type``               → declared-type check, jsonb_typeof fallback (:340-379)
- ``$regex``              → unanchored regex, optional 'i' flag, applied
                            per-element to string arrays (:423-480)
- ``$contains``           → substring, default case-insensitive, array-aware
                            (:481-540)
- column fields           → routed to plain columns (e.g. ``filename``) with
                            their own operator set (:612+)

Documented deviations from the reference:

- Cast failures yield NULL (row excluded) instead of a Postgres runtime
  error — i.e. ``try_cast`` semantics, same as the DuckDB oracle's TRY_CAST.
- ``$regex`` uses Java regex rather than POSIX; the common subset is
  identical.
"""

from __future__ import annotations

from datetime import date, datetime
from decimal import Decimal, InvalidOperation
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from morphik_core_spark.operators.typed_metadata import TypedMetadataError, canonical_type
from morphik_core_spark.plans.literal import sql_and, sql_double, sql_ident, sql_or, sql_string

__all__ = ["InvalidMetadataFilterError", "MetadataFilterCompiler", "TextColumnFilterCompiler"]


class InvalidMetadataFilterError(ValueError):
    """Raised when a metadata filter expression is malformed."""


_DECIMAL_TYPE = "DECIMAL(38,12)"
_ELEMENT = "__mf_e"  # lambda variable of every per-element predicate


def _key_segment(key: str, variant: bool) -> str:
    """Path segment addressing ``key`` literally. Variant paths take no
    escapes, so a key holding ``'`` is written ``["key"]`` there."""
    if variant and "'" in key and '"' not in key:
        return f'["{key}"]'
    escaped = key.replace("'", "\\'")
    return f"['{escaped}']"


def _json_key_path(field: str, variant: bool = False) -> str:
    """JSON path addressing `field` as a literal top-level key.

    Bracket notation keeps dots in field names literal, matching the
    reference's single-key ``->>`` access.
    """
    return "$" + _key_segment(field, variant)


def _not(clause: str) -> str:
    return f"NOT ({clause})"


def _combine(key: str, subs: list[str]) -> str:
    if key == "$and":
        return sql_and(subs)
    if key == "$or":
        return sql_or(subs)
    return _not(sql_or(subs))  # $nor


def _exists(array: str, body: str) -> str:
    """``exists(array, e -> body)``; ``body`` reads the element as `_ELEMENT`."""
    return f"exists({array}, {_ELEMENT} -> {body})"


class MetadataFilterCompiler:
    """Render filter dicts to one boolean SQL expression; ``compile`` returns
    it as a ``Column``."""

    def __init__(
        self,
        metadata_col: str = "metadata",
        types_col: str | None = "metadata_types",
        types_kind: str = "map",  # 'map' | 'json' — physical type of types_col
        column_fields: dict[str, str] | None = None,
        metadata_kind: str = "json",  # 'json' (string col) | 'variant' (pre-parsed)
    ) -> None:
        """``metadata_kind='variant'`` targets a pre-parsed VariantType
        column ("shred at ingest"): every predicate then skips the repeated
        per-branch JSON parse — the right physical layout at scale. The
        compiled semantics are identical; only ``->>`` of container values
        differs (variant text extraction NULLs objects/arrays instead of
        returning their JSON text, which only affects $regex/$contains on
        non-scalar fields)."""
        self._meta = sql_ident(metadata_col)
        self._types = sql_ident(types_col) if types_col else None
        self._types_kind = types_kind
        self._metadata_kind = metadata_kind
        self._variant = self._meta if metadata_kind == "variant" else f"parse_json({self._meta})"
        self._column_fields = column_fields if column_fields is not None else {"filename": "filename"}

    # ---------------------------------------------------------------- public

    def compile(self, filters: dict[str, Any] | None) -> Column:
        """Return a boolean Column; a None/empty filter matches everything."""
        return F.expr(self.render(filters))

    def render(self, filters: dict[str, Any] | None) -> str:
        """The filter as Spark SQL boolean expression text."""
        if filters is None:
            return "true"
        if not isinstance(filters, dict):
            raise InvalidMetadataFilterError("Metadata filters must be provided as a JSON object.")
        if not filters:
            return "true"
        return self._expr(filters, context="metadata filter")

    # ------------------------------------------------------------ tree walk

    def _expr(self, expression: Any, context: str) -> str:
        if isinstance(expression, dict):
            if not expression:
                raise InvalidMetadataFilterError(f"{context.capitalize()} cannot be empty.")
            clauses: list[str] = []
            for key, value in expression.items():
                if key in ("$and", "$or", "$nor"):
                    if not isinstance(value, list) or not value:
                        raise InvalidMetadataFilterError(f"{key} operator expects a non-empty list of conditions.")
                    clauses.append(_combine(key, [self._expr(item, context=f"{key} condition") for item in value]))
                elif key == "$not":
                    clauses.append(_not(self._expr(value, context='operator "$not"')))
                else:
                    clauses.append(self._field_clause(key, value))
            return sql_and(clauses)

        if isinstance(expression, list):
            if not expression:
                raise InvalidMetadataFilterError(f"{context.capitalize()} cannot be an empty list.")
            return sql_or([self._expr(item, context="nested condition") for item in expression])

        raise InvalidMetadataFilterError(f"{context.capitalize()} must be expressed as a JSON object.")

    def _field_clause(self, field: str, value: Any) -> str:
        if field in self._column_fields:
            return self._column_field_clause(field, value)
        if isinstance(value, dict) and value and not any(k.startswith("$") for k in value):
            return self._containment(field, value)
        if isinstance(value, dict):
            return self._operator_block(field, value)
        if isinstance(value, list):
            return self._any_of(field, value)
        return self._containment(field, value)

    def _operator_block(self, field: str, operators: dict[str, Any]) -> str:
        if not operators:
            raise InvalidMetadataFilterError(f"Operator block for field '{field}' must be a non-empty object.")
        clauses: list[str] = []
        for op, operand in operators.items():
            if op in ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte"):
                cmp = self._typed_comparison(field, op, operand)
                clauses.append(_not(cmp) if op == "$ne" else cmp)
            elif op in ("$in", "$nin"):
                if not isinstance(operand, list):
                    raise InvalidMetadataFilterError(f"{op} operator for field '{field}' expects a list of values.")
                hit = self._any_of(field, operand)
                clauses.append(_not(hit) if op == "$nin" else hit)
            elif op == "$exists":
                clauses.append(self._exists(field, operand))
            elif op == "$not":
                clauses.append(_not(self._field_clause(field, operand)))
            elif op == "$type":
                clauses.append(self._type_check(field, operand))
            elif op == "$regex":
                clauses.append(self._regex(field, operand))
            elif op == "$contains":
                clauses.append(self._contains(field, operand))
            else:
                raise InvalidMetadataFilterError(f"Unsupported metadata filter operator '{op}' for field '{field}'.")
        return sql_and(clauses)

    def _any_of(self, field: str, values: list[Any]) -> str:
        if not isinstance(values, list) or not values:
            raise InvalidMetadataFilterError(f"Filter list for field '{field}' must contain at least one value.")
        clauses = []
        for item in values:
            if isinstance(item, dict) and any(k.startswith("$") for k in item):
                clauses.append(self._operator_block(field, item))
            else:
                clauses.append(self._containment(field, item))
        return sql_or(clauses)

    # --------------------------------------------------------- JSON helpers

    def _text(self, field: str) -> str:
        """Raw text of a top-level field (Postgres ``->>`` analog)."""
        if self._metadata_kind == "variant":
            return f"try_variant_get({self._meta}, {sql_string(_json_key_path(field, variant=True))}, 'string')"
        return f"get_json_object({self._meta}, {sql_string(_json_key_path(field))})"

    def _variant_at(self, path: str, target: str = "variant") -> str:
        return f"try_variant_get({self._variant}, {sql_string(path)}, '{target}')"

    def _typeof(self, v: str) -> str:
        """Canonical runtime type of a variant value (jsonb_typeof analog)."""
        schema = f"schema_of_variant({v})"
        return (
            f"CASE WHEN {schema} IS NULL THEN CAST(NULL AS STRING)"
            f" WHEN {schema} = 'VOID' THEN 'null'"
            f" WHEN {schema} = 'STRING' THEN 'string'"
            f" WHEN {schema} = 'BOOLEAN' THEN 'boolean'"
            f" WHEN startswith({schema}, 'ARRAY') THEN 'array'"
            f" WHEN startswith({schema}, 'OBJECT') THEN 'object'"
            " ELSE 'number' END"  # all numeric variants
        )

    def _declared_type(self, field: str) -> str:
        """Declared type hint for a field, NULL when absent."""
        if not self._types:
            return "CAST(NULL AS STRING)"
        if self._types_kind == "map":
            return f"{self._types}[{sql_string(field)}]"
        return f"get_json_object({self._types}, {sql_string(_json_key_path(field))})"

    def _array_elements(self, field: str) -> str:
        """Field as array<variant>, NULL when the field is not a JSON array."""
        return self._variant_at(_json_key_path(field, variant=True), "array<variant>")

    def _array_member(self, field: str, element_clause: str) -> str:
        """The field is an array with an element matching ``element_clause``."""
        arr = self._array_elements(field)
        return sql_and([f"{arr} IS NOT NULL", _exists(arr, element_clause)])

    # -------------------------------------------------- containment (impl. eq)

    def _containment(self, field: str, value: Any) -> str:
        """Strict JSONB-containment equality + array membership.

        Mirrors `@>` semantics (:352-392): the scalar/object/array pattern
        must be *contained* in the field value; a scalar also matches when
        the field is an array holding it.
        """
        base = self._contained_at(_json_key_path(field, variant=True), value)
        if value is None or isinstance(value, (str, int, float, bool)):
            return sql_or([base, self._array_member(field, self._variant_equals(_ELEMENT, value))])
        return base

    def _contained_at(self, path: str, value: Any) -> str:
        v = self._variant_at(path)
        if isinstance(value, dict):
            is_object = f"({self._typeof(v)}) = 'object'"
            if not value:
                # empty object pattern: matches any object (containment)
                return is_object
            clauses = []
            for k, sub in value.items():
                clauses.append(self._contained_at(path + _key_segment(str(k), variant=True), sub))
            return sql_and([is_object, sql_and(clauses)])
        if isinstance(value, list):
            arr = self._variant_at(path, "array<variant>")
            if not value:
                return f"{arr} IS NOT NULL"
            elem_clauses = []
            for item in value:
                if isinstance(item, (dict, list)):
                    raise InvalidMetadataFilterError(
                        "Nested containers inside array containment patterns are not supported; "
                        "use $contains/$regex or flatten the pattern."
                    )
                elem_clauses.append(_exists(arr, self._variant_equals(_ELEMENT, item)))
            return sql_and([f"{arr} IS NOT NULL", sql_and(elem_clauses)])
        return self._variant_equals(v, value)

    def _variant_equals(self, v: str, value: Any) -> str:
        """Strict typed equality of a variant value against a Python literal.

        The value casts are TRY_CASTs: the type test guards them, but Spark
        may evaluate a cast before its guard (one ``$in`` of two numbers
        failed with INVALID_VARIANT_CAST on a row whose field is a string).
        Where the guard holds the cast cannot fail, so no row changes."""
        t = f"({self._typeof(v)})"
        if value is None:
            return f"{t} = 'null'"
        if isinstance(value, bool):
            return sql_and([f"{t} = 'boolean'", f"TRY_CAST({v} AS BOOLEAN) = {'true' if value else 'false'}"])
        if isinstance(value, (int, float)):
            return sql_and([f"{t} = 'number'", f"TRY_CAST({v} AS DOUBLE) = {sql_double(float(value))}"])
        if isinstance(value, str):
            return sql_and([f"{t} = 'string'", f"CAST({v} AS STRING) = {sql_string(value)}"])
        raise InvalidMetadataFilterError(
            f"Metadata filter contains a non-serializable value: {value!r}. "
            "Use explicit operators like {'$eq': value} for typed comparisons."
        )

    # ------------------------------------------------------ typed comparison

    def _typed_comparison(self, field: str, op: str, operand: Any) -> str:
        """Per-declared-type guarded comparison; branches OR-ed (:233-269)."""
        sym = _COMPARATORS[op]
        text = self._text(field)
        declared = f"({self._declared_type(field)})"
        branches: list[str] = []

        def branch(kind: str, sql_type: str, literal: str) -> str:
            value = f"CASE WHEN {declared} = '{kind}' THEN TRY_CAST({text} AS {sql_type}) END"
            return f"({value}) {sym} {literal}"

        numeric_literal = _numeric_literal(operand)
        if numeric_literal is not None:
            branches.append(branch("number", "DOUBLE", sql_double(float(numeric_literal))))
            branches.append(branch("decimal", _DECIMAL_TYPE, f"CAST('{numeric_literal}' AS {_DECIMAL_TYPE})"))

        dt_literal = _datetime_literal(operand)
        if dt_literal is not None:
            branches.append(branch("datetime", "TIMESTAMP", f"CAST({sql_string(dt_literal)} AS TIMESTAMP)"))

        date_literal = _date_literal(operand)
        if date_literal is not None:
            branches.append(branch("date", "DATE", f"CAST({sql_string(date_literal)} AS DATE)"))

        if op in ("$eq", "$ne") and isinstance(operand, str):
            is_string = f"coalesce({declared}, 'string') = 'string'"
            branches.append(sql_and([is_string, f"({text}) {sym} {sql_string(operand)}"]))

        if not branches:
            raise InvalidMetadataFilterError(
                f"Operator '{op}' for field '{field}' requires a numeric, decimal, "
                "ISO8601 date/datetime, or string value."
            )
        return sql_or(branches)

    # ------------------------------------------------------- other operators

    def _exists(self, field: str, operand: Any) -> str:
        expected = _coerce_exists_flag(operand, field)
        if self._metadata_kind == "variant":
            # explicit null → schema 'VOID' (present); missing → NULL schema
            present = f"schema_of_variant({self._variant_at(_json_key_path(field, variant=True))}) IS NOT NULL"
        else:
            present = f"array_contains(json_object_keys({self._meta}), {sql_string(field)})"
        present = f"coalesce({present}, false)"
        return present if expected else _not(present)

    def _type_check(self, field: str, operand: Any) -> str:
        if isinstance(operand, str):
            names = [operand]
        elif isinstance(operand, list) and operand and all(isinstance(x, str) for x in operand):
            names = operand
        else:
            raise InvalidMetadataFilterError(
                f"$type operator for field '{field}' expects a string or list of strings."
            )
        try:
            canon = [canonical_type(n) for n in names]
        except TypedMetadataError as exc:
            raise InvalidMetadataFilterError(str(exc)) from exc

        if self._types:
            declared = f"coalesce({self._declared_type(field)}, 'string')"
            return sql_or([f"{declared} = {sql_string(t)}" for t in canon])
        # Fallback: runtime type of the JSON value (reference :346-360 maps
        # decimal→number, datetime/date→string under jsonb_typeof).
        runtime_map = {"decimal": "number", "datetime": "string", "date": "string"}
        runtime = f"({self._typeof(self._variant_at(_json_key_path(field, variant=True)))})"
        return sql_or([f"{runtime} = {sql_string(runtime_map.get(t, t))}" for t in canon])

    def _string_elements(self, field: str, match) -> str:
        """``match(text)`` on the field's text OR on any string element when
        the field is an array."""
        element = sql_and([f"schema_of_variant({_ELEMENT}) = 'STRING'", match(f"CAST({_ELEMENT} AS STRING)")])
        return sql_or([match(self._text(field)), self._array_member(field, element)])

    def _regex(self, field: str, operand: Any) -> str:
        pattern, case_insensitive = _regex_operand(operand, field)
        jpattern = sql_string(f"(?i){pattern}" if case_insensitive else pattern)
        return self._string_elements(field, lambda text: f"({text}) RLIKE {jpattern}")

    def _contains(self, field: str, operand: Any) -> str:
        value, case_sensitive = _contains_operand(operand, field)
        return self._string_elements(field, lambda text: _contains_sql(text, value, case_sensitive))

    # ---------------------------------------------------------- column fields

    def _column_field_clause(self, field: str, value: Any) -> str:
        column = self._column_fields[field]
        builder = TextColumnFilterCompiler(column)
        if isinstance(value, dict):
            if not value:
                raise InvalidMetadataFilterError(f"{field} filter cannot be empty.")
            if any(k.startswith("$") for k in value):
                return builder.render(value)
            raise InvalidMetadataFilterError(
                f"{field} filter must use operators (e.g., {{'{field}': {{'$eq': 'example.pdf'}}}})."
            )
        if isinstance(value, list):
            return builder.in_clause(value, negate=False)
        return builder.comparison("$eq", value)


class TextColumnFilterCompiler:
    """Operator filters over a single plain text column (e.g. ``filename``).

    Mirrors the reference's TextColumnFilterBuilder (:612-856): NULL-aware
    $eq/$ne (IS DISTINCT FROM), $in/$nin with explicit NULL entries, $exists,
    $regex, $contains, plus the boolean combinators.
    """

    def __init__(self, column: str) -> None:
        self._col = sql_ident(column)

    def compile(self, filters: dict[str, Any] | None) -> Column:
        return F.expr(self.render(filters))

    def render(self, filters: dict[str, Any] | None) -> str:
        """The filter as Spark SQL boolean expression text."""
        if filters is None or (isinstance(filters, dict) and not filters):
            return "true"
        if not isinstance(filters, dict):
            raise InvalidMetadataFilterError("Filename filters must be provided as a JSON object.")
        return self._expr(filters, context="filename filter")

    def _expr(self, expression: Any, context: str) -> str:
        if isinstance(expression, dict):
            if not expression:
                raise InvalidMetadataFilterError(f"{context.capitalize()} cannot be empty.")
            clauses: list[str] = []
            for key, value in expression.items():
                if key in ("$and", "$or", "$nor"):
                    if not isinstance(value, list) or not value:
                        raise InvalidMetadataFilterError(f"{key} operator expects a non-empty list of conditions.")
                    clauses.append(_combine(key, [self._expr(item, context=f"{key} condition") for item in value]))
                elif key == "$not":
                    clauses.append(_not(self._expr(value, context='operator "$not"')))
                else:
                    clauses.append(self._operator(key, value))
            return sql_and(clauses)
        if isinstance(expression, list):
            if not expression:
                raise InvalidMetadataFilterError(f"{context.capitalize()} cannot be an empty list.")
            return sql_or([self._expr(item, context="nested condition") for item in expression])
        raise InvalidMetadataFilterError(f"{context.capitalize()} must be expressed as a JSON object.")

    def _operator(self, op: str, operand: Any) -> str:
        if op in ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte"):
            return self.comparison(op, operand)
        if op == "$in":
            return self.in_clause(operand, negate=False)
        if op == "$nin":
            return self.in_clause(operand, negate=True)
        if op == "$exists":
            expected = _coerce_exists_flag(operand, "filename")
            return f"{self._col} IS NOT NULL" if expected else f"{self._col} IS NULL"
        if op == "$regex":
            pattern, ci = _regex_operand(operand, "filename")
            return f"{self._col} RLIKE {sql_string(f'(?i){pattern}' if ci else pattern)}"
        if op == "$contains":
            value, case_sensitive = _contains_operand(operand, "filename")
            return _contains_sql(self._col, value, case_sensitive)
        raise InvalidMetadataFilterError(f"Unsupported filename filter operator '{op}'.")

    def comparison(self, op: str, operand: Any) -> str:
        if op == "$eq":
            if operand is None:
                return f"{self._col} IS NULL"
            if not isinstance(operand, str):
                raise InvalidMetadataFilterError("Filename $eq operator expects a string value.")
            return f"{self._col} = {sql_string(operand)}"
        if op == "$ne":
            if operand is None:
                return f"{self._col} IS NOT NULL"
            if not isinstance(operand, str):
                raise InvalidMetadataFilterError("Filename $ne operator expects a string value.")
            return _not(f"{self._col} <=> {sql_string(operand)}")  # IS DISTINCT FROM
        if operand is None or not isinstance(operand, str):
            raise InvalidMetadataFilterError(f"Filename {op} operator expects a string value.")
        return f"{self._col} {_COMPARATORS[op]} {sql_string(operand)}"

    def in_clause(self, operand: Any, negate: bool) -> str:
        if not isinstance(operand, list) or not operand:
            raise InvalidMetadataFilterError("Filename $in/$nin operator expects a non-empty list of values.")
        has_null = any(item is None for item in operand)
        values = [item for item in operand if item is not None]
        if not all(isinstance(v, str) for v in values):
            raise InvalidMetadataFilterError("Filename $in/$nin operator expects string values.")

        isin = f"{self._col} IN ({', '.join(sql_string(v) for v in values)})"
        if not negate:
            clauses = []
            if values:
                clauses.append(isin)
            if has_null:
                clauses.append(f"{self._col} IS NULL")
            return sql_or(clauses)
        if has_null:
            if values:
                return sql_and([f"{self._col} IS NOT NULL", _not(isin)])
            return f"{self._col} IS NOT NULL"
        return sql_or([f"{self._col} IS NULL", _not(isin)])


# ------------------------------------------------------------- module-level

# ``$ne`` renders as ``=``; the caller wraps it in NOT
_COMPARATORS: dict[str, str] = {"$eq": "=", "$ne": "=", "$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}


def _contains_sql(text: str, value: str, case_sensitive: bool) -> str:
    if case_sensitive:
        return f"contains({text}, {sql_string(value)})"
    return f"contains(lower({text}), {sql_string(value.lower())})"


def _numeric_literal(operand: Any) -> str | None:
    """Normalized numeric text, or None when the operand is not numeric."""
    if isinstance(operand, bool) or operand is None:
        return None
    if isinstance(operand, (int, float, Decimal)):
        text = str(operand)
    elif isinstance(operand, str):
        text = operand.strip()
        if not text:
            return None
    else:
        return None
    try:
        value = Decimal(text)
    except (InvalidOperation, ValueError):
        return None
    normalized = format(value.normalize(), "f")
    if "." in normalized:
        normalized = normalized.rstrip("0").rstrip(".")
    return normalized or "0"


def _datetime_literal(operand: Any) -> str | None:
    """ISO datetime text for a datetime-compatible operand, else None."""
    if isinstance(operand, datetime):
        return operand.isoformat()
    if isinstance(operand, date):
        return datetime(operand.year, operand.month, operand.day).isoformat()
    if isinstance(operand, str):
        text = operand.strip()
        if not text:
            return None
        if text.endswith("Z"):
            text = text[:-1] + "+00:00"
        try:
            return datetime.fromisoformat(text).isoformat()
        except ValueError:
            return None
    return None


def _date_literal(operand: Any) -> str | None:
    """ISO date text for a date-compatible operand, else None."""
    if isinstance(operand, datetime):
        return operand.date().isoformat()
    if isinstance(operand, date):
        return operand.isoformat()
    if isinstance(operand, str):
        text = operand.strip()
        if not text:
            return None
        try:
            return date.fromisoformat(text.split("T", 1)[0]).isoformat()
        except ValueError:
            return None
    return None


def _coerce_exists_flag(operand: Any, field: str) -> bool:
    if isinstance(operand, bool):
        return operand
    if isinstance(operand, str):
        return operand.lower() in {"1", "true", "yes"}
    if isinstance(operand, (int, float)):
        return bool(operand)
    raise InvalidMetadataFilterError(f"$exists operator for field '{field}' expects a boolean value.")


def _regex_operand(operand: Any, field: str) -> tuple[str, bool]:
    if isinstance(operand, str):
        return operand, False
    if isinstance(operand, dict):
        pattern = operand.get("pattern")
        if not isinstance(pattern, str) or not pattern:
            raise InvalidMetadataFilterError(f"$regex operator for field '{field}' expects a non-empty pattern.")
        flags = operand.get("flags", "")
        if not isinstance(flags, str):
            raise InvalidMetadataFilterError(f"$regex operator for field '{field}' expects flags to be a string.")
        bad = {f for f in flags if f not in {"", "i"}}
        if bad:
            raise InvalidMetadataFilterError(
                f"$regex operator for field '{field}' does not support flags: {', '.join(sorted(bad))}."
            )
        return pattern, "i" in flags
    raise InvalidMetadataFilterError(f"$regex operator for field '{field}' expects a string or object with 'pattern'.")


def _contains_operand(operand: Any, field: str) -> tuple[str, bool]:
    if isinstance(operand, str):
        return operand, False
    if isinstance(operand, dict):
        value = operand.get("value")
        if not isinstance(value, str) or not value:
            raise InvalidMetadataFilterError(f"$contains operator for field '{field}' expects a non-empty string value.")
        case_sensitive = operand.get("case_sensitive", False)
        if not isinstance(case_sensitive, bool):
            raise InvalidMetadataFilterError(
                f"$contains operator for field '{field}' expects 'case_sensitive' to be a boolean."
            )
        return value, case_sensitive
    raise InvalidMetadataFilterError(f"$contains operator for field '{field}' expects a string or object with 'value'.")
