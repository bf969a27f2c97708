"""Access / system / status scope predicates.

Every retrieval and listing query in the reference AND-s three predicate
layers in front of the user's metadata filter
(/root/reference/core/database/postgres_database.py:1115-1313):

1. access filter      — ``app_id = x`` (cloud) else ``owner_id = user``
2. system filters     — folder/user scoping incl. path-prefix + depth
3. status filter      — ``status IN (...)``; retrieval pins 'completed'

All render to Spark SQL text over flattened columns (``access_sql``,
``system_sql``, ``status_sql``, with the literal rules of the filter DSL,
``plans/literal.py``); each ``*_predicate`` is that text as one
``F.expr`` Column, and ``retrieval.authorized_documents`` joins the three
texts into one predicate. At 100 TB these are the partition-pruning
columns (tables should be written partitioned by ``app_id`` and
bucketed/sorted by ``folder_path``), so keeping them out of JSON and in
real columns is what makes the scan prune.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from morphik_core_spark.plans.literal import sql_and, sql_ident, sql_literal, sql_or, sql_string

__all__ = [
    "AuthContext",
    "access_predicate",
    "access_sql",
    "system_predicate",
    "system_sql",
    "status_predicate",
    "status_sql",
    "build_folder_scope",
]

# system-filter key → flattened column (reference postgres_database.py:1223+)
_SYSTEM_COLUMNS = {
    "folder_name": "folder_name",
    "folder_path": "folder_path",
    "folder_id": "folder_id",
    "end_user_id": "end_user_id",
    "app_id": "app_id",
}

# columns where legacy rows stored '' instead of NULL
_EMPTY_AS_NULL = frozenset({"folder_name", "folder_path", "end_user_id"})

_FOLDER_PATH = sql_ident("folder_path")


@dataclass(frozen=True)
class AuthContext:
    """Caller identity; mirrors the reference's AuthContext fields we scope by."""

    user_id: str | None = None
    app_id: str | None = None


def access_sql(auth: AuthContext) -> str:
    """``app_id`` match in cloud mode, else ``owner_id`` match (:1199-1218)."""
    if auth.app_id:
        return f"`app_id` = {sql_literal(auth.app_id)}"
    return f"`owner_id` = {sql_literal(auth.user_id)}"


def access_predicate(auth: AuthContext) -> Column:
    return F.expr(access_sql(auth))


def _value_clause(column: str, value: Any) -> str:
    col = sql_ident(column)
    if value is None:
        if column in _EMPTY_AS_NULL:
            return f"({col} IS NULL) OR ({col} = '')"
        return f"{col} IS NULL"
    return f"{col} = {sql_literal(value)}"


def system_sql(system_filters: dict[str, Any] | None) -> str:
    """Render folder/user scoping filters (:1223-1313).

    Keys: the flattened columns, plus
    - ``folder_path_prefix``: exact path OR any descendant (``p`` or ``p/...``)
    - ``folder_path_prefix_depth``: list of {prefix, max_depth} — prefix match
      AND path depth (segment count) ≤ max_depth
    Values may be scalars or lists (OR-ed). Keys AND together.
    """
    if not system_filters:
        return "true"

    key_clauses: list[str] = []
    for key, value in system_filters.items():
        if key == "folder_path_prefix":
            values = value if isinstance(value, list) else [value]
            if not values:
                continue
            alts = []
            for item in values:
                if item is None:
                    alts.append(f"({_FOLDER_PATH} IS NULL) OR ({_FOLDER_PATH} = '')")
                else:
                    alts.append(_prefix_clause(str(item)))
            key_clauses.append(sql_or(alts))
        elif key == "folder_path_prefix_depth":
            entries = value if isinstance(value, list) else [value]
            alts = []
            for entry in entries:
                if not isinstance(entry, dict) or entry.get("prefix") is None:
                    continue
                clause = _prefix_clause(str(entry["prefix"]))
                max_depth = entry.get("max_depth")
                if max_depth is not None:
                    depth = f"size(split(trim(BOTH '/' FROM {_FOLDER_PATH}), '/'))"
                    clause = f"({clause}) AND ({depth} <= {int(max_depth)})"
                alts.append(clause)
            if alts:
                key_clauses.append(sql_or(alts))
        elif key in _SYSTEM_COLUMNS:
            values = value if isinstance(value, list) else [value]
            if not values:
                continue
            key_clauses.append(sql_or([_value_clause(_SYSTEM_COLUMNS[key], v) for v in values]))
        # unknown keys are ignored, like the reference

    if not key_clauses:
        return "true"
    return sql_and(key_clauses)


def system_predicate(system_filters: dict[str, Any] | None) -> Column:
    return F.expr(system_sql(system_filters))


def _prefix_clause(prefix: str) -> str:
    child = sql_string(prefix.rstrip("/") + "/")
    return f"({_FOLDER_PATH} = {sql_string(prefix)}) OR startswith({_FOLDER_PATH}, {child})"


def status_sql(statuses: list[str | None] | None, status_col: str = "status") -> str:
    """``status IN (...)`` with NULL-aware entries (:1146-1158)."""
    if not statuses:
        return "true"
    col = sql_ident(status_col)
    return sql_or([f"{col} IS NULL" if s is None else f"{col} = {sql_string(str(s))}" for s in statuses])


def status_predicate(statuses: list[str | None] | None, status_col: str = "status") -> Column:
    return F.expr(status_sql(statuses, status_col))


def build_folder_scope(
    folder_name: str | list[str] | None = None,
    folder_path: str | None = None,
    folder_depth: int = 0,
    end_user_id: str | None = None,
    app_id: str | None = None,
) -> dict[str, Any]:
    """Construct system_filters from request-level scope parameters.

    folder_depth semantics (reference document_service.py:80-135):
    0 → exact path; -1 → all descendants; n>0 → descendants down to ≤ n
    extra levels below the prefix.
    """
    out: dict[str, Any] = {}
    if folder_path is not None:
        if folder_depth == 0:
            out["folder_path"] = folder_path
        elif folder_depth < 0:
            out["folder_path_prefix"] = folder_path
        else:
            base_depth = len([s for s in folder_path.strip("/").split("/") if s])
            out["folder_path_prefix_depth"] = [{"prefix": folder_path, "max_depth": base_depth + folder_depth}]
    elif folder_name is not None:
        out["folder_name"] = folder_name
    if end_user_id is not None:
        out["end_user_id"] = end_user_id
    if app_id is not None:
        out["app_id"] = app_id
    return out
