"""Named filtered aliases — the IndexAliasesService analog.

Reference: index/aliases/IndexAliasesService.java — an alias stores a
filter with the index metadata, and every search THROUGH the alias has
that filter applied implicitly (the saved-view / tenant-scoping pattern).

Spark shape: the alias table is a tiny ``aliases.json`` in the index
directory (name → SQL predicate string over the doc-table columns), the
metadata analog of the cluster-state alias map. Predicates are stored as
SQL source (inspectable, engine-versionable) and compiled with ``F.expr``
at query time, entering the executor as ordinary filter context — so an
alias query inherits the same per-segment id-set plan as an inline filter
(query/executor.py _local_filter_sets / _filter_sets), no extra scan or job.

Usage:
    put_alias(idx_dir, "en_docs", "lang = 'en'")
    search_topk(reader, "table scan", alias="en_docs")
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

from elasticsearch_spark.index import fsio

_ALIASES_FILE = "aliases.json"


def _read_aliases(index_dir: str) -> dict[str, str]:
    path = fsio.join(index_dir, _ALIASES_FILE)
    if not fsio.exists(path):
        return {}
    return json.loads(fsio.read_bytes(path).decode("utf-8"))


def put_alias(index_dir: str, name: str, predicate_sql: str) -> None:
    """Create or replace alias ``name`` → ``predicate_sql`` (a SQL boolean
    expression over doc-table columns). Read-modify-write of the (tiny)
    alias map, like a cluster-state metadata update."""
    aliases = _read_aliases(index_dir)
    # predicates are parsed when the alias is USED (F.expr defers analysis
    # to plan time) — an unparsable predicate fails the first search
    # through the alias with Spark's parser error naming the expression
    aliases[name] = predicate_sql
    fsio.write_bytes(
        fsio.join(index_dir, _ALIASES_FILE),
        json.dumps(aliases, indent=1, sort_keys=True).encode("utf-8"),
    )


def delete_alias(index_dir: str, name: str) -> None:
    aliases = _read_aliases(index_dir)
    aliases.pop(name, None)
    fsio.write_bytes(
        fsio.join(index_dir, _ALIASES_FILE),
        json.dumps(aliases, indent=1, sort_keys=True).encode("utf-8"),
    )


def list_aliases(index_dir: str) -> dict[str, str]:
    """name → predicate SQL for every alias on the index."""
    return dict(_read_aliases(index_dir))


def alias_filter(
    reader, name: str, extra_cond: Column | None = None
) -> Column:
    """The alias's stored predicate as a Column, AND-combined with any
    request-level filter (IndexAliasesService.aliasFilter semantics: the
    alias filter and the query's own filter both apply)."""
    aliases = _read_aliases(reader.index_dir)
    if name not in aliases:
        raise KeyError(
            f"unknown alias {name!r}; defined: {sorted(aliases)}"
        )
    cond = F.expr(aliases[name])
    if extra_cond is not None:
        cond = cond & extra_cond
    return cond
