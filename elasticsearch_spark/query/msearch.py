"""Multi-search: a batch of match queries as ONE plan.

Reference: action/search/MultiSearchRequest.java + TransportMultiSearchAction
— the _msearch API ships N search bodies in one round trip; each executes
with its own operator/minimum_should_match/filter and returns its own top-k.

This module only analyzes the batch: every body becomes one match-kernel
entry of a single plan, and the batch runs the same plan → per-segment
kernel → gather → fetch → materialize flow as a single search
(query/executor.py), on the same runner rule: by default ("auto") a batch
whose summed postings estimate fits the local-runner limit is answered on
the driver with no Spark job, else (and with mode="spark") in ONE
distributed job. Batching pays structurally, not just in RPC:

- ONE postings scan, term-pruned to the UNION of all queries' terms
  (`PushedFilters: In(term, ...)`): a hot term shared by many queries is
  read and decoded once per segment, not once per query.
- the segment view memoises each term's BM25-normalized tf array (`tfn`
  depends only on tf/doc-len, not on the query), so adding a query costs
  one scatter-add per term, not a decode.
- filter contexts are deduplicated: queries reference distinct filter
  predicates by filter_id; the local runner builds all their id sets from
  one Catalyst optimization and one doc-table read, the Spark runner runs
  one `_filter_sets` pass per filter, unioned into the aux side of the
  cogroup.
- one gather with a per-query tie-aware cut, one batched fetch phase.

At cluster scale this turns "54 queries x (scheduler constant + scan)"
into "1 x scheduler constant + 1 scan", which is also why the query
throughput of the batched path scales with executors while sequential
per-query latency is pinned at the scheduling floor.
"""

from __future__ import annotations

from typing import Any, Iterable, Mapping

from pyspark.sql import DataFrame

from elasticsearch_spark.analysis.analyzers import tokenize_text
from elasticsearch_spark.index.reader import IndexReader
from elasticsearch_spark.query.executor import (
    _execute,
    _match_kernel,
    _match_weights,
    _Query,
)


def msearch_topk(
    reader: IndexReader,
    queries: Iterable[Mapping[str, Any]],
    k: int = 10,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """Execute a batch of match queries as one plan.

    Each query mapping supports: ``query_text`` (required), ``operator``
    ("or"/"and"), ``minimum_should_match``, ``filter_cond`` (a Column or
    None), ``alias`` (a named filtered alias — index/aliases.py — whose
    stored predicate joins the query's filter context), ``k`` (per-query
    override of the batch default).

    Returns (query_id, *key_cols, *extra_cols, score) with ``query_id``
    the 0-based position in ``queries``; per query <= k rows ordered
    (score DESC, keys ASC). Queries with no matching term produce no
    rows (the reference returns an empty hits block).

    ``mode``: the runner rule of every top-k entry point (executor
    search_topk): "auto" answers the batch on the driver when its summed
    postings estimate fits the local-runner limit, "spark" always runs the
    one distributed job.
    """
    return _execute(
        reader, _msearch_queries(reader, queries, k), extra_cols, mode=mode,
        query_id=True,
    )


def _msearch_queries(reader: IndexReader, queries, k: int) -> list[_Query]:
    """Analyze the batch over ONE term-stats lookup: one match-kernel entry
    per query with at least one indexed term (AND queries need all)."""
    specs = list(queries)
    toks_by_q = [tokenize_text(q["query_text"], reader.cfg.analyzer) for q in specs]
    stats = reader.query_term_stats(
        list(dict.fromkeys(t for toks in toks_by_q for t in toks))
    )
    out = []
    for qi, (q, toks) in enumerate(zip(specs, toks_by_q)):
        clause = _match_weights(
            reader.n_docs, toks, stats, q.get("operator", "or"),
            int(q.get("minimum_should_match", 1)),
        )
        if clause is None:
            continue
        weights, need = clause
        fc = q.get("filter_cond")
        if q.get("alias") is not None:
            # search-through-alias: the stored predicate joins this query's
            # filter context (two queries over the same alias share one
            # filter-set pass)
            from elasticsearch_spark.index.aliases import alias_filter

            fc = alias_filter(reader, q["alias"], fc)
        out.append(_Query(
            _match_kernel(weights, need), int(q.get("k", k)), list(weights),
            est=sum(stats[t][0] for t in weights), filter_cond=fc, query_id=qi,
        ))
    return out
