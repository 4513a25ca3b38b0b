"""BM25 top-k execution over the segmented inverted index.

Every indexed query — match, terms, phrase, phrase_prefix, query_string,
common_terms, the span family (query/spans.py) and a whole _msearch batch
(query/msearch.py) — runs ONE flow, the Spark shape of the reference's
QUERY_THEN_FETCH with DFS statistics (SURVEY.md §3.1):

  plan        = (query_id, kernel, k, filter_id) entries over one
                term-pruned postings scan (the union of the queries' terms)
                and the distinct filter contexts (_plan);
  kernel      = per segment, one _SegmentView (norms, BM25 constants, live
                and filter masks, memoised term decodes) is built and every
                entry's kernel maps it to (local ids, scores); the shared
                driver applies the masks and the tie-aware per-query cut —
                the per-shard priority queue (search/query/QueryPhase.java:
                107-155). Two runners call that same per-segment function:
                driver-local pyarrow reads (_local_search) or a Spark
                cogroup of postings with norms + deletes + filter sets
                (_spark_candidates);
  gather      = per-query tie-aware cut of the candidates — the
                TopDocs.merge analog with deterministic tie order
                (search/controller/SearchPhaseController.java:144-234);
                past _GATHER_MAX_ROWS a rank() window cuts in Spark first;
  fetch       = the winners' stored fields, read driver-side through the
                cached pyarrow docs dataset, or one broadcast join for large
                or non-driver-readable fetches
                (search/fetch/FetchPhase.java:103-157);
  materialize = (score DESC, key ASC) order, <= k rows per query, held on
                the driver as one Arrow table (query_id kept for msearch
                only) inside a DataFrame (HeldResult): collect, toPandas and
                count answer from it, and the JVM plan is built only on
                demand, by a use that needs it.

Scale notes: postings are pruned by ``term IN (...)`` predicate pushdown
(row-group stats; postings files are term-sorted), per-segment norm arrays
travel as one packed row each, and only <= k(+ties) rows per (segment,
query) reach the gather. Filters enter the kernels as per-segment doc-id
sets. The Spark runner evaluates them by Catalyst on the doc table
(columnar, predicate pushdown) and ships the SMALLER filter polarity
(allow- or deny-list, see _filter_sets) — never more than half a segment's
ids. The local runner optimizes all of a plan's filters in one Catalyst
pass (no job) and evaluates each with pyarrow over one read of the doc
table (_local_filter_sets); a filter holding any node outside a closed set
(and/or/not, comparisons, IN, IS [NOT] NULL, columns and non-null literals
of string, integral, boolean, date and timestamp types) falls back, alone,
to the _filter_sets job.
"""

from __future__ import annotations

import functools
import json
import operator as _op
from typing import Callable, Iterable, NamedTuple, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType, ByteType, DateType, DoubleType, FloatType, IntegerType,
    LongType, ShortType, StringType, StructField, StructType, TimestampNTZType,
    TimestampType,
)

from elasticsearch_spark.analysis.analyzers import tokenize_text
from elasticsearch_spark.index import fsio
from elasticsearch_spark.index.codec import delta_decode, unpack_u32
from elasticsearch_spark.functions.smallfloat import effective_doc_length
from elasticsearch_spark.index.reader import IndexReader


# fetch-phase routing bounds (see _fetch): above either, the distributed
# broadcast-join fetch replaces the driver-side pyarrow read
_DRIVER_FETCH_MAX_ROWS = 5000
_DRIVER_FETCH_MAX_SEGS = 64
# gather budget: past segments x Σk candidate rows, cut every query to its
# global top-k(+ties) IN Spark before collecting (see _gather)
_GATHER_MAX_ROWS = 200_000
# below this corpus size the filter-context polarity optimization is pure
# scheduling overhead (see _filter_sets)
_FILTER_TWO_PASS_MIN_DOCS = 200_000
# "auto" runs a query on the driver-local runner when the plan's Σ df/ttf
# postings estimate is at most this (see _execute)
_LOCAL_POSTINGS_LIMIT = 2_000_000
# position keys are doc << _SHIFT | position (max 4M positions per doc)
_SHIFT = 22

# postings columns the match scorer touches (positions pruned away)
_MATCH_COLUMNS = [
    "term", "block_id", "n_docs", "first_doc", "last_doc", "max_tf",
    "min_dl_eff", "docs_packed", "tfs_packed",
]
_PHRASE_COLUMNS = _MATCH_COLUMNS + ["pos_packed"]


def lucene_idf(n_docs: int, df: int) -> float:
    """ln(1 + (N - df + 0.5)/(df + 0.5)) — Lucene 5 BM25 idf."""
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _filter_sets(reader: IndexReader, filter_cond: Column) -> DataFrame:
    """Per-segment filter-context doc-id sets, smaller polarity chosen.

    The filter-bitset analog (index/cache/filter/). Returns one row per
    segment with >= 1 passing doc: (segment_id, f_mode, f_ids) where
    f_mode='allow' lists the passing local ids and f_mode='deny' the failing
    ones — whichever side is smaller. A low-selectivity filter (e.g. half
    the corpus) therefore never ships more than min(|pass|, |fail|) ids per
    segment, instead of materializing every passing id. Scores are
    filter-independent (ES filter context), so this is exact, not a
    post-filter approximation. Two narrow columnar scans: a count pass over
    the filter columns, then the id collection of the chosen side.
    """
    docs = reader.docs()
    passes = F.coalesce(filter_cond, F.lit(False))  # null == fails, like WHERE
    if reader.n_docs <= _FILTER_TWO_PASS_MIN_DOCS:
        # small corpus: the two-pass polarity choice saves at most a few
        # hundred KB but costs an extra narrow job of fixed scheduling
        # latency — ship the plain allow-list in one pass instead
        return (
            docs.where(passes)
            .groupBy("segment_id")
            .agg(F.sort_array(F.collect_list("local_doc_id")).alias("f_ids"))
            .select("segment_id", F.lit("allow").alias("f_mode"), "f_ids")
        )
    counts = (
        docs.groupBy("segment_id")
        .agg(
            F.sum(F.when(passes, 1).otherwise(0)).alias("n_pass"),
            F.count(F.lit(1)).alias("n_all"),
        )
        .where(F.col("n_pass") > 0)  # no passing doc → segment excluded
        .withColumn(
            "f_mode",
            F.when(F.col("n_pass") * 2 <= F.col("n_all"), F.lit("allow"))
            .otherwise(F.lit("deny")),
        )
    )
    sets = (
        docs.join(F.broadcast(counts.select("segment_id", "f_mode")), "segment_id")
        .where(F.when(F.col("f_mode") == "allow", passes).otherwise(~passes))
        .groupBy("segment_id", "f_mode")
        .agg(F.sort_array(F.collect_list("local_doc_id")).alias("f_ids"))
    )
    # deny-mode segments where EVERY doc passes have no collected row: keep
    # them with an empty deny list (mask nothing)
    return counts.join(sets, ["segment_id", "f_mode"], "left").select(
        "segment_id",
        "f_mode",
        F.coalesce("f_ids", F.array().cast("array<int>")).alias("f_ids"),
    )


# Catalyst nodes the local runner evaluates with pyarrow (see _arrow_filter).
# Arrow's & and | are Kleene, like Spark's And/Or.
_ARROW_OPS = {
    "And": _op.and_, "Or": _op.or_, "Not": _op.inv,
    "EqualTo": _op.eq, "LessThan": _op.lt, "LessThanOrEqual": _op.le,
    "GreaterThan": _op.gt, "GreaterThanOrEqual": _op.ge,
    "IsNull": lambda e: e.is_null(), "IsNotNull": lambda e: e.is_valid(),
    "Coalesce": pc.coalesce,
}
# Catalyst type -> pyarrow type of the literals and columns _arrow_filter
# accepts. No float/double: Spark orders NaN above every value and has
# NaN = NaN, Arrow does not. No collated strings: Arrow compares bytes.
_ARROW_TYPES = {
    "string": pa.string(), "byte": pa.int8(), "short": pa.int16(),
    "integer": pa.int32(), "long": pa.int64(), "boolean": pa.bool_(),
    "date": pa.date32(), "timestamp": pa.timestamp("us", tz="UTC"),
    "timestamp_ntz": pa.timestamp("us"),
}


class _Untranslatable(Exception):
    """A filter node outside _ARROW_OPS / _ARROW_TYPES."""


def _arrow_filter(jexpr, names: list[str]):
    """One optimized Catalyst predicate as (pyarrow expression, doc-table
    columns it reads), or None when any node is outside the translated set
    (a leftover Cast, a UDF, rlike, a float comparison, a collation, a null
    literal, ...). ``names``: the doc table's columns.

    The node list is the expression's pre-order ``toJSON()`` (one py4j call);
    only date/timestamp literals and InSet values, whose JSON is a formatted
    string or absent, are read back from the JVM node at the same pre-order
    number (``TreeNode.apply``)."""
    nodes = json.loads(jexpr.toJSON())
    if nodes[0].get("dataType", "boolean") != "boolean":
        return None  # not a predicate: _filter_sets raises Spark's error
    cols: dict[str, None] = {}

    def scalar(dtype, value):
        if dtype not in _ARROW_TYPES or value is None:
            raise _Untranslatable
        if dtype == "boolean":
            value = value == "true"
        elif dtype != "string":
            value = int(value)
        return pa.scalar(value, _ARROW_TYPES[dtype])

    def literal(i):
        node = nodes[i]
        value = node["value"]
        if node["dataType"] in ("date", "timestamp"):
            value = jexpr.apply(i).value()  # days / micros since the epoch
        return scalar(node["dataType"], value)

    def build(i):
        node = nodes[i]
        kind = node["class"].rsplit(".", 1)[-1]
        kids, starts, j = [], [], i + 1
        for _ in range(node["num-children"]):
            starts.append(j)
            kid, j = build(j)
            kids.append(kid)
        if kind in _ARROW_OPS:
            return _ARROW_OPS[kind](*kids), j
        if kind == "AttributeReference":
            name = node["name"]
            if name not in names:  # resolved case-insensitively
                name = {n.lower(): n for n in names}.get(name.lower())
            if name is None or node["dataType"] not in _ARROW_TYPES:
                raise _Untranslatable
            cols[name] = None
            return pc.field(name), j
        if kind == "Literal":
            return pc.scalar(literal(i)), j
        if kind == "In" and all(
            nodes[s]["class"].endswith(".Literal") for s in starts[1:]
        ):
            values = [literal(s) for s in starts[1:]]
        elif kind == "InSet" and nodes[i + 1]["class"].endswith(".AttributeReference"):
            hset = jexpr.apply(i).hset()
            raw = hset.mkString("\0").split("\0")
            if len(raw) != hset.size() or jexpr.apply(i).hasNull():
                raise _Untranslatable
            values = [scalar(nodes[i + 1]["dataType"], v) for v in raw]
        else:
            raise _Untranslatable
        # SQL IN is null on a null input; Arrow's is_in is false there
        x = kids[0]
        return pc.if_else(
            x.is_null(), pa.scalar(None, pa.bool_()), x.isin(pa.array(values))
        ), j

    try:
        return build(0)[0], list(cols)
    except _Untranslatable:
        return None


def _local_filter_sets(reader: IndexReader, filters: list[Column],
                       segments) -> list[dict]:
    """The local runner's filter sets: per filter, {segment_id: ("allow",
    sorted local ids)} over ``segments``, the shape _filter_sets collects.

    ONE Catalyst optimization of all filters as a projection of the doc
    table — no job — resolves column names, folds and unwraps casts and
    applies the session time zone; every predicate _arrow_filter translates
    is then evaluated by pyarrow over ONE read of the doc table (segment_id,
    local_doc_id and the referenced columns, pruned to ``segments``). Null
    semantics agree: WHERE and Arrow's filter both drop null, and both
    and/or are Kleene. A filter with any untranslated node falls back to
    _filter_sets alone (one Spark job)."""
    if not filters:
        return []
    import pyarrow.dataset as ds

    dset = reader.local_dataset("docs")
    proj = (
        reader.docs()
        .select(*[fc.alias(f"__f{i}") for i, fc in enumerate(filters)])
        ._jdf.queryExecution().optimizedPlan().projectList()
    )
    arrow = [_arrow_filter(proj.apply(i).child(), dset.schema.names)
             for i in range(len(filters))]
    if any(a is not None for a in arrow):
        read = [c for a in arrow if a is not None for c in a[1]]
        tbl = dset.to_table(
            filter=ds.field("segment_id").isin(list(segments)),
            columns=list(dict.fromkeys(["segment_id", "local_doc_id", *read])),
        )
    out = []
    for fc, a in zip(filters, arrow):
        if a is None:
            out.append({r["segment_id"]: (r["f_mode"], r["f_ids"])
                        for r in _filter_sets(reader, fc).collect()})
            continue
        hit = tbl.filter(a[0]).select(["segment_id", "local_doc_id"]).to_pandas()
        out.append({str(seg): ("allow", np.sort(ids.to_numpy()))
                    for seg, ids in hit.groupby("segment_id")["local_doc_id"]})
    return out


# -- entry points -------------------------------------------------------------


def search_topk(
    reader: IndexReader,
    query_text: str,
    k: int = 10,
    operator: str = "or",
    minimum_should_match: int = 1,
    filter_cond: Column | None = None,
    use_pruning: bool = True,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    alias: str | None = None,
) -> DataFrame:
    """match-query top-k: analyze text → BM25 union/intersection → top-k.

    Reference semantics: index/search/MatchQuery.java:167-230 (OR default,
    minimum_should_match, AND operator); BM25 with global DFS stats; filters
    are non-scoring (filter context). Returns ≤ k rows
    (key_cols..., extra_cols..., score) in (score DESC, key ASC) order.

    ``alias``: search through a named filtered alias — the alias's stored
    predicate (index/aliases.py, IndexAliasesService.java analog) is
    AND-combined with ``filter_cond`` and applied as ordinary non-scoring
    filter context.

    ``mode``: "spark" always scatters the scoring over executors (the
    distributed path — required at cluster scale); "local" scores on the
    driver with the same numpy kernel over pyarrow-pruned postings reads
    (the single-node reference engine answers queries without any job
    scheduling — this path matches that latency class); "auto" picks
    "local" when the query's total matched postings (Σ df from the DFS
    stats) fit under ``_LOCAL_POSTINGS_LIMIT`` and the index is
    driver-readable, else "spark". Both paths share the scorer and are
    asserted identical in tests.
    """
    if alias is not None:
        from elasticsearch_spark.index.aliases import alias_filter

        filter_cond = alias_filter(reader, alias, filter_cond)
    tokens = tokenize_text(query_text, reader.cfg.analyzer)
    return _match_topk(
        reader, tokens, k, operator, minimum_should_match, use_pruning,
        filter_cond, extra_cols, mode,
    )


def terms_topk(
    reader: IndexReader,
    terms: Sequence[str],
    k: int = 10,
    minimum_should_match: int = 1,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """Disjunctive BM25 over PRE-ANALYZED dictionary terms — no analyzer
    round-trip. This is the scoring tail of every MultiTermQuery rewrite
    (fuzzy/MLT/fuzzy_like_this expansions pick terms straight from the term
    dictionary; re-tokenizing them through a stemming/synonym analyzer
    could transform or drop the very terms that were selected). Each term
    scores with weight = multiplicity · idf, exactly like search_topk."""
    return _match_topk(
        reader, list(terms), k, "or", minimum_should_match, True,
        filter_cond, extra_cols, mode,
    )


def _match_topk(reader, tokens, k, operator, msm, use_pruning, filter_cond,
                extra_cols, mode) -> DataFrame:
    """One match query over analyzed ``tokens`` through the shared flow."""
    if not tokens:
        return _empty_result(reader, extra_cols)
    stats = reader.query_term_stats(tokens)
    clause = _match_weights(reader.n_docs, tokens, stats, operator, msm)
    if clause is None:
        return _empty_result(reader, extra_cols)
    weights, need = clause
    kernel = _match_kernel(weights, need, k if use_pruning else None)
    est = sum(stats[t][0] for t in weights)
    return _execute(
        reader, [_Query(kernel, k, list(weights), est, filter_cond)],
        extra_cols, mode,
    )


def _match_weights(n_docs: int, tokens: list[str], stats, operator: str = "or",
                   msm: int = 1) -> tuple[dict[str, float], int] | None:
    """Match clause over analyzed tokens: (weight = multiplicity · idf per
    indexed term, terms a doc must match), or None when nothing can match
    (no indexed term, or an AND with a missing term)."""
    uniq = list(dict.fromkeys(tokens))
    present = [t for t in uniq if stats.get(t, (0, 0))[0] > 0]
    if not present or (operator == "and" and len(present) < len(uniq)):
        return None
    need = len(uniq) if operator == "and" else max(1, msm)
    return {t: tokens.count(t) * lucene_idf(n_docs, stats[t][0]) for t in present}, need


def fuzzy_search_topk(
    reader: IndexReader,
    query_term: str,
    fuzziness: int = 2,
    prefix_length: int = 0,
    k: int = 10,
    max_expansions: int = 50,
    **kw,
) -> DataFrame:
    """fuzzy query over the INDEXED term dictionary (FuzzyQueryParser.java →
    MultiTermQuery rewrite): expand ``query_term`` within ``fuzziness``
    edits against reader.termstats() — a vocabulary-sized scan with
    length-window + prefix pushdown before the levenshtein — then score the
    expansion disjunctively via terms_topk. This is the scale path; the
    corpus-explode variant in query/online.py is the index-less fallback.

    ``max_expansions`` mirrors Lucene FuzzyQuery's top-terms rewrite
    (default 50): keep the closest-edit terms first (Lucene's boost order),
    breaking ties by df desc then term asc. The df-desc tiebreak is a
    deliberate divergence: Lucene's TopTermsRewrite breaks equal-boost ties
    by term order alone; preferring the higher-df term keeps the expansion
    set's recall higher at the same cap. Either way a bounded set, so a
    short term with fuzziness=2 over a 10^8-term dictionary cannot push a
    giant In() filter through the plan. The top-terms cut runs in Spark
    (TakeOrderedAndProject over the pushed candidate scan); only the ≤50
    winners reach the driver."""
    from elasticsearch_spark.ops.filters import fuzzy_terms

    q = (tokenize_text(query_term, reader.cfg.analyzer) or [""])[0]
    if not q:
        return _empty_result(reader, kw.get("extra_cols", ()))
    cand = reader.termstats().where(
        (F.length("term") >= len(q) - fuzziness)
        & (F.length("term") <= len(q) + fuzziness)
    )
    if prefix_length > 0:
        cand = cand.where(F.col("term").startswith(q[:prefix_length]))
    matched = fuzzy_terms(cand, "term", q, fuzziness).withColumn(
        "__dist", F.levenshtein(F.col("term"), F.lit(q))
    )
    if max_expansions is not None:
        matched = matched.orderBy(
            F.col("__dist").asc(), F.col("df").desc(), F.col("term").asc()
        ).limit(int(max_expansions))
    expanded = sorted(r["term"] for r in matched.select("term").collect())
    if not expanded:
        return _empty_result(reader, kw.get("extra_cols", ()))
    return terms_topk(reader, expanded, k=k, **kw)


def phrase_topk(
    reader: IndexReader,
    phrase_text: str,
    k: int = 10,
    slop: int = 0,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """match_phrase top-k over the positional index.

    Reference semantics: index/search/MatchQuery.java:215-220 builds a Lucene
    PhraseQuery; with slop=0 scoring matches ExactPhraseScorer exactly —
    freq(doc) = number of positions p where term_i occurs at p+i for all i,
    score = (Σ_i idf(term_i)) · tfNorm(freq) with the standard BM25 norm.
    slop>0 uses bounded-displacement semantics: an anchor position p of the
    first term matches if every later term has an occurrence within ``slop``
    of its expected position p+i (each occurrence counts 1 toward freq —
    unlike Lucene's 1/(1+matchLength) weighting; divergence documented, the
    PyRefEngine oracle implements the same definition).
    """
    cfg = reader.cfg
    tokens = tokenize_text(phrase_text, cfg.analyzer)
    if not tokens:
        return _empty_result(reader, extra_cols)
    stats = reader.query_term_stats(tokens)
    if any(stats.get(t, (0, 0))[0] == 0 for t in tokens):
        return _empty_result(reader, extra_cols)
    if not reader.cfg.index_positions:
        raise ValueError("index was built with index_positions=False")

    sum_idf = float(sum(lucene_idf(reader.n_docs, stats[t][0]) for t in tokens))

    def kernel(view, allowed):
        return _anchor_scores(view, _phrase_anchors(view, tokens, slop), sum_idf)

    present = list(dict.fromkeys(tokens))
    est = sum(stats[t][1] for t in present)  # ttf: positions volume
    return _execute(
        reader, [_Query(kernel, k, present, est, filter_cond)], extra_cols,
        mode, _PHRASE_COLUMNS,
    )


def phrase_prefix_topk(
    reader: IndexReader,
    text: str,
    k: int = 10,
    max_expansions: int = 50,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """match_phrase_prefix top-k over the positional index.

    Reference semantics: index/search/MatchQuery.java:215-220 builds a
    MultiPhrasePrefixQuery — the final position matches ANY term whose
    prefix is the last analyzed token, expansion capped at ``max_expansions``
    (Lucene default 50) in term-dictionary order. Exact positions (slop=0):
    freq(doc) = #anchors p with term_i at p+i for the fixed terms and any
    expansion at p+(n-1); score = (Σ idf(fixed) + Σ idf(expansions)) ·
    tfNorm(freq) — Lucene MultiPhraseQuery sums the idf of every term it
    unions (TermStatistics list in idfExplain).
    """
    cfg = reader.cfg
    tokens = tokenize_text(text, cfg.analyzer)
    if not tokens:
        return _empty_result(reader, extra_cols)
    if not cfg.index_positions:
        raise ValueError("index was built with index_positions=False")
    fixed, prefix = tokens[:-1], tokens[-1]
    exp = reader.prefix_term_stats(prefix, max_expansions)
    if not exp:
        return _empty_result(reader, extra_cols)
    stats = reader.query_term_stats(fixed)
    if any(stats.get(t, (0, 0))[0] == 0 for t in fixed):
        return _empty_result(reader, extra_cols)

    n = reader.n_docs
    sum_idf = float(
        sum(lucene_idf(n, stats[t][0]) for t in fixed)
        + sum(lucene_idf(n, df) for _, df, _ in exp)
    )
    exp_terms = [t for t, _, _ in exp]

    def kernel(view, allowed):
        # the prefix position is the sorted union of the expansion terms'
        # keys (one token per position → keys are unique)
        anchors = np.sort(
            np.concatenate([_pos_keys(view, t, len(fixed)) for t in exp_terms])
        )
        if fixed:
            anchors = np.intersect1d(
                _phrase_anchors(view, fixed, 0), anchors, assume_unique=True
            )
        return _anchor_scores(view, anchors, sum_idf)

    present = list(dict.fromkeys([*fixed, *exp_terms]))
    est = sum(stats[t][1] for t in dict.fromkeys(fixed)) + sum(
        ttf for _, _, ttf in exp
    )
    return _execute(
        reader, [_Query(kernel, k, present, est, filter_cond)], extra_cols,
        mode, _PHRASE_COLUMNS,
    )


def query_string_search(
    reader: IndexReader,
    query: str,
    k: int = 10,
    minimum_should_match: int = 1,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    filter_fields: frozenset[str] | set[str] = frozenset(
        {"role", "tool", "conv_id", "ts"}
    ),
) -> DataFrame:
    """Lucene-syntax query_string execution (QueryStringQueryParser.java
    subset — see query/ast.py for the grammar and the scoring contract).

    Keyword-field / range sub-clauses (``filter_fields`` — must be stored
    columns of the index) become filter context; the scored tree is
    flattened to BooleanQuery clauses executed by the general bool kernel.
    """
    from elasticsearch_spark.query.ast import parse_query_string

    cfg = reader.cfg
    pq = parse_query_string(
        query, lambda s: tokenize_text(s, cfg.analyzer), set(filter_fields)
    )
    parsed_filter = pq.filter_cond()
    if parsed_filter is not None:
        filter_cond = (
            parsed_filter if filter_cond is None else (filter_cond & parsed_filter)
        )
    if not pq.clauses:
        if filter_cond is None:
            return _empty_result(reader, extra_cols)
        # pure filter query: constant score 1.0, key-ordered (filtered
        # match_all — ConstantScoreQuery semantics); tombstones excluded
        from elasticsearch_spark.index.deletes import live_docs

        out = (
            live_docs(reader)
            .where(filter_cond)
            .select(*cfg.key_cols, *extra_cols)
            .withColumn("score", F.lit(1.0))
            .orderBy(*[F.col(c).asc() for c in cfg.key_cols])
            .limit(k)
        )
        return out

    all_terms = sorted(
        {t for c in pq.clauses for t in (c.terms or [])}
        | {t for c in pq.clauses if c.phrase for t in c.phrase}
    )
    stats = reader.query_term_stats(all_terms)
    n = reader.n_docs

    prepared = []  # (occur, kind, payload)
    for c in pq.clauses:
        if c.phrase is not None:
            missing = [t for t in c.phrase if stats.get(t, (0, 0))[0] == 0]
            if missing:
                if c.occur == "must":
                    return _empty_result(reader, extra_cols)
                continue  # unmatched optional/prohibited phrase: no effect
            sum_idf = float(sum(lucene_idf(n, stats[t][0]) for t in c.phrase))
            prepared.append((c.occur, "phrase", (c.phrase, c.slop, sum_idf)))
        else:
            present = [t for t in c.terms if stats.get(t, (0, 0))[0] > 0]
            if not present:
                if c.occur == "must":
                    return _empty_result(reader, extra_cols)
                continue
            weights = {t: lucene_idf(n, stats[t][0]) for t in present}
            prepared.append((c.occur, "terms", weights))
    if not any(occ != "must_not" for occ, _, _ in prepared):
        return _empty_result(reader, extra_cols)

    needed = sorted(
        {t for occ, kind, p in prepared
         for t in (p[0] if kind == "phrase" else p.keys())}
    )
    est = sum(stats.get(t, (0, 0))[0] for t in needed)
    needs_pos = any(kind == "phrase" for _, kind, _ in prepared)
    kernel = _bool_kernel(prepared, minimum_should_match)
    return _execute(
        reader, [_Query(kernel, k, needed, est, filter_cond)], extra_cols,
        mode, _PHRASE_COLUMNS if needs_pos else _MATCH_COLUMNS,
    )


def common_terms_search(
    reader: IndexReader,
    query_text: str,
    cutoff_frequency: float = 0.01,
    k: int = 10,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """common terms query (CommonTermsQueryParser.java, 229 LoC).

    Terms are split at the document-frequency cutoff (df/N >
    cutoff_frequency → high). The low-frequency group is required
    (any-of/OR, the default low_freq_operator) and scores; the
    high-frequency group is optional and only contributes score — the
    stop-word-free way to keep 'the'/'a' from gating matches. If no
    low-frequency term exists in the index the high group gates instead
    (Lucene CommonTermsQuery degenerates to the plain disjunction).
    """
    from elasticsearch_spark.ops.mlt import common_terms_split

    low, high = common_terms_split(reader, query_text, cutoff_frequency)
    stats = reader.query_term_stats(low + high)
    n = reader.n_docs
    lw = {t: lucene_idf(n, stats[t][0]) for t in low if stats.get(t, (0, 0))[0] > 0}
    hw = {t: lucene_idf(n, stats[t][0]) for t in high if stats.get(t, (0, 0))[0] > 0}
    prepared = []
    if lw:
        prepared.append(("must", "terms", lw))
        if hw:
            prepared.append(("should", "terms", hw))
    elif hw:
        prepared.append(("should", "terms", hw))
    else:
        return _empty_result(reader, extra_cols)

    needed = sorted({*lw, *hw})
    est = sum(stats[t][0] for t in needed)
    return _execute(
        reader, [_Query(_bool_kernel(prepared, 1), k, needed, est, filter_cond)],
        extra_cols, mode,
    )


def simple_query_string_search(
    reader: IndexReader,
    query: str,
    k: int = 10,
    **kw,
) -> DataFrame:
    """simple_query_string: fault-tolerant user syntax
    (SimpleQueryStringParser.java, reg. IndicesQueriesModule:104) — never
    raises on malformed input; any parse/plan failure degrades to treating
    the whole input as a plain match query (lenient mode) that keeps the
    caller's filter, columns and runner options."""
    try:
        return query_string_search(reader, query, k=k, **kw)
    except Exception:
        import re

        kw.pop("filter_fields", None)  # query_string-only option
        cleaned = re.sub(r'["()\[\]+\-~^:]', " ", query)
        return search_topk(reader, cleaned, k=k, **kw)


# -- kernels: (segment view, allowed mask) -> (local ids, scores) --------------


def _match_kernel(weights: dict[str, float], need: int, prune_k: int | None = None):
    """Match kernel: score = Σ_t w_t · tfn_t over the docs matching at least
    ``need`` of the terms.

    ``prune_k`` (a single query's k; batches never prune) enables block-max
    pruning when need <= 1 and > 1 term is present — a vectorized variant
    of Block-Max WAND (Ding & Suel 2011, SIGIR): cut the local docID axis at
    every posting-block boundary; within an elementary interval each term
    has at most one covering block, so bound(I) = Σ_t ub(block_t(I))
    upper-bounds any doc's total score in I. θ = kth best exact score of the
    cheapest term gives a valid lower bound; intervals with bound < θ are
    skipped — blocks no surviving interval touches are never decoded.
    Results are identical to dense scoring (asserted in
    tests/test_search_engine.py).
    """

    def kernel(view, allowed):
        present = [t for t in weights if t in view.by_term]
        keep = None
        if prune_k is not None and need <= 1 and len(present) > 1:
            keep = _prune_blocks(view, present, weights, allowed, prune_k)
        score = np.zeros(view.n_docs, dtype=np.float64)
        nmatch = np.zeros(view.n_docs, dtype=np.int32)
        for t in present:
            if keep is None:
                docs, tfn = view.tfn(t)
            else:
                g = view.by_term[t].iloc[keep[t]]
                if g.empty:
                    continue
                docs, tfs = _decode_term(g)
                tfn = view.norm(docs, tfs)
            score[docs] += weights[t] * tfn
            nmatch[docs] += 1
        ids = np.flatnonzero(nmatch >= need)
        return ids, score[ids]

    return kernel


def _prune_blocks(view, present: list[str], weights: dict[str, float],
                  allowed: np.ndarray | None, k: int) -> dict[str, np.ndarray]:
    """Interval block-max pruning; returns surviving block positions per term."""
    k1, c0, c1 = view.k1, view.c0, view.c1
    ranges: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for t in present:
        g = view.by_term[t]
        first = g["first_doc"].to_numpy(np.int64)
        last = g["last_doc"].to_numpy(np.int64)
        max_tf = g["max_tf"].to_numpy(np.float64)
        min_dl = g["min_dl_eff"].to_numpy(np.float64)
        ub = weights[t] * (max_tf * (k1 + 1.0)) / (max_tf + c0 + c1 * min_dl)
        ranges[t] = (first, last, ub)

    # θ: exact kth-best single-term lower bound from the cheapest term
    seed = min(present, key=lambda t: len(view.by_term[t]))
    sdocs, stfs = view.decode(seed)
    s_scores = weights[seed] * (stfs * (k1 + 1.0)) / (
        stfs + c0 + c1 * view.dl_eff[sdocs]
    )
    if allowed is not None:
        s_scores = s_scores[allowed[sdocs]]
    theta = float(np.partition(s_scores, -k)[-k]) if len(s_scores) > k else 0.0

    keep: dict[str, np.ndarray] = {}
    if theta <= 0.0:
        for t in present:
            keep[t] = np.arange(len(ranges[t][0]))
        return keep

    cuts = np.unique(
        np.concatenate([np.concatenate([r[0], r[1] + 1]) for r in ranges.values()])
    )
    iv_starts = cuts[:-1]
    n_iv = len(iv_starts)
    bound = np.zeros(n_iv, dtype=np.float64)
    cover: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for t in present:
        first, last, ub = ranges[t]
        bi = np.searchsorted(first, iv_starts, side="right") - 1
        bic = np.clip(bi, 0, None)
        valid = (bi >= 0) & (iv_starts <= last[bic])
        bound += np.where(valid, ub[bic], 0.0)
        cover[t] = (bic, valid)
    alive = bound >= theta
    for t in present:
        bic, valid = cover[t]
        keep[t] = np.unique(bic[valid & alive])
    return keep


def _pos_keys(view, t: str, offset: int = 0, exact: bool = True) -> np.ndarray:
    """Sorted position keys ``doc << _SHIFT | (pos - offset)`` of term ``t``
    (empty when the segment lacks it). Docs never collide across the shift
    boundary: within-doc positions < 2^_SHIFT and doc gaps exceed any slop.

    ``exact`` drops negative offsets — they can never anchor an exact
    phrase, and dropping them keeps keys unique for
    intersect1d(assume_unique). The sloppy path keeps them: a term occurring
    before its phrase offset is still within slop of an anchor near
    document start (doc << _SHIFT dominates, so a negative low part stays
    inside the doc's key range)."""
    if t not in view.by_term:
        return np.array([], dtype=np.int64)
    docs, tfs, pos = view.decode_pos(t)
    doc_of_pos = np.repeat(docs, tfs.astype(np.int64))
    adj = pos.astype(np.int64) - offset
    if exact:
        valid = adj >= 0
        doc_of_pos, adj = doc_of_pos[valid], adj[valid]
    return (doc_of_pos << _SHIFT) + adj


def _phrase_anchors(view, tokens: list[str], slop: int) -> np.ndarray:
    """Anchor keys of a phrase. slop=0: the k-way sorted intersection of
    the per-offset key sets; slop>0: bounded displacement — an anchor of
    tokens[0] survives if every later token occurs within ``slop`` of its
    expected position (see phrase_topk)."""
    anchors = _pos_keys(view, tokens[0], 0, slop == 0)
    for i, t in enumerate(tokens[1:], 1):
        if anchors.size == 0:
            break
        keys = _pos_keys(view, t, i, slop == 0)
        if slop == 0:
            anchors = np.intersect1d(anchors, keys, assume_unique=True)
        elif keys.size == 0:
            return keys
        else:
            idx = np.searchsorted(keys, anchors)
            left = np.abs(keys[np.clip(idx - 1, 0, keys.size - 1)] - anchors)
            right = np.abs(keys[np.clip(idx, 0, keys.size - 1)] - anchors)
            anchors = anchors[np.minimum(left, right) <= slop]
    return anchors


def _anchor_scores(view, anchors: np.ndarray, w: float):
    """Phrase/span scoring tail: anchor keys → per-doc freq →
    w · BM25 tfNorm(freq)."""
    udocs, freqs = np.unique(anchors >> _SHIFT, return_counts=True)
    f = freqs.astype(np.float64)
    return udocs, w * (f * (view.k1 + 1.0)) / (
        f + view.c0 + view.c1 * view.dl_eff[udocs]
    )


def _bool_kernel(prepared: list, msm: int):
    """General BooleanQuery kernel: clause = any-of term set or a phrase.

    score(doc) = Σ over matching positive clauses of their BM25
    contributions (every matching term counts — Lucene BooleanQuery sums all
    matching SHOULD/MUST sub-scorers); must clauses required, must_not
    exclude, msm applies only when no must clause exists (BooleanQuery
    default minimumNumberShouldMatch behavior). Callers guarantee at least
    one positive clause."""
    has_must = any(occ == "must" for occ, _, _ in prepared)

    def kernel(view, allowed):
        n_docs = view.n_docs
        score = np.zeros(n_docs, dtype=np.float64)
        must_ok = np.ones(n_docs, dtype=bool)
        n_should = np.zeros(n_docs, dtype=np.int32)
        banned = np.zeros(n_docs, dtype=bool)
        for occ, kind, payload in prepared:
            matched = np.zeros(n_docs, dtype=bool)
            contrib = np.zeros(n_docs, dtype=np.float64)
            if kind == "terms":
                for t, w in payload.items():
                    if t in view.by_term:
                        docs, tfn = view.tfn(t)
                        contrib[docs] += w * tfn
                        matched[docs] = True
            else:  # phrase
                tokens, slop, sum_idf = payload
                udocs, sc = _anchor_scores(
                    view, _phrase_anchors(view, tokens, slop), sum_idf
                )
                contrib[udocs] = sc
                matched[udocs] = True
            if occ == "must_not":
                banned |= matched
                continue
            if occ == "must":
                must_ok &= matched
            else:
                n_should += matched.astype(np.int32)
            score += contrib
        mask = ~banned & (must_ok if has_must else n_should >= max(1, msm))
        ids = np.flatnonzero(mask & (score > 0.0))
        return ids, score[ids]

    return kernel


# -- the segment view ---------------------------------------------------------


class _SegmentView:
    """One segment as every kernel of a plan sees it: doc count, effective
    doc lengths and BM25 constants, the live mask, one mask per filter_id,
    and memoised term decodes — a term shared within a batch is decoded
    (and its query-independent tfn computed) once per segment."""

    def __init__(self, post: pd.DataFrame, n_docs, doc_len_packed, dead,
                 fsets: dict, bm25: tuple) -> None:
        k1, b, avgdl, quantize = bm25
        self.n_docs = int(n_docs)
        self.dl_eff = effective_doc_length(
            np.frombuffer(doc_len_packed, dtype=np.uint32), quantize=quantize
        )
        self.k1, self.c0, self.c1 = k1, k1 * (1.0 - b), k1 * b / avgdl
        post = post.sort_values(["term", "first_doc"])
        self.by_term = {t: g for t, g in post.groupby("term", sort=False)}
        self.live = None
        if dead is not None and len(dead):
            self.live = np.ones(self.n_docs, dtype=bool)
            self.live[np.asarray(dead, dtype=np.int64)] = False  # liveDocs
        self.fsets = fsets  # filter_id -> (f_mode, f_ids), see _filter_sets
        self._memo: dict = {}

    def _cached(self, key, build):
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    def allowed(self, fid: int) -> np.ndarray | None:
        """live ∧ filter mask of ``fid`` (-1: unfiltered; None: all docs)."""

        def build():
            if fid < 0:
                return self.live
            mode, ids = self.fsets[fid]
            m = np.full(self.n_docs, mode != "allow")
            m[np.asarray(ids, dtype=np.int64)] = mode == "allow"
            return m if self.live is None else m & self.live

        return self._cached(("mask", fid), build)

    def norm(self, docs: np.ndarray, tfs: np.ndarray) -> np.ndarray:
        """BM25 tfNorm of term frequencies ``tfs`` in ``docs``."""
        return (tfs * (self.k1 + 1.0)) / (tfs + self.c0 + self.c1 * self.dl_eff[docs])

    def decode(self, t: str):
        return self._cached(("docs", t), lambda: _decode_term(self.by_term[t]))

    def tfn(self, t: str):
        """(docs, tfNorm) of term ``t`` — query-independent, so every query
        of a batch reuses it."""

        def build():
            docs, tfs = self.decode(t)
            return docs, self.norm(docs, tfs)

        return self._cached(("tfn", t), build)

    def decode_pos(self, t: str):
        return self._cached(("pos", t), lambda: _decode_term_pos(self.by_term[t]))


def _decode_term(g: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Decode the blocks of one term (rows pre-sorted) → (doc_ids, tfs)."""
    docs_parts, tf_parts = [], []
    for nd, db, tb in zip(g["n_docs"], g["docs_packed"], g["tfs_packed"]):
        docs_parts.append(delta_decode(unpack_u32(db, nd)))
        tf_parts.append(unpack_u32(tb, nd))
    return (
        np.concatenate(docs_parts).astype(np.int64),
        np.concatenate(tf_parts).astype(np.float64),
    )


def _decode_term_pos(g: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one term's blocks → (doc_ids, tfs, absolute positions flat).

    pos_packed holds per-doc delta positions; absolute = segmented cumsum
    (reset at entry starts), vectorized via offset subtraction."""
    docs_parts, tf_parts, pos_parts = [], [], []
    for nd, db, tb, pb in zip(
        g["n_docs"], g["docs_packed"], g["tfs_packed"], g["pos_packed"]
    ):
        docs_parts.append(delta_decode(unpack_u32(db, nd)))
        tfs = unpack_u32(tb, nd)
        tf_parts.append(tfs)
        n_pos = int(tfs.sum())
        deltas = unpack_u32(pb, n_pos).astype(np.int64)
        # segmented cumsum: plain cumsum, then subtract the carry-over at
        # each entry start
        cs = np.cumsum(deltas)
        starts = np.cumsum(tfs.astype(np.int64))[:-1]
        carry = np.zeros(n_pos, dtype=np.int64)
        if starts.size:
            carry_vals = cs[starts - 1]
            carry[starts] = np.diff(np.concatenate([[0], carry_vals]))
            carry = np.cumsum(carry)
        pos_parts.append(cs - carry)
    return (
        np.concatenate(docs_parts).astype(np.int64),
        np.concatenate(tf_parts),
        np.concatenate(pos_parts),
    )


# -- the pipeline: plan → per-segment kernel → gather → fetch → materialize --


class _Query(NamedTuple):
    """One query as an entry point hands it to _execute."""

    kernel: Callable  # (segment view, allowed mask) -> (local ids, scores)
    k: int
    terms: list  # index terms the kernel reads
    est: int = 0  # Σ df or ttf of the terms: the local-runner gate
    filter_cond: Column | None = None
    query_id: int = 0


class _Plan(NamedTuple):
    entries: list  # (query_id, kernel, k, filter_id); filter_id -1 = none
    terms: list  # union of the queries' terms: ONE postings scan
    columns: list  # postings columns the kernels read
    est: int
    filters: list  # distinct filter Columns, indexed by filter_id
    bm25: tuple  # (k1, b, avgdl, quantize_norms)


def _plan(reader: IndexReader, queries: list[_Query],
          columns: list[str] = _MATCH_COLUMNS) -> _Plan:
    """Batch plan: identical filter expressions (by repr) share one
    filter-set pass; all queries share one term-pruned postings scan."""
    fids: dict[str, int] = {}
    filters: list[Column] = []
    entries = []
    for q in queries:
        fid = -1
        if q.filter_cond is not None:
            fid = fids.setdefault(str(q.filter_cond), len(filters))
            if fid == len(filters):
                filters.append(q.filter_cond)
        entries.append((q.query_id, q.kernel, q.k, fid))
    bm = reader.cfg.bm25
    return _Plan(
        entries, sorted({t for q in queries for t in q.terms}), list(columns),
        sum(q.est for q in queries), filters,
        (bm.k1, bm.b, reader.avgdl, bm.quantize_norms),
    )


def _execute(
    reader: IndexReader,
    queries: list[_Query],
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    columns: list[str] = _MATCH_COLUMNS,
    postings_df: DataFrame | None = None,
    query_id: bool = False,
) -> DataFrame:
    """Run a batch of queries through the one flow (module docstring).

    Runner rule: "local" tries the driver-local runner; "auto" tries it when
    the plan's Σ df/ttf estimate fits under ``_LOCAL_POSTINGS_LIMIT`` and the
    index is driver-readable; anything else (or a local runner that cannot
    answer) scatters on Spark. ``postings_df``: a pre-built postings scan
    (already term-pruned and term-namespaced) replacing reader.postings() —
    the field_masking_span path, which unions two position-aligned indexes;
    it forces the Spark runner. ``query_id`` keeps the query_id column
    (msearch)."""
    plan = _plan(reader, queries, columns)
    extra_cols = list(extra_cols)
    if not plan.entries:
        return _empty_result(reader, extra_cols, query_id)
    if postings_df is None and (mode == "local" or (
        mode == "auto"
        and plan.est <= _LOCAL_POSTINGS_LIMIT
        and fsio.driver_readable(reader.index_dir)
    )):
        local = _local_search(reader, plan, extra_cols, query_id)
        if local is not None:
            return local
    cand = _gather(reader, plan, _spark_candidates(reader, plan, postings_df))
    return _finish(reader, plan, cand, extra_cols, query_id)


def _tie_cut(scores: np.ndarray, k: int) -> np.ndarray:
    """Tie-aware top-k mask: every score >= the kth best, so a tie group
    straddling the cut survives whole — the final order breaks ties on the
    real key columns (merged segments interleave key order, so a local-id
    cut inside the tie group would be unsound)."""
    if scores.size <= k:
        return np.ones(scores.size, dtype=bool)
    return scores >= -np.partition(-scores, k - 1)[k - 1]


def _segment_topk(entries: list, view: _SegmentView | None) -> pd.DataFrame:
    """The per-segment function both runners call: each entry's kernel, its
    live ∧ filter mask, then the tie-aware per-query cut.
    Returns (query_id, local_doc_id, score)."""
    out = {c: [np.empty(0, t)] for c, t in
           (("query_id", np.int32), ("local_doc_id", np.int32), ("score", np.float64))}
    for qid, kernel, k, fid in entries:
        if fid >= 0 and fid not in view.fsets:
            continue  # no doc of this segment passes the query's filter
        allowed = view.allowed(fid)
        ids, scores = kernel(view, allowed)
        if allowed is not None:
            keep = allowed[ids]
            ids, scores = ids[keep], scores[keep]
        keep = _tie_cut(scores, k)
        out["query_id"].append(np.full(int(keep.sum()), qid, dtype=np.int32))
        out["local_doc_id"].append(ids[keep].astype(np.int32))
        out["score"].append(scores[keep])
    return pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})


def _local_search(reader, plan: _Plan, extra_cols, query_id=False):
    """Driver-local runner: the per-segment function over pyarrow-pruned
    reads — the single-node engine answers without any job scheduling.
    Filter sets come from pyarrow too (_local_filter_sets); only a filter
    with a node outside its translated set runs one narrow filter-set job.
    Returns None when the index cannot be read driver-side (caller falls
    back to Spark)."""
    import pyarrow.dataset as ds

    try:
        tbl = reader.local_dataset("postings").to_table(
            filter=ds.field("term").isin(plan.terms),
            columns=[*plan.columns, "segment_id"],
        )
        if tbl.num_rows == 0:
            return _empty_result(reader, extra_cols, query_id)
        post = tbl.to_pandas()
        post["segment_id"] = post["segment_id"].astype(str)
        norms = reader.local_norms()
        if norms is None:
            norms = reader.local_dataset("norms").to_table(
                filter=ds.field("segment_id").isin(post["segment_id"].unique())
            ).to_pandas()
        fsets = _local_filter_sets(reader, plan.filters, post["segment_id"].unique())
    except OSError:
        return None
    norms = norms.set_index(norms["segment_id"].astype(str))
    from elasticsearch_spark.index.deletes import deletes_map

    dead = deletes_map(reader)
    parts = []
    for seg, g in post.groupby("segment_id", sort=False):
        view = _SegmentView(
            g, norms.at[seg, "n_docs"], norms.at[seg, "doc_len_packed"],
            dead.get(seg),
            {fid: fs[seg] for fid, fs in enumerate(fsets) if seg in fs},
            plan.bm25,
        )
        parts.append(_segment_topk(plan.entries, view).assign(segment_id=seg))
    return _finish(reader, plan, pd.concat(parts, ignore_index=True),
                   extra_cols, query_id)


def _spark_candidates(reader, plan: _Plan, postings_df=None) -> DataFrame:
    """Spark runner: the term-pruned postings scan cogrouped per segment
    with its aux rows — norms + tombstones (filter_id -1) and one row per
    filter set, computed JVM-side (columnar scan + hash agg, the
    filter-context bitset analog, index/cache/filter/). Each group runs the
    per-segment function on an executor."""
    if postings_df is None:
        postings_df = reader.postings().where(F.col("term").isin(plan.terms))
    postings = postings_df.select("segment_id", *plan.columns)
    from elasticsearch_spark.index.deletes import deletes_df

    aux = reader.norms().select(
        "segment_id", F.lit(-1).alias("filter_id"), "n_docs", "doc_len_packed"
    )
    dels = deletes_df(reader)
    if dels is not None:  # liveDocs: one tiny array per tombstoned segment
        aux = aux.join(F.broadcast(dels), "segment_id", "left")
    else:
        aux = aux.withColumn("d_ids", F.lit(None).cast("array<int>"))
    for fid, fc in enumerate(plan.filters):
        aux = aux.unionByName(
            _filter_sets(reader, fc).withColumn("filter_id", F.lit(fid)),
            allowMissingColumns=True,
        )
    entries, bm25 = plan.entries, plan.bm25  # shipped; filter Columns stay

    def cogroup_fn(key, post: pd.DataFrame, aux_pdf: pd.DataFrame) -> pd.DataFrame:
        base = aux_pdf[aux_pdf["filter_id"] == -1]
        if post.empty or base.empty:  # no query term / no norms: no rows
            return _segment_topk([], None).assign(segment_id=key[0])
        view = _SegmentView(
            post, base["n_docs"].iloc[0], base["doc_len_packed"].iloc[0],
            base["d_ids"].iloc[0],
            {int(r.filter_id): (r.f_mode, r.f_ids)
             for r in aux_pdf[aux_pdf["filter_id"] >= 0].itertuples()},
            bm25,
        )
        return _segment_topk(entries, view).assign(segment_id=key[0])

    return (
        postings.groupBy("segment_id")
        .cogroup(aux.groupBy("segment_id"))
        .applyInPandas(
            cogroup_fn,
            "query_id int, local_doc_id int, score double, segment_id string",
        )
    )


def _gather(reader, plan: _Plan, cand: DataFrame) -> pd.DataFrame:
    """Collect the Spark runner's candidates: <= k(+ties) rows per
    (segment, query) reach the driver — the scatter/gather boundary.

    Distributed-merge escape hatch: on a pre-merge index with 10^4-10^5
    segments the per-segment rows alone would swamp the driver. Past
    _GATHER_MAX_ROWS (segments x Σk, ties aside), rank() over
    partitionBy(query_id) keeps exactly each query's global top-k tie group
    — the rows the driver-side cut in _finish keeps, so results are
    identical — and only <= Σk(+ties) rows reach collect()."""
    if _n_segments(reader) * sum(k for _, _, k, _ in plan.entries) > _GATHER_MAX_ROWS:
        from pyspark.sql import Window

        kdf = reader.spark.createDataFrame(
            [(qid, k) for qid, _, k, _ in plan.entries], "query_id int, __kq int"
        )
        w = Window.partitionBy("query_id").orderBy(F.col("score").desc())
        cand = (
            cand.withColumn("__rnk", F.rank().over(w))
            .join(F.broadcast(kdf), "query_id")
            .where(F.col("__rnk") <= F.col("__kq"))
            .drop("__rnk", "__kq")
        )
    return pd.DataFrame(cand.collect(), columns=cand.columns)


def _finish(reader, plan: _Plan, cand: pd.DataFrame, extra_cols, query_id):
    """Per-query merge, fetch and materialization over either runner's
    candidates (query_id, local_doc_id, score, segment_id)."""
    if cand.empty:
        return _empty_result(reader, extra_cols, query_id)
    k_of = {qid: k for qid, _, k, _ in plan.entries}
    # per-query TopDocs.merge: the same tie-aware cut as per segment
    winners = pd.concat([
        g[_tie_cut(g["score"].to_numpy(), k_of[qid])]
        for qid, g in cand.groupby("query_id", sort=False)
    ])
    fetched = _fetch(reader, winners, extra_cols)
    key_cols = list(reader.cfg.key_cols)
    out = fetched.sort_values(
        ["query_id", "score", *key_cols],
        ascending=[True, False] + [True] * len(key_cols),
        kind="mergesort",
    )
    out = out[out.groupby("query_id").cumcount() < out["query_id"].map(k_of)]
    cols = [*key_cols, *extra_cols, "score"]
    schema = _result_schema(reader, extra_cols, query_id)
    return HeldResult(reader.spark, pa.Table.from_pandas(
        out[["query_id", *cols] if query_id else cols],
        schema=to_arrow_schema(schema), preserve_index=False,
    ), schema)


class HeldResult(_ClassicDataFrame):
    """A top-k result held on the driver as an Arrow table, typed by its
    Spark schema — still a ``DataFrame``.

    Every answer is a few rows the driver already holds, so ``collect``,
    ``take``/``head``/``first``, ``count``, ``isEmpty``, ``schema``/``columns``
    and ``toPandas``/``toArrow`` answer from the table with no JVM round
    trip. They convert exactly as Spark does: rows through the schema's own
    ``fromInternal`` (what Spark's ``collect`` applies to the pickled JVM
    rows), pandas/Arrow through pyspark's Arrow ``toPandas``/``toArrow`` fed
    these batches. Any other use (``orderBy``, ``join``, ``explain``,
    ``cache``, ...) reads ``_jdf``, which builds the JVM plan once, as a
    local relation of the held rows — the search never runs again."""

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, spark, table: pa.Table, schema: StructType) -> None:
        self._session, self._sc = spark, spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._table = table
        self.__dict__["schema"] = schema  # the parent's cached_property slot

    @functools.cached_property
    def _jdf(self):
        return self._session.createDataFrame(self._table, self.schema)._jdf

    def collect(self) -> list:
        types = [f.dataType for f in self.schema.fields]
        if not all(isinstance(t, _HELD_ROW_TYPES) for t in types):
            return super().collect()
        cols = []
        for col, t in zip(self._table.columns, types):
            # Spark's internal value: epoch micros / days, else the value
            if isinstance(t, (TimestampType, TimestampNTZType)):
                col = col.cast(pa.int64())
            elif isinstance(t, DateType):
                col = col.cast(pa.int32())
            cols.append(col.to_pylist())
        return [self.schema.fromInternal(v) for v in zip(*cols)]

    def take(self, num: int) -> list:
        return self.collect()[:num] if num >= 0 else super().take(num)

    def count(self) -> int:
        return self._table.num_rows

    def isEmpty(self) -> bool:
        return self._table.num_rows == 0

    def _collect_as_arrow(self, split_batches: bool = False,
                          empty_list_if_zero_records: bool = True) -> list:
        if self._table.num_rows == 0:
            return [] if empty_list_if_zero_records else [
                pa.RecordBatch.from_pylist([], schema=self._table.schema)]
        return self._table.combine_chunks().to_batches()


# column types whose Python value HeldResult.collect builds; any other type
# (binary, decimal, nested, ...) is collected through the JVM plan
_HELD_ROW_TYPES = (
    StringType, BooleanType, ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, DateType, TimestampType, TimestampNTZType,
)


def _fetch(reader, winners: pd.DataFrame, extra_cols) -> pd.DataFrame:
    """Fetch phase: the winners' key + stored columns, merged onto them.

    Driver-side pyarrow read through the reader's cached docs dataset —
    partition pruning on segment_id, predicate pushdown on local_doc_id —
    for a handful of winners/segments (the coordinator loads k stored
    documents; a distributed join for k rows is waste). Past the routing
    bounds (large k·ties, or a pre-merge index with thousands of segments)
    or on a store the driver cannot read: one broadcast join."""
    cols = ["segment_id", "local_doc_id", *reader.cfg.key_cols, *extra_cols]
    ids_by_seg = winners.groupby("segment_id")["local_doc_id"].unique()
    if (
        fsio.driver_readable(reader.index_dir)
        and len(winners) <= _DRIVER_FETCH_MAX_ROWS
        and len(ids_by_seg) <= _DRIVER_FETCH_MAX_SEGS
    ):
        import pyarrow.dataset as ds

        cond = functools.reduce(_op.or_, [
            (ds.field("segment_id") == seg)
            & ds.field("local_doc_id").isin(ids.tolist())
            for seg, ids in ids_by_seg.items()
        ])
        docs = reader.local_dataset("docs").to_table(filter=cond, columns=cols).to_pandas()
        docs["segment_id"] = docs["segment_id"].astype(str)
    else:
        pairs = reader.spark.createDataFrame(
            winners[["segment_id", "local_doc_id"]].drop_duplicates(),
            "segment_id string, local_doc_id int",
        )
        docs = (
            reader.docs()
            .where(F.col("segment_id").isin(list(ids_by_seg.index)))  # pruned
            .join(F.broadcast(pairs), ["segment_id", "local_doc_id"])
            .select(*cols)
            .toArrow()  # tz-aware, unlike toPandas' session-local wall time
            .to_pandas()
        )
    return winners.merge(docs, on=["segment_id", "local_doc_id"])


def _result_schema(reader: IndexReader, extra_cols, query_id: bool = False):
    """Result schema (query_id?, key_cols, extra_cols, score)."""
    doc_fields = {f.name: f for f in reader.docs_schema().fields}
    return StructType(
        ([StructField("query_id", IntegerType())] if query_id else [])
        + [doc_fields[c] for c in [*reader.cfg.key_cols, *extra_cols]]
        + [StructField("score", DoubleType())]
    )


def _empty_result(reader: IndexReader, extra_cols: Iterable[str] = (),
                  query_id: bool = False) -> DataFrame:
    """No hits, held with exactly the schema a non-empty result has."""
    schema = _result_schema(reader, list(extra_cols), query_id)
    return HeldResult(reader.spark, to_arrow_schema(schema).empty_table(), schema)


def _n_segments(reader: IndexReader) -> int:
    """Segment count: the layout-cached local norms when driver-readable,
    else ONE count() job on the (tiny) norms table, memoized per reader."""
    norms = reader.local_norms()
    if norms is not None:
        return len(norms)
    if getattr(reader, "_n_segments_cache", None) is None:
        reader._n_segments_cache = reader.norms().select("segment_id").count()
    return reader._n_segments_cache
