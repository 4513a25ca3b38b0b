"""Span queries over the positional index (SURVEY.md §2.3).

Reference: the span family registered in
index/query/IndicesQueriesModule.java:90-95 (span_term, span_first,
span_near, span_not, span_or) parsing to Lucene SpanQuery trees.

Engine semantics (documented, mirrored by PyRefEngine and the DuckDB
oracles) — term-leaf spans, each term a width-1 span at its position:

- span_first(term, end):   positions p with p < end (Lucene end() <= end).
- span_near(terms, slop, in_order=True): an anchor p of terms[0] matches if
  a strictly-increasing chain p < q_1 < ... < q_{n-1} through the remaining
  terms exists with q_{n-1} - p - (n-1) <= slop. The greedy nearest-next
  chain is checked — it minimizes the final end, so a valid chain exists
  iff the greedy one is valid.
- span_near unordered (n == 2): positions p of a with an occurrence q of b,
  q != p, |q - p| - 1 <= slop (Lucene's (max.end - min.start) - length).
- span_not(include, exclude, pre, post): positions p of include with no
  exclude occurrence in [p - pre, p + post].

freq(doc) = number of matching anchor positions (each counts 1, like the
engine's sloppy-phrase freq); score = (Σ idf of the positive terms) ·
BM25 tfNorm(freq). span_not scores from the include term only (Lucene
SpanNotQuery).

Execution shape: each query is one span kernel (anchor matcher + the
phrase scoring tail) in the shared plan → per-segment kernel → gather →
fetch flow of query/executor.py, exactly like match_phrase.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame

from elasticsearch_spark.analysis.analyzers import tokenize_text
from elasticsearch_spark.index.reader import IndexReader
from elasticsearch_spark.query.executor import (
    _PHRASE_COLUMNS,
    _SHIFT as SHIFT,
    _anchor_scores,
    _empty_result,
    _execute,
    _pos_keys,
    _Query,
    lucene_idf,
)


def _span_kernel(anchor_fn, terms: list[str], sum_idf: float):
    """Span kernel: ``anchor_fn(keys_by_term) -> anchor keys`` over each
    term's position keys, scored by the phrase/span tail."""

    def kernel(view, allowed):
        keys = {t: _pos_keys(view, t) for t in terms}
        return _anchor_scores(view, anchor_fn(keys), sum_idf)

    return kernel


def _run(reader: IndexReader, anchor_fn, terms: list[str], idf_terms: list[str],
         k: int, filter_cond: Column | None, extra_cols: Iterable[str],
         mode: str) -> DataFrame:
    if not reader.cfg.index_positions:
        raise ValueError("index was built with index_positions=False")
    stats = reader.query_term_stats(terms)
    n = reader.n_docs
    sum_idf = float(
        sum(lucene_idf(n, stats.get(t, (0, 0))[0]) for t in idf_terms)
    )
    terms = list(dict.fromkeys(terms))
    est = sum(stats.get(t, (0, 0))[1] for t in terms)
    kernel = _span_kernel(anchor_fn, terms, sum_idf)
    return _execute(
        reader, [_Query(kernel, k, terms, est, filter_cond)], extra_cols,
        mode, _PHRASE_COLUMNS,
    )


def _analyze_one(reader: IndexReader, word: str) -> str:
    toks = tokenize_text(word, reader.cfg.analyzer)
    return toks[0] if toks else ""


def span_term_topk(
    reader: IndexReader,
    term: str,
    k: int = 10,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """Standalone SpanTermQuery (SpanTermQueryParser.java, reg.
    IndicesQueriesModule.java:90): every occurrence of ``term`` is a
    width-1 span, freq = tf, scored under the span convention
    (idf(term) · tfNorm(freq)) — NOT the match query's BM25 path, so a
    span_term inside a larger span tree scores identically standalone."""
    t = _analyze_one(reader, term)
    if not t:
        return _empty_result(reader, extra_cols)

    def anchors(keys: dict[str, np.ndarray]) -> np.ndarray:
        return keys[t]

    return _run(reader, anchors, [t], [t], k, filter_cond, extra_cols, mode)


def span_or_topk(
    reader: IndexReader,
    terms: list[str],
    k: int = 10,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
    pre_analyzed: bool = False,
) -> DataFrame:
    """SpanOrQuery over term clauses (SpanOrQueryParser.java, reg.
    IndicesQueriesModule.java:93): matching spans are the merged union of
    the clause spans; freq(doc) = number of distinct matching (doc, pos)
    anchors (Lucene SpanOrQuery's disjunction iterator advances through
    the union in position order, each position counted once); idf is the
    sum over the distinct clause terms (SpanWeight builds its similarity
    weight from all term contexts in the tree).

    ``pre_analyzed``: clauses are index terms already (the span_multi
    rewrite path — re-running a non-idempotent filter chain, e.g. porter,
    over dictionary output would corrupt them)."""
    if pre_analyzed:
        toks = [t for t in terms if t]
    else:
        toks = [t for t in (_analyze_one(reader, w) for w in terms) if t]
    toks = list(dict.fromkeys(toks))
    if not toks:
        return _empty_result(reader, extra_cols)

    def anchors(keys: dict[str, np.ndarray]) -> np.ndarray:
        parts = [keys[t] for t in toks if keys[t].size]
        if not parts:
            return np.array([], dtype=np.int64)
        return np.unique(np.concatenate(parts))

    return _run(reader, anchors, toks, toks, k, filter_cond, extra_cols, mode)


def span_multi_topk(
    reader: IndexReader,
    pattern: str,
    kind: str = "prefix",
    max_expansions: int = 50,
    k: int = 10,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """SpanMultiTermQueryWrapper (SpanMultiTermQueryParser.java, reg.
    IndicesQueriesModule.java:102): rewrite a multi-term query against the
    term dictionary into a span_or over the matching terms, so a prefix /
    wildcard can participate in span composition.

    ``kind``: "prefix" (PrefixQuery inner) or "wildcard" (WildcardQuery
    inner, ``*`` / ``?`` metacharacters). Expansion is capped at
    ``max_expansions`` terms in term order — a bounded top-terms rewrite
    (Lucene's default SpanRewriteMethod takes every matching term, which
    is unbounded over a 10^8-term dictionary; the cap is a documented
    divergence matching the engine-wide max_expansions=50 convention).
    Both the prefix walk and the wildcard scan are term-dictionary range /
    pushed-filter reads cut to the cap IN Spark — never an unbounded
    collect."""
    if kind == "prefix":
        exp = [t for t, _df, _ttf in
               reader.prefix_term_stats(pattern.lower(), max_expansions)]
    elif kind == "wildcard":
        from pyspark.sql import functions as F

        # anchored LIKE pushdown: * -> %, ? -> _ (WildcardQuery semantics);
        # bounded term-order cut runs in Spark before the tiny collect
        esc = (pattern.lower()
               .replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")
               .replace("*", "%").replace("?", "_"))
        cand = reader.termstats().where(F.col("term").like(esc))
        lead = pattern.split("*")[0].split("?")[0].lower()
        if lead:  # leading-literal range pushdown (Lucene's prefix fastpath)
            upper = lead[:-1] + chr(ord(lead[-1]) + 1)
            cand = cand.where(
                (F.col("term") >= lead) & (F.col("term") < upper)
            )
        exp = sorted(
            r["term"]
            for r in cand.select("term")
            .orderBy("term").limit(int(max_expansions)).collect()
        )
    else:
        raise ValueError(f"unsupported span_multi inner kind: {kind}")
    if not exp:
        return _empty_result(reader, extra_cols)
    return span_or_topk(reader, exp, k=k, filter_cond=filter_cond,
                        extra_cols=extra_cols, mode=mode, pre_analyzed=True)


def span_first_topk(
    reader: IndexReader,
    term: str,
    end: int,
    k: int = 10,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """SpanFirstQuery: term occurrences within the first ``end`` positions."""
    t = _analyze_one(reader, term)
    if not t:
        return _empty_result(reader, extra_cols)

    def anchors(keys: dict[str, np.ndarray]) -> np.ndarray:
        ks = keys[t]
        return ks[(ks & ((1 << SHIFT) - 1)) < end]

    return _run(reader, anchors, [t], [t], k, filter_cond, extra_cols, mode)


def span_near_topk(
    reader: IndexReader,
    terms: list[str],
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """SpanNearQuery over term clauses (greedy ordered chain / unordered
    pair). Unordered supports exactly 2 clauses."""
    toks = [_analyze_one(reader, w) for w in terms]
    if not all(toks):
        return _empty_result(reader, extra_cols)
    if not in_order and len(toks) != 2:
        raise ValueError("unordered span_near supports exactly 2 clauses")

    def anchors(keys: dict[str, np.ndarray]) -> np.ndarray:
        return _near_chain([keys[t] for t in toks], slop, in_order)

    return _run(reader, anchors, toks, toks, k, filter_cond, extra_cols, mode)


def _near_chain(keys_seq: list[np.ndarray], slop: int,
                in_order: bool) -> np.ndarray:
    """Shared span_near matcher over clause key arrays (doc<<SHIFT|pos,
    sorted): greedy ordered chain, or nearest-neighbor unordered pair."""
    anchors = keys_seq[0]
    if anchors.size == 0:
        return anchors
    n = len(keys_seq)
    if in_order:
        cur = anchors
        ok = np.ones(cur.size, dtype=bool)
        for ks in keys_seq[1:]:
            if ks.size == 0:
                return np.array([], dtype=np.int64)
            idx = np.searchsorted(ks, cur, side="right")
            hit = idx < ks.size
            nxt = ks[np.clip(idx, 0, ks.size - 1)]
            same_doc = (nxt >> SHIFT) == (anchors >> SHIFT)
            ok &= hit & same_doc
            cur = np.where(ok, nxt, cur)
        ok &= (cur - anchors - (n - 1)) <= slop
        return anchors[ok]
    bk = keys_seq[1]
    if bk.size == 0:
        return np.array([], dtype=np.int64)
    a = anchors
    idx = np.searchsorted(bk, a)
    left = np.abs(bk[np.clip(idx - 1, 0, bk.size - 1)] - a)
    right = np.abs(bk[np.clip(idx, 0, bk.size - 1)] - a)
    left[left == 0] = 1 << 60
    right[right == 0] = 1 << 60
    dist = np.minimum(left, right)
    return a[dist - 1 <= slop]


def field_masking_span_near_topk(
    reader: IndexReader,
    masked_reader: IndexReader,
    clauses: list[tuple[str, str]],
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
) -> DataFrame:
    """FieldMaskingSpanQuery inside a span_near
    (FieldMaskingSpanQueryParser.java, reg. IndicesQueriesModule.java:92):
    span clauses from a second, position-aligned index participate in one
    span_near as if they came from the primary field — the classic
    ``text`` + ``text.stemmed`` sub-field composition, where a
    position-preserving (1:1) filter chain guarantees alignment.

    ``clauses``: ordered list of ("main" | "masked", query_term); each term
    is analyzed by ITS OWN field's analyzer. Alignment is the caller's
    contract exactly as in the reference ("mapped to use the same analysis
    chain" — FieldMaskingSpanQuery javadoc): both indexes must be built
    from the same rows with the same key/routing/partition layout so
    (segment_id, local_doc_id, position) spaces coincide.

    Scoring: Σ idf of each clause term against its own field's statistics
    (SpanWeight gathers term contexts across the masked tree), tfNorm from
    the PRIMARY field's norms. Execution: ONE cogrouped scatter over the
    union of both indexes' term-pruned postings scans, terms namespaced
    "0:"/"1:" — the mask costs no extra shuffle or job versus span_near.
    """
    if not in_order and len(clauses) != 2:
        raise ValueError("unordered span_near supports exactly 2 clauses")
    readers = {"main": reader, "masked": masked_reader}
    toks: list[tuple[str, str]] = []  # (field, analyzed term)
    for fld, word in clauses:
        if fld not in readers:
            raise ValueError(f"clause field must be main|masked, got {fld}")
        t = _analyze_one(readers[fld], word)
        if not t:
            return _empty_result(reader, extra_cols)
        toks.append((fld, t))

    cfg = reader.cfg
    if not cfg.index_positions or not masked_reader.cfg.index_positions:
        raise ValueError("both indexes must be built with index_positions")
    n = reader.n_docs
    sum_idf = 0.0
    per_field_terms: dict[str, list[str]] = {"main": [], "masked": []}
    for fld, t in dict.fromkeys(toks):
        per_field_terms[fld].append(t)
    for fld, terms in per_field_terms.items():
        stats = readers[fld].query_term_stats(terms)
        sum_idf += float(
            sum(lucene_idf(n, stats.get(t, (0, 0))[0]) for t in terms)
        )

    ns = {"main": "0:", "masked": "1:"}
    needed = list(dict.fromkeys(ns[fld] + t for fld, t in toks))
    key_seq_names = [ns[fld] + t for fld, t in toks]

    def near(keys: dict[str, np.ndarray]) -> np.ndarray:
        return _near_chain([keys[name] for name in key_seq_names], slop,
                           in_order)

    from pyspark.sql import functions as F

    parts = []
    for fld, r in readers.items():
        terms = per_field_terms[fld]
        if not terms:
            continue
        parts.append(
            r.postings()
            .where(F.col("term").isin(terms))
            .withColumn("term", F.concat(F.lit(ns[fld]), F.col("term")))
            .select("segment_id", *_PHRASE_COLUMNS)
        )
    postings_df = parts[0]
    for p in parts[1:]:
        postings_df = postings_df.unionByName(p)

    kernel = _span_kernel(near, needed, sum_idf)
    return _execute(
        reader, [_Query(kernel, k, needed, 0, filter_cond)], extra_cols,
        "spark", _PHRASE_COLUMNS, postings_df=postings_df,
    )


def span_not_topk(
    reader: IndexReader,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
    filter_cond: Column | None = None,
    extra_cols: Iterable[str] = (),
    mode: str = "auto",
) -> DataFrame:
    """SpanNotQuery: include spans with no exclude span in [p-pre, p+post]."""
    inc = _analyze_one(reader, include)
    exc = _analyze_one(reader, exclude)
    if not inc:
        return _empty_result(reader, extra_cols)

    def anchors(keys: dict[str, np.ndarray]) -> np.ndarray:
        a = keys[inc]
        ex = keys.get(exc, np.array([], dtype=np.int64))
        if a.size == 0 or ex.size == 0:
            return a
        lo = np.searchsorted(ex, a - pre, side="left")
        hi = np.searchsorted(ex, a + post, side="right")
        # [p-pre, p+post] stays inside the doc's key range (doc gaps >> window)
        return a[hi == lo]

    terms = [inc, exc] if exc else [inc]
    return _run(reader, anchors, terms, [inc], k, filter_cond, extra_cols,
                mode)
