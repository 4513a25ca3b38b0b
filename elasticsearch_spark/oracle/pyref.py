"""Pure-Python reference engine — the rank-identity golden oracle.

Plays the role of the reference's id-level rank assertions
(/root/reference/src/test/java/org/elasticsearch/test/hamcrest/
ElasticsearchAssertions.java:139-182): an independent, trivially-auditable
implementation of Lucene 5 BM25 over an in-memory inverted index, with

- the exact idf formula  ln(1 + (N - df + 0.5)/(df + 0.5))
- tfNorm = tf*(k1+1) / (tf + k1*(1 - b + b*dl_eff/avgdl))
- dl_eff = byte315-quantized doc length (SmallFloat round trip)
- avgdl  = sumTotalTermFreq / docCount, GLOBAL (DFS) statistics
  (search/dfs/DfsPhase.java:63-104 semantics — partition-invariant)
- deterministic tie order (score DESC, key ASC)

The Spark engine under test must match this rank-for-rank, scores to 1e-9
relative (both compute in float64).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from typing import Any, Sequence

import numpy as np

from elasticsearch_spark.config import AnalyzerConfig, BM25Params
from elasticsearch_spark.analysis.analyzers import tokenize_text
from elasticsearch_spark.functions.smallfloat import effective_doc_length


class PyRefEngine:
    def __init__(
        self,
        analyzer: AnalyzerConfig | None = None,
        bm25: BM25Params | None = None,
    ) -> None:
        self.analyzer = analyzer or AnalyzerConfig()
        self.bm25 = bm25 or BM25Params()
        self.postings: dict[str, dict[Any, int]] = defaultdict(dict)  # term -> key -> tf
        self.positions: dict[str, dict[Any, list[int]]] = defaultdict(dict)
        self.doc_len: dict[Any, int] = {}
        self.docs: dict[Any, dict] = {}
        self.total_tokens = 0

    # -- indexing ----------------------------------------------------------
    def index(self, key: Any, text: str, **stored: Any) -> None:
        toks = tokenize_text(text, self.analyzer)
        if key in self.doc_len:  # upsert: remove old postings first
            self.total_tokens -= self.doc_len[key]
            for term_docs in self.postings.values():
                term_docs.pop(key, None)
            for term_pos in self.positions.values():
                term_pos.pop(key, None)
        self.doc_len[key] = len(toks)
        self.total_tokens += len(toks)
        self.docs[key] = {"text": text, **stored}
        for term, tf in Counter(toks).items():
            self.postings[term][key] = tf
        for p, term in enumerate(toks):
            self.positions[term].setdefault(key, []).append(p)

    # -- stats --------------------------------------------------------------
    @property
    def n_docs(self) -> int:
        return len(self.doc_len)

    @property
    def avgdl(self) -> float:
        return self.total_tokens / self.n_docs if self.n_docs else 1.0

    def idf(self, term: str) -> float:
        df = len(self.postings.get(term, ()))
        n = self.n_docs
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def _dl_eff(self, key: Any) -> float:
        dl = self.doc_len[key]
        return float(
            effective_doc_length(np.array([dl]), quantize=self.bm25.quantize_norms)[0]
        )

    def term_score(self, term: str, key: Any) -> float:
        tf = self.postings.get(term, {}).get(key, 0)
        if tf == 0:
            return 0.0
        k1, b = self.bm25.k1, self.bm25.b
        dl_eff = self._dl_eff(key)
        tf_norm = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl_eff / self.avgdl))
        return self.idf(term) * tf_norm

    # -- queries -------------------------------------------------------------
    def match(
        self,
        query_text: str,
        k: int = 10,
        operator: str = "or",
        minimum_should_match: int = 1,
        filter_fn=None,
    ) -> list[tuple[Any, float]]:
        """match query: analyze text, OR/AND of term queries, BM25 sum.

        Reference: index/search/MatchQuery.java:167-230 (default OR /
        Occur.SHOULD with minimum_should_match).
        Returns [(key, score)] sorted (score DESC, key ASC), length ≤ k.
        """
        terms = tokenize_text(query_text, self.analyzer)
        # dedup terms but keep multiplicity semantics? Lucene keeps duplicate
        # terms as separate SHOULD clauses (score counted twice). Preserve that.
        if not terms:
            return []
        candidates: dict[Any, tuple[float, int]] = {}
        per_doc_terms: dict[Any, set] = defaultdict(set)
        scores: dict[Any, float] = defaultdict(float)
        for t in terms:
            for key in self.postings.get(t, {}):
                scores[key] += self.term_score(t, key)
                per_doc_terms[key].add(t)
        uniq_terms = set(terms)
        need = len(uniq_terms) if operator == "and" else max(1, minimum_should_match)
        hits = [
            (key, s)
            for key, s in scores.items()
            if len(per_doc_terms[key]) >= need
            and (filter_fn is None or filter_fn(self.docs[key]))
        ]
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]

    def match_phrase(
        self,
        phrase_text: str,
        k: int = 10,
        slop: int = 0,
        filter_fn=None,
    ) -> list[tuple[Any, float]]:
        """Phrase query with the engine's documented semantics.

        slop=0: Lucene ExactPhraseScorer — freq = #anchors p where term_i sits
        at p+i for all i; score = (Σ_i idf(term_i)) · tfNorm(freq).
        slop>0: bounded displacement — anchor valid if every term i has an
        occurrence q with |q - i - p| ≤ slop (each anchor counts 1)."""
        terms = tokenize_text(phrase_text, self.analyzer)
        if not terms:
            return []
        for t in terms:
            if not self.postings.get(t):
                return []
        sum_idf = sum(self.idf(t) for t in terms)
        # candidate docs: contain every term
        cand = set(self.positions[terms[0]])
        for t in terms[1:]:
            cand &= set(self.positions[t])
        k1, b = self.bm25.k1, self.bm25.b
        hits = []
        for key in cand:
            if filter_fn is not None and not filter_fn(self.docs[key]):
                continue
            anchors = [p for p in self.positions[terms[0]][key]]
            for i, t in enumerate(terms[1:], start=1):
                plist = self.positions[t][key]
                if slop == 0:
                    pset = set(q - i for q in plist)
                    anchors = [p for p in anchors if p in pset]
                else:
                    anchors = [
                        p
                        for p in anchors
                        if any(abs((q - i) - p) <= slop for q in plist)
                    ]
                if not anchors:
                    break
            freq = len(anchors)
            if freq == 0:
                continue
            dl_eff = self._dl_eff(key)
            tf_norm = freq * (k1 + 1.0) / (
                freq + k1 * (1.0 - b + b * dl_eff / self.avgdl)
            )
            hits.append((key, sum_idf * tf_norm))
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]

    def match_phrase_prefix(
        self,
        text: str,
        k: int = 10,
        max_expansions: int = 50,
        filter_fn=None,
    ) -> list[tuple[Any, float]]:
        """MultiPhrasePrefixQuery semantics (MatchQuery.java:215-220): the
        last analyzed token is a prefix; expansion = first ``max_expansions``
        dictionary terms with that prefix (term order); freq = #anchors p
        with fixed term_i at p+i and any expansion at p+(n-1);
        score = (Σ idf(fixed) + Σ idf(expansions)) · tfNorm(freq)."""
        terms = tokenize_text(text, self.analyzer)
        if not terms:
            return []
        fixed, prefix = terms[:-1], terms[-1]
        exp = sorted(
            t for t, d in self.postings.items() if d and t.startswith(prefix)
        )[:max_expansions]
        if not exp:
            return []
        for t in fixed:
            if not self.postings.get(t):
                return []
        sum_idf = sum(self.idf(t) for t in fixed) + sum(self.idf(e) for e in exp)
        n_off = len(fixed)
        # candidate docs: contain every fixed term and >= 1 expansion
        cand = set(self.doc_len)
        for t in fixed:
            cand &= set(self.positions[t])
        cand &= {key for e in exp for key in self.positions[e]}
        k1, b = self.bm25.k1, self.bm25.b
        hits = []
        for key in cand:
            if filter_fn is not None and not filter_fn(self.docs[key]):
                continue
            exp_pos = {
                q for e in exp for q in self.positions[e].get(key, [])
            }
            if fixed:
                anchors = list(self.positions[fixed[0]][key])
                for i, t in enumerate(fixed[1:], start=1):
                    pset = {q - i for q in self.positions[t][key]}
                    anchors = [p for p in anchors if p in pset]
                    if not anchors:
                        break
                anchors = [p for p in anchors if (p + n_off) in exp_pos]
            else:
                anchors = sorted(exp_pos)
            freq = len(anchors)
            if freq == 0:
                continue
            dl_eff = self._dl_eff(key)
            tf_norm = freq * (k1 + 1.0) / (
                freq + k1 * (1.0 - b + b * dl_eff / self.avgdl)
            )
            hits.append((key, sum_idf * tf_norm))
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]

    def query_string(
        self,
        q: str,
        k: int = 10,
        minimum_should_match: int = 1,
    ) -> list[tuple[Any, float]]:
        """query_string oracle — same grammar/scoring contract as
        query/ast.py + executor._bool_kernel (BooleanQuery sum of
        matching positive clauses; must required; must_not excludes; keyword
        filters non-scoring)."""
        from elasticsearch_spark.query.ast import parse_query_string

        pq = parse_query_string(q, lambda s: tokenize_text(s, self.analyzer))

        def passes_filters(key) -> bool:
            doc = self.docs[key]
            for fld, op, val in pq.filters:
                dv = doc.get(fld)
                if dv is None:
                    return False
                if op == "eq" and str(dv) != str(val):
                    return False
                if op == "gte" and not (dv >= val):
                    return False
                if op == "lte" and not (dv <= val):
                    return False
            return True

        has_must = any(c.occur == "must" for c in pq.clauses)
        hits = []
        for key in self.doc_len:
            score = 0.0
            must_ok = True
            n_should = 0
            banned = False
            any_positive = False
            for c in pq.clauses:
                if c.phrase is not None:
                    if any(not self.postings.get(t) for t in c.phrase):
                        if c.occur == "must":
                            must_ok = False
                        continue
                    anchors = list(self.positions[c.phrase[0]].get(key, []))
                    for i, t in enumerate(c.phrase[1:], start=1):
                        plist = self.positions[t].get(key, [])
                        if c.slop == 0:
                            pset = {p - i for p in plist}
                            anchors = [p for p in anchors if p in pset]
                        else:
                            anchors = [
                                p for p in anchors
                                if any(abs((q2 - i) - p) <= c.slop for q2 in plist)
                            ]
                        if not anchors:
                            break
                    freq = len(anchors)
                    matched = freq > 0
                    if matched:
                        sum_idf = sum(self.idf(t) for t in c.phrase)
                        k1, b = self.bm25.k1, self.bm25.b
                        dle = self._dl_eff(key)
                        contrib = sum_idf * freq * (k1 + 1.0) / (
                            freq + k1 * (1.0 - b + b * dle / self.avgdl)
                        )
                    else:
                        contrib = 0.0
                else:
                    present = [t for t in c.terms if self.postings.get(t)]
                    if not present:
                        if c.occur == "must":
                            must_ok = False
                        continue
                    contrib = sum(self.term_score(t, key) for t in present)
                    matched = contrib > 0.0
                if c.occur == "must_not":
                    banned = banned or matched
                elif c.occur == "must":
                    must_ok = must_ok and matched
                    score += contrib
                    any_positive = True
                else:
                    n_should += int(matched)
                    score += contrib
                    any_positive = True
            if banned or not any_positive or score <= 0.0:
                continue
            if has_must and not must_ok:
                continue
            if not has_must and n_should < max(1, minimum_should_match):
                continue
            if not passes_filters(key):
                continue
            hits.append((key, score))
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]

    def common_terms(
        self, query_text: str, cutoff_frequency: float = 0.01, k: int = 10
    ) -> list[tuple[Any, float]]:
        """common terms oracle — same df/N split + gating as
        executor.common_terms_search (low group any-of required, high group
        score-only; plain disjunction when no low term exists)."""
        toks = list(dict.fromkeys(tokenize_text(query_text, self.analyzer)))
        n = max(self.n_docs, 1)
        present = [t for t in toks if self.postings.get(t)]
        low = [
            t for t in present
            if len(self.postings[t]) / n <= cutoff_frequency
        ]
        if not present:
            return []
        scores: dict[Any, float] = defaultdict(float)
        for t in present:
            for key in self.postings[t]:
                scores[key] += self.term_score(t, key)
        if low:
            gate = {key for t in low for key in self.postings[t]}
            hits = [(key, s) for key, s in scores.items() if key in gate]
        else:
            hits = list(scores.items())
        hits = [(key, s) for key, s in hits if s > 0.0]
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]

    def _tfnorm_score(self, key: Any, freq: int, sum_idf: float) -> float:
        k1, b = self.bm25.k1, self.bm25.b
        dle = self._dl_eff(key)
        return sum_idf * freq * (k1 + 1.0) / (
            freq + k1 * (1.0 - b + b * dle / self.avgdl)
        )

    def span_first(self, term: str, end: int, k: int = 10) -> list[tuple[Any, float]]:
        """SpanFirstQuery: occurrences at position < end (width-1 spans)."""
        t = tokenize_text(term, self.analyzer)[0]
        idf = self.idf(t)
        hits = []
        for key, plist in self.positions.get(t, {}).items():
            freq = sum(1 for p in plist if p < end)
            if freq:
                hits.append((key, self._tfnorm_score(key, freq, idf)))
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]

    def span_near(
        self, terms: Sequence[str], slop: int = 0, in_order: bool = True,
        k: int = 10,
    ) -> list[tuple[Any, float]]:
        """SpanNearQuery over term clauses — same documented semantics as
        query/spans.py (greedy ordered chain / unordered pair)."""
        toks = [tokenize_text(w, self.analyzer)[0] for w in terms]
        sum_idf = sum(self.idf(t) for t in toks)
        cand = set(self.positions.get(toks[0], {}))
        for t in toks[1:]:
            cand &= set(self.positions.get(t, {}))
        hits = []
        for key in cand:
            freq = 0
            for p in self.positions[toks[0]][key]:
                if in_order:
                    cur, ok = p, True
                    for t in toks[1:]:
                        nxt = [q for q in self.positions[t][key] if q > cur]
                        if not nxt:
                            ok = False
                            break
                        cur = min(nxt)
                    if ok and cur - p - (len(toks) - 1) <= slop:
                        freq += 1
                else:
                    if any(
                        q != p and abs(q - p) - 1 <= slop
                        for q in self.positions[toks[1]][key]
                    ):
                        freq += 1
            if freq:
                hits.append((key, self._tfnorm_score(key, freq, sum_idf)))
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]

    def span_or(
        self, terms: Sequence[str], k: int = 10, pre_analyzed: bool = False,
    ) -> list[tuple[Any, float]]:
        """SpanOrQuery: freq = distinct matching positions across clauses;
        idf summed over the distinct clause terms."""
        if pre_analyzed:
            toks = [t for t in terms if t]
        else:
            toks = [
                t0 for t0 in
                ((tokenize_text(w, self.analyzer) or [""])[0] for w in terms)
                if t0
            ]
        toks = list(dict.fromkeys(toks))
        sum_idf = sum(self.idf(t) for t in toks)
        freqs: dict[Any, set] = defaultdict(set)
        for t in toks:
            for key, plist in self.positions.get(t, {}).items():
                freqs[key].update(plist)
        hits = [
            (key, self._tfnorm_score(key, len(ps), sum_idf))
            for key, ps in freqs.items()
            if ps
        ]
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]

    def span_not(
        self, include: str, exclude: str, pre: int = 0, post: int = 0,
        k: int = 10,
    ) -> list[tuple[Any, float]]:
        """SpanNotQuery: include spans with no exclude in [p-pre, p+post]."""
        inc = tokenize_text(include, self.analyzer)[0]
        exc_toks = tokenize_text(exclude, self.analyzer)
        exc = exc_toks[0] if exc_toks else None
        idf = self.idf(inc)
        hits = []
        for key, plist in self.positions.get(inc, {}).items():
            ex = self.positions.get(exc, {}).get(key, []) if exc else []
            freq = sum(
                1 for p in plist
                if not any(p - pre <= q <= p + post for q in ex)
            )
            if freq:
                hits.append((key, self._tfnorm_score(key, freq, idf)))
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]

    def term_query(self, term: str, k: int = 10, filter_fn=None) -> list[tuple[Any, float]]:
        """Single-term query, no analysis (TermQueryParser.java semantics)."""
        hits = [
            (key, self.term_score(term, key))
            for key in self.postings.get(term, {})
            if filter_fn is None or filter_fn(self.docs[key])
        ]
        hits.sort(key=lambda kv: (-kv[1], kv[0]))
        return hits[:k]
