"""Output checks. Every failed check marks its operation failed.

- structure: <= k rows, ordered (score DESC, key ASC), no duplicate keys;
- refresh: the marker query returns exactly the batch's marked keys;
- msearch vs single search: shared queries agree rank for rank;
- oracle: a seeded sample agrees rank for rank with ``PyRefEngine``,
  scores equal to within 1e-9 (relative).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from elasticsearch_spark.oracle import PyRefEngine
from perfbench import inputs

SCORE_TOL = 1e-9


def structure_problems(rows, k: int) -> list[str]:
    out = []
    if len(rows) > k:
        out.append(f"{len(rows)} rows > k={k}")
    keys = [(c, t) for c, t, _ in rows]
    if len(set(keys)) != len(keys):
        out.append("duplicate keys")
    order = [(-s, c, t) for c, t, s in rows]
    if order != sorted(order):
        out.append("not ordered by (score DESC, key ASC)")
    return out


def same_hits(got, want) -> bool:
    """Rank-for-rank equality of [(conv_id, turn_idx, score)] lists."""
    return len(got) == len(want) and all(
        (g[0], g[1]) == (w[0], w[1])
        and math.isclose(g[2], w[2], rel_tol=SCORE_TOL, abs_tol=SCORE_TOL)
        for g, w in zip(got, want)
    )


def oracle_engine(frames: list[pd.DataFrame]) -> PyRefEngine:
    eng = PyRefEngine()
    latest = inputs.keep_latest(pd.concat(frames, ignore_index=True))
    for r in latest.itertuples(index=False):
        eng.index((r.conv_id, int(r.turn_idx)), r.text, role=r.role, tool=r.tool, ts=r.ts)
    return eng


def oracle_hits(eng: PyRefEngine, q: inputs.Query) -> list:
    kw = q.engine_kwargs()

    def passes(doc) -> bool:
        return all(
            doc["ts"] >= v if col == "ts_min" else doc[col] == v
            for col, v in q.filters.items()
        )

    hits = eng.match(kw["query_text"], k=q.k, operator=kw["operator"],
                     minimum_should_match=kw["minimum_should_match"],
                     filter_fn=passes if q.filters else None)
    return [(key[0], key[1], s) for key, s in hits]


class Checker:
    """Collects failures per operation index."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(inputs.stream_seed(seed, 4))
        self.failed: dict[int, list[str]] = {}
        self.counts = {"oracle": 0, "agreement": 0, "marker": 0}

    def fail(self, i: int, why: str) -> None:
        self.failed.setdefault(i, []).append(why)

    def structure(self, ops) -> None:
        for i, op in enumerate(ops):
            if op.error is not None:
                self.fail(i, op.error)
            elif op.kind == "msearch":
                for qi, q in enumerate(op.queries):
                    for p in structure_problems(op.rows[qi], q.k):
                        self.fail(i, f"query {q.qid}: {p}")
            elif op.kind == "refresh":
                b = op.batch
                self.counts["marker"] += 1
                keys = {(c, t) for c, t, _ in op.rows}
                if keys != set(b.marker_keys) or len(op.rows) != len(b.marker_keys):
                    self.fail(i, f"marker {b.marker}: {len(op.rows)} rows, "
                                 f"{len(keys & b.marker_keys)} of {len(b.marker_keys)} marked")
            else:
                for p in structure_problems(op.rows, op.queries[0].k):
                    self.fail(i, p)

    def sample(self, candidates: list, n: int) -> list:
        if len(candidates) <= n:
            return list(candidates)
        idx = self.rng.choice(len(candidates), size=n, replace=False)
        return [candidates[j] for j in sorted(idx)]

    def oracle(self, eng: PyRefEngine, pairs: list) -> None:
        """``pairs``: (op index, query, engine rows) to compare with the oracle."""
        for i, q, rows in pairs:
            self.counts["oracle"] += 1
            want = oracle_hits(eng, q)
            if not same_hits(rows, want):
                self.fail(i, f"oracle mismatch on query {q.qid} {q.text!r}: "
                             f"got {rows[:3]}..., want {want[:3]}...")

    def agreement(self, pairs: list, single) -> None:
        """``pairs``: (op index, query, msearch rows); ``single(q)`` -> rows."""
        for i, q, rows in pairs:
            self.counts["agreement"] += 1
            alone = single(q)
            if not same_hits(rows, alone):
                self.fail(i, f"msearch/single disagree on query {q.qid} {q.text!r}")
