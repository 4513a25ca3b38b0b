"""Seeded inputs for the benchmark: base corpus, query stream, ingest batches.

Everything here is pure pandas/numpy and runs before any clock starts. One
seed drives all three inputs, so the same seed always gives the same corpus,
the same queries and the same micro-batches.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from elasticsearch_spark.fixtures.transcripts import (
    HOT_TERMS,
    RARE_PREFIX,
    generate_transcripts,
)

KEY_COLS = ("conv_id", "turn_idx")
VOCAB_SIZE = 5000  # tok0000..tok4999, Zipf-ranked in the fixture
N_RARE = 20  # rareterm000..rareterm019, df == 1 in the base corpus

# query-term strata and their draw weights
STRATA = ("hot", "zipf", "rare", "absent")
STRATA_P = (0.25, 0.55, 0.10, 0.10)

# Stratified schedule: slot i of the stream takes its operator from
# OPERATORS[i % 4], its k from KS[i % 5] and is filtered when i % 3 == 2.
# The periods are coprime, so every run holds the same class shares and
# every (operator, k, filtered) combination, whatever the seed.
OPERATORS = ("or", "and", "or", "msm2")
KS = (10, 1, 10, 100, 10)
# filtered slots cycle term filter -> ts range -> term filter + ts range
FILTER_KINDS = ("term", "range", "term+range")
# the small repeated set of role/tool term filters
TERM_FILTERS = (
    {"role": "assistant"},
    {"role": "user"},
    {"tool": "bash"},
    {"tool": "search"},
    {"role": "assistant", "tool": "search"},
)


@dataclass(frozen=True)
class Query:
    qid: int
    text: str
    operator: str  # "or" | "and" | "msm2"
    k: int
    filters: dict = field(default_factory=dict)  # role / tool / ts_min
    has_hot: bool = False

    @property
    def filtered(self) -> bool:
        return bool(self.filters)

    @property
    def cls(self) -> str:
        return "filtered" if self.filters else "match"

    def engine_kwargs(self) -> dict:
        """search_topk / msearch spec arguments, filter column excluded."""
        return {
            "query_text": self.text,
            "k": self.k,
            "operator": "and" if self.operator == "and" else "or",
            "minimum_should_match": 2 if self.operator == "msm2" else 1,
        }

    def filter_key(self) -> tuple:
        return tuple(sorted((k, str(v)) for k, v in self.filters.items()))


def stream_seed(seed: int, *stream: int) -> int:
    """A 32-bit seed for one input stream of run ``seed``.

    ``--seed`` may be any integer, but the fixture's pandas shuffle and numpy's
    legacy seeding take only 0 <= seed < 2**32; hashing (seed, stream) keeps
    every stream in range and independent of the others."""
    digest = hashlib.sha256(repr((seed, *stream)).encode()).digest()
    return int.from_bytes(digest[:4], "little")


def sized_transcripts(seed: int, n_turns: int) -> pd.DataFrame:
    """``generate_transcripts`` with as many conversations as it takes to
    reach ``n_turns`` turns (plus its 1% late duplicates).

    The fixture draws per-conversation turn counts first, from a generator
    seeded with ``seed``; replaying that draw picks the conversation count,
    so corpus size no longer swings ~10% with the seed's Zipf draw.
    ``seed`` goes to the fixture as is: pass a ``stream_seed``."""
    turns = np.minimum(1 + np.random.default_rng(seed).zipf(1.4, size=n_turns), 64)
    n_convs = int(np.searchsorted(np.cumsum(turns), n_turns)) + 1
    return generate_transcripts(n_convs=n_convs, seed=seed)


def text_bytes(df: pd.DataFrame) -> int:
    return int(df["text"].map(lambda s: len(s.encode("utf-8"))).sum())


def _term(rng: np.random.Generator) -> tuple[str, bool]:
    stratum = STRATA[rng.choice(len(STRATA), p=STRATA_P)]
    if stratum == "hot":
        return HOT_TERMS[int(rng.integers(len(HOT_TERMS)))], True
    if stratum == "zipf":
        rank = min(int(rng.zipf(1.3)) - 1, VOCAB_SIZE - 1)
        return f"tok{rank:04d}", False
    if stratum == "rare":
        return f"{RARE_PREFIX}{int(rng.integers(N_RARE)):03d}", False
    return f"zzabsent{int(rng.integers(10**6)):06d}", False


def query_stream(seed: int, corpus: pd.DataFrame, n: int) -> list[Query]:
    """``n`` seeded queries over the corpus's vocabulary strata."""
    rng = np.random.default_rng(stream_seed(seed, 1))
    ts = corpus["ts"]
    ts_lo, ts_span = ts.min(), (ts.max() - ts.min()).total_seconds()
    out = []
    for i in range(n):
        op = OPERATORS[i % len(OPERATORS)]
        n_terms = int(rng.integers(1, 5)) if op == "or" else int(rng.integers(2, 5))
        drawn = [_term(rng) for _ in range(n_terms)]
        filters: dict = {}
        if i % 3 == 2:
            kind = FILTER_KINDS[(i // 3) % len(FILTER_KINDS)]
            if kind != "range":
                filters.update(TERM_FILTERS[int(rng.integers(len(TERM_FILTERS)))])
            if kind != "term":
                # a fresh bound every time: never repeats an earlier predicate
                frac = float(rng.uniform(0.05, 0.95))
                filters["ts_min"] = ts_lo + pd.Timedelta(seconds=frac * ts_span)
        out.append(
            Query(
                qid=i,
                text=" ".join(t for t, _ in drawn),
                operator=op,
                k=KS[i % len(KS)],
                filters=filters,
                has_hot=any(h for _, h in drawn),
            )
        )
    return out


def warmup_queries(corpus: pd.DataFrame, n: int = 8) -> list[Query]:
    """Fixed warm-up set: the same seed-0 stream slice for every run."""
    return query_stream(0, corpus, n)


@dataclass
class Batch:
    index: int
    frame: pd.DataFrame
    marker: str
    marker_keys: frozenset  # keys whose latest version carries the marker


def ingest_batch(seed: int, i: int, n_turns: int, after_ts: pd.Timestamp,
                 n_marked: int = 5) -> Batch:
    """Micro-batch ``i``: new conversations (prefixed keys, later timestamps)
    with a batch-unique marker term on ``n_marked`` keys' latest rows."""
    pdf = sized_transcripts(stream_seed(seed, 2, i), n_turns)
    pdf["conv_id"] = f"b{i:03d}-" + pdf["conv_id"]
    pdf["ts"] = pdf["ts"] - pdf["ts"].min() + after_ts + pd.Timedelta(minutes=1)
    latest = pdf.sort_values("ts").groupby(list(KEY_COLS)).tail(1)
    rng = np.random.default_rng(stream_seed(seed, 3, i))
    marked = rng.choice(latest.index.to_numpy(), size=n_marked, replace=False)
    marker = f"batchmark{i:03d}"
    pdf.loc[marked, "text"] = pdf.loc[marked, "text"] + " " + marker
    keys = frozenset(
        (c, int(t)) for c, t in zip(pdf.loc[marked, "conv_id"], pdf.loc[marked, "turn_idx"])
    )
    return Batch(i, pdf, marker, keys)


def keep_latest(pdf: pd.DataFrame) -> pd.DataFrame:
    """Keep-latest rows per key — what the index must hold (dedup_latest_by=ts)."""
    return pdf.sort_values("ts").groupby(list(KEY_COLS), as_index=False).tail(1)
