"""Unit tests for the operator long tail: suggest, highlight, rescore,
common-terms split, MLT term selection, scripted_metric, percentile_ranks."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import IndexReader, build_index
from elasticsearch_spark.ops import aggs
from elasticsearch_spark.ops.highlight import highlight
from elasticsearch_spark.ops.mlt import common_terms_split, more_like_this, select_mlt_terms
from elasticsearch_spark.ops.rescore import rescore
from elasticsearch_spark.ops.suggest import phrase_suggest, term_suggest


@pytest.fixture(scope="module")
def reader(spark, tmp_root):
    corpus = generate_transcripts(n_convs=30, seed=3)
    idx = f"{tmp_root}/idx_ops_extra"
    cfg = IndexConfig(stored_cols=("role",), n_partitions=2, dedup_latest_by="ts")
    build_index(spark, spark.createDataFrame(corpus), idx, cfg)
    return IndexReader(spark, idx)


def test_term_suggest_corrects_typo(reader):
    out = term_suggest(reader, "erorr")  # 'error' is a seeded hot term
    assert "erorr" in out
    suggs = [s for s, _, _ in out["erorr"]]
    assert "error" in suggs
    # known term -> nothing to correct
    out2 = term_suggest(reader, "error")
    assert out2["error"] == []


def test_phrase_suggest(reader):
    assert phrase_suggest(reader, "erorr timeout") == "error timeout"


def test_suggest_ranked_by_distance_then_df(reader):
    out = term_suggest(reader, "tok000", size=5)
    rows = out["tok000"]
    assert rows, "expected suggestions near tok000x family"
    dists = [d for _, d, _ in rows]
    assert dists == sorted(dists)


def test_highlight_wraps_matches(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "no match here at all")],
        "id int, text string",
    )
    out = {r["id"]: r["highlight"] for r in highlight(df, "text", ["quick", "jumps"]).collect()}
    assert "<em>quick</em>" in out[1] and "<em>jumps</em>" in out[1]
    assert out[2] is None


def test_rescore_combines_and_reorders(spark):
    hits = spark.createDataFrame(
        [(1, 10.0, 5.0), (2, 9.0, 100.0), (3, 8.0, 0.0), (4, 1.0, 999.0)],
        "id int, score double, boost double",
    )
    out = rescore(
        hits, "score", F.col("boost"), ["id"], window_size=3, score_mode="total"
    ).collect()
    # window=3: ids 1..3 rescored (15, 109, 8); id 4 keeps 1.0
    assert [(r["id"], r["score"]) for r in out] == [
        (2, 109.0), (1, 15.0), (3, 8.0), (4, 1.0)
    ]


def test_common_terms_split(reader):
    low, high = common_terms_split(reader, "error rareterm000", cutoff_frequency=0.05)
    assert "error" in high      # seeded hot term: df/N > 5%
    assert "rareterm000" in low


def test_mlt_selects_distinctive_terms(reader):
    terms = select_mlt_terms(reader, "rareterm000 error tok0001 tok0001", max_query_terms=2)
    # rare term has the highest idf; tf=2 boosts tok0001 over single 'error'
    assert terms[0] == "rareterm000"
    assert more_like_this(reader, "rareterm000 error", k=5).count() > 0


def test_scripted_metric_applyinpandas(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0)], "g string, v double"
    )

    def mr(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"g": [pdf["g"].iloc[0]], "geo_mean": [
            float(math.exp(pdf["v"].map(math.log).mean()))
        ]})

    out = {r["g"]: r["geo_mean"] for r in aggs.scripted_metric(
        df, ["g"], mr, "g string, geo_mean double"
    ).collect()}
    assert abs(out["a"] - math.sqrt(3.0)) < 1e-12
    assert abs(out["b"] - 10.0) < 1e-12


def test_percolate_matches_queries(spark):
    from elasticsearch_spark.ops.percolate import percolate

    docs = spark.createDataFrame(
        [
            ("c1", 0, "user", "error timeout while reading"),
            ("c1", 1, "assistant", "retry the request"),
            ("c2", 0, "user", "all good no problems"),
            ("c2", 1, "assistant", "error detected please retry now"),
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    queries = {
        "q_err_or_retry": "error OR retry",
        "q_err_and_retry": "error AND retry",
        "q_phrase": '"please retry"',
        "q_role": "role:assistant retry",
        "q_not": "error -timeout",
    }
    out = {
        (r["conv_id"], r["turn_idx"]): sorted(r["matched_queries"])
        for r in percolate(docs, queries).collect()
    }
    assert out[("c1", 0)] == ["q_err_or_retry"]
    assert out[("c1", 1)] == ["q_err_or_retry", "q_role"]
    assert out[("c2", 1)] == [
        "q_err_and_retry", "q_err_or_retry", "q_not", "q_phrase", "q_role"
    ]
    assert ("c2", 0) not in out


def test_percentile_ranks_exact(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "v double")
    row = aggs.percentile_ranks(df, "v", [25.0, 50.5, 100.0]).collect()[0]
    assert row["rank_25_0"] == 25.0
    assert row["rank_50_5"] == 50.0
    assert row["rank_100_0"] == 100.0


def test_phrase_suggest_lm_rerank(spark, tmp_root):
    """The bigram LM must override raw doc-frequency: 'ten' is the more
    frequent unigram, but 'green tea' is the corpus bigram, so the
    correction of 'green tec' is 'green tea' (StupidBackoffScorer shape)."""
    import pandas as pd

    from elasticsearch_spark.config import IndexConfig
    from elasticsearch_spark.index import IndexReader, build_index
    from elasticsearch_spark.ops.suggest import (
        bigram_counts,
        phrase_suggest,
        phrase_suggest_scored,
    )

    texts = (
        ["green tea leaves brewed"] * 3
        + ["ten reasons", "ten more", "ten again", "ten fine", "count ten"]
    )
    corpus = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "text": texts,
        }
    )
    idx = f"{tmp_root}/idx_lm_suggest"
    build_index(spark, spark.createDataFrame(corpus), idx, IndexConfig(n_partitions=2))
    reader = IndexReader(spark, idx)

    # df(ten)=5 > df(tea)=3, both 1 edit from 'tec' with prefix 't'
    assert bigram_counts(reader, [("green", "tea"), ("green", "ten")]) == {
        ("green", "tea"): 3,
        ("green", "ten"): 0,
    }
    assert phrase_suggest(reader, "green tec") == "green tea"
    scored = phrase_suggest_scored(reader, "green tec")
    assert scored[0][0] == "green tea"
    assert {s for s, _ in scored} >= {"green tea", "green ten"}
    assert scored[0][1] > dict(scored)["green ten"]


def test_term_suggest_multi_token_single_pass(reader):
    """Several unknown tokens corrected in one call (one dictionary scan)."""
    out = term_suggest(reader, "erorr timeuot")
    assert out["erorr"] and out["erorr"][0][0] == "error"
    assert out["timeuot"] and out["timeuot"][0][0] == "timeout"


def test_completion_suggest_prefix_ranked(reader):
    from elasticsearch_spark.ops.suggest import completion_suggest

    out = completion_suggest(reader.termstats(), "t", size=5).collect()
    assert out and all(r["completion"].startswith("t") for r in out)
    dfs = [r["df"] for r in out]
    assert dfs == sorted(dfs, reverse=True)


def test_ttl_predicates(spark):
    import pandas as pd

    from elasticsearch_spark.ops import filters

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3],
                "ts": pd.to_datetime(
                    ["2024-01-01", "2024-01-20", "2024-01-28"]
                ),
            }
        )
    )
    live = {r["id"] for r in df.where(
        filters.ttl_live("ts", "2024-01-25 00:00:00", 10 * 86400)
    ).collect()}
    dead = {r["id"] for r in df.where(
        filters.ttl_expired("ts", "2024-01-25 00:00:00", 10 * 86400)
    ).collect()}
    assert live == {2, 3} and dead == {1}


def test_match_count_operator_semantics(spark):
    """_count API analog: operator and minimum_should_match semantics."""
    from elasticsearch_spark.config import AnalyzerConfig
    from elasticsearch_spark.query.online import match_count

    df = spark.createDataFrame(
        [("query fast merge",), ("query slow",), ("fast lane",), ("none here",)],
        "text string",
    )
    simple = AnalyzerConfig(kind="simple")
    get = lambda **kw: match_count(df, "query fast", analyzer=simple, **kw).collect()[0]["total"]  # noqa: E731
    assert get() == 3                       # OR, msm 1
    assert get(operator="and") == 1         # both terms required
    assert get(minimum_should_match=2) == 1
    from elasticsearch_spark.query.online import match_count as mc
    assert mc(df, "", analyzer=simple).collect()[0]["total"] == 0


def test_terms_agg_order_by_subagg(spark):
    from pyspark.sql import functions as F

    from elasticsearch_spark.ops.aggs import terms_agg_subaggs

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 100), ("b", 2), ("c", 60)],
        "cat string, v int",
    )
    out = terms_agg_subaggs(
        df, "cat", {"avg_v": F.avg("v"), "max_v": F.max("v")},
        order_by="avg_v", size=2,
    ).collect()
    # avg: c=60, b=51, a=15 -> top2 by avg desc = c, b
    assert [(r["cat"], r["doc_count"], r["avg_v"], r["max_v"]) for r in out] == [
        ("c", 1, 60.0, 60), ("b", 2, 51.0, 100)
    ]


# --- ipv4 functions + ip_range agg (IpFieldMapper.java:375, bucket/range/ipv4/)


def test_ip_long_roundtrip_and_cidr():
    from elasticsearch_spark.functions.ip import cidr_range, ip_to_long, long_to_ip

    assert ip_to_long("0.0.0.0") == 0
    assert ip_to_long("255.255.255.255") == 2**32 - 1
    assert ip_to_long("10.0.8.0") == 167774208
    assert long_to_ip(167774208) == "10.0.8.0"
    assert cidr_range("10.0.0.0/19") == (167772160, 167780352)
    assert cidr_range("10.0.13.7/19") == (167772160, 167780352)  # host bits masked
    assert cidr_range("0.0.0.0/0") == (0, 2**32)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ip_to_long("10.0.8")
    with _pytest.raises(ValueError):
        ip_to_long("10.0.8.256")


@pytest.mark.parametrize("ip", [
    " 1.2.3.4", "+1.2.3.4", "1.2.3.4\n", "1.2.3.\u0664", "1_0.0.0.1", "0001.2.3.4",
])
def test_ip_to_long_rejects_malformed_octets(ip):
    """IpFieldMapper.ipToLong: each octet is 1-3 ASCII digits."""
    from elasticsearch_spark.functions.ip import ip_to_long

    with pytest.raises(ValueError):
        ip_to_long(ip)


def test_ip_range_agg(spark):
    from elasticsearch_spark.ops.aggs import ip_range_agg

    rows = [("10.0.0.5",), ("10.0.8.1",), ("10.0.9.200",), ("10.1.0.1",)]
    df = spark.createDataFrame(rows, "ip string")
    out = {
        r["range_key"]: r["doc_count"]
        for r in ip_range_agg(
            df, "ip", [(None, "10.0.8.0"), ("10.0.8.0", "10.0.32.0"), "10.0.0.0/19"]
        ).collect()
    }
    # overlap allowed: the CIDR bucket double-counts the first three rows
    assert out == {
        "*-10.0.8.0": 1,
        "10.0.8.0-10.0.32.0": 2,
        "10.0.0.0/19": 3,
    }
