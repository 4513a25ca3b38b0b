"""Physical-plan audit: assert the plans we designed for are the plans we get.

Checks, via .explain output (no job execution):
  - postings term lookup: parquet PushedFilters carries the term predicate
    (row-group pruning on the term-sorted layout)
  - doc fetch/filter: partition pruning on segment_id + pushed column filter
  - small-dim joins: BroadcastHashJoin, not SortMergeJoin
  - hot paths sit inside WholeStageCodegen spans
  - online BM25: one shuffle per aggregation level, no cartesian products
  - a held top-k result: chained use plans a local relation, no re-scan
Run: python scripts/plan_audit.py [sf_dir]  → prints PASS/FAIL lines.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from elasticsearch_spark import entry_queries  # noqa: E402
from elasticsearch_spark.session import get_spark  # noqa: E402

FAILS = []


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name: str, plan: str, must: list[str] = (), must_not: list[str] = ()):
    ok = True
    for m in must:
        if m.lower() not in plan.lower():
            FAILS.append((name, f"missing: {m}"))
            ok = False
    for m in must_not:
        if m.lower() in plan.lower():
            FAILS.append((name, f"present: {m}"))
            ok = False
    print(("PASS  " if ok else "FAIL  ") + name)
    return plan


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(cores=4, shuffle_partitions=8, app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    # uncached reader: pushdown must be visible at the parquet scan
    from elasticsearch_spark.index import IndexReader

    cached = entry_queries._indexed_reader(spark, sf)  # ensures index exists
    spark.catalog.clearCache()  # pushdown must be visible at the parquet scan
    reader = IndexReader(spark, cached.index_dir)

    # 1. postings term lookup → pushed filter on term
    p = reader.postings().where(F.col("term").isin(["data", "query"]))
    check("postings_term_pushdown", plan_of(p), must=["PushedFilters: [In(term"])

    # 2. docs filter → pushed + partition-pruned scan, pruned columns
    d = (
        reader.docs()
        .where((F.col("segment_id") == "00000-000") & (F.col("lang") == "en"))
        .select("local_doc_id")
    )
    check(
        "docs_filter_pushdown",
        plan_of(d),
        must=["EqualTo(lang,en)"],
        must_not=["doc_len_packed"],  # column pruning: only needed cols read
    )

    # 3. terms-lookup join → broadcast, codegen
    li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    sup = spark.read.parquet(os.path.join(sf, "supplier.parquet"))
    j = li.join(
        F.broadcast(sup.where(F.col("s_nationkey") == 3).select("s_suppkey")),
        li.l_suppkey == F.col("s_suppkey"),
        "left_semi",
    )
    check(
        "terms_lookup_broadcast",
        plan_of(j),
        must=["BroadcastHashJoin"],
        must_not=["SortMergeJoin", "CartesianProduct"],
    )

    # 4. online BM25 plan: broadcasted stats joins, no cartesian
    q = entry_queries._online(spark, sf, "data query", k=10)
    check(
        "online_bm25_shape",
        plan_of(q),
        must=["BroadcastHashJoin", "HashAggregate", "TakeOrderedAndProject"],
        must_not=["CartesianProduct"],
    )

    # 5. rescore over an unbounded hit set: bounded TakeOrderedAndProject
    #    gather, no global row_number Window (the single-task funnel)
    r = entry_queries._QUERIES["rescore_window"](spark, sf)
    check(
        "rescore_bounded_window",
        plan_of(r),
        must=["TakeOrderedAndProject"],
        must_not=["Window"],
    )

    # 6. lineitem agg: partial/final hash agg in codegen, projection pruned
    a = (
        li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    pa_ = check(
        "agg_partial_final",
        plan_of(a),
        must=["HashAggregate"],
    )
    if "ReadSchema" in pa_ and "l_extendedprice" in pa_:
        FAILS.append(("agg_partial_final", "scan reads unneeded columns"))
        print("FAIL  agg_partial_final (column pruning)")

    # 7. phrase-suggester bigram LM: term-pruned postings scan feeding a
    #    per-segment Arrow kernel + global sum — NO postings collect. Only
    #    the (pair, count) aggregate (vocabulary-bounded) reaches the driver.
    from elasticsearch_spark.ops.suggest import _bigram_counts_df

    def _noop_kernel(it):
        import pandas as pd

        for _ in it:
            yield pd.DataFrame({"a": [], "b": [], "cnt": []})

    bg = _bigram_counts_df(reader, ["data", "query"], _noop_kernel)
    check(
        "bigram_lm_distributed",
        plan_of(bg),
        must=["FlatMapGroupsInPandas", "HashAggregate", "PushedFilters: [In(term"],
        must_not=["CartesianProduct"],
    )

    # 8. MERGE-shaped update: small batch broadcast against the corpus —
    #    one join, no shuffle of the big side, no cartesian
    u = entry_queries._QUERIES["update_merge_upsert"](spark, sf)
    check(
        "update_merge_broadcast",
        plan_of(u),
        must=["BroadcastHashJoin"],
        must_not=["SortMergeJoin", "CartesianProduct"],
    )

    # 9. weighted completion over the PERSISTED dictionary (input stored
    #    pre-lowercased, range-sorted): prefix predicate pushed to the
    #    scan (StringStartsWith), tiny top-k after one small agg
    docs_parq = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    from elasticsearch_spark.ops.suggest import (
        build_completion_entries,
        completion_suggest_weighted,
        read_completion_entries,
        write_completion_entries,
    )

    comp_dir = "/tmp/es_spark_plan_audit_completion"
    write_completion_entries(
        build_completion_entries(
            docs_parq, "source", "n_chars", "source",
            F.col("doc_id").cast("string"),
        ),
        comp_dir,
    )
    c = completion_suggest_weighted(read_completion_entries(spark, comp_dir), "src1", size=5)
    check(
        "completion_prefix_pushdown",
        plan_of(c),
        must=["StringStartsWith", "TakeOrderedAndProject"],
        must_not=["CartesianProduct"],
    )

    # 10. msearch batch: ONE term-pruned postings scan (union of all
    #     queries' terms) feeding the cogrouped multi-query kernel —
    #     no per-query scan, no cartesian. The candidate plan is built by
    #     the shared executor from msearch's per-query entries.
    from elasticsearch_spark.query import executor as _exec
    from elasticsearch_spark.query.msearch import _msearch_queries, msearch_topk

    ms_queries = [
        {"query_text": "data"},
        {"query_text": "query merge", "operator": "and"},
    ]
    ms_cand = _exec._spark_candidates(
        reader, _exec._plan(reader, _msearch_queries(reader, ms_queries, k=10))
    )
    ms_plan = plan_of(ms_cand)
    check(
        "msearch_one_scan",
        ms_plan,
        must=["FlatMapCoGroupsInPandas", "PushedFilters: [In(term"],
        must_not=["CartesianProduct"],
    )
    if ms_plan.count("PushedFilters: [In(term") > 1:
        FAILS.append(("msearch_one_scan", "more than one postings scan"))
        print("FAIL  msearch_one_scan (duplicate postings scans)")

    # 11. msearch distributed-merge escape hatch: past the gather bound the
    #     per-query top-k cut runs in Spark (rank window per query_id +
    #     broadcast k-map) BEFORE collect — the driver never sees
    #     segments x queries x k rows. Force the hatch (budget 0) on the
    #     Spark runner ("auto" answers this batch on the driver) and spy
    #     on the ACTUAL msearch candidate collect, as check 15 does.
    # patch the CONCRETE DataFrame class — in pyspark 4 the classic
    # session's instances override collect(), so patching the base
    # pyspark.sql.DataFrame never intercepts
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # older pyspark: one DataFrame class
        from pyspark.sql import DataFrame as _DF

    captured: list[str] = []
    _orig_collect = _DF.collect

    def _spy_collect(self):
        captured.append(plan_of(self))
        return _orig_collect(self)

    _old_budget = _exec._GATHER_MAX_ROWS
    _exec._GATHER_MAX_ROWS = 0
    _DF.collect = _spy_collect
    try:
        msearch_topk(reader, ms_queries, k=10, mode="spark")
    finally:
        _DF.collect = _orig_collect
        _exec._GATHER_MAX_ROWS = _old_budget
    ms_gather = [p for p in captured if "flatmapcogroupsinpandas" in p.lower()]
    if not ms_gather:
        FAILS.append(("msearch_bounded_gather", "no msearch gather collect seen"))
        print("FAIL  msearch_bounded_gather (no msearch gather collect seen)")
    else:
        check(
            "msearch_bounded_gather",
            ms_gather[0],
            must=["Window", "BroadcastHashJoin"],
            must_not=["CartesianProduct", "SortMergeJoin"],
        )

    # 12. date-math range filter: resolved driver-side to a CONSTANT, so the
    #     timestamp predicate reaches the parquet scan (PushedFilters —
    #     partition/row-group pruning on a time-partitioned table)
    from elasticsearch_spark.functions.datemath import parse_date_math

    ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
    dm = ev.where(
        F.col("ts") >= F.lit(parse_date_math("now-10d/d", now="2024-01-25 13:45:00"))
    ).select("event_id")
    check(
        "date_math_constant_pushdown",
        plan_of(dm),
        must=["PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"],
        must_not=["FlatMapGroupsInPandas", "Exchange"],
    )

    # 13. TTL expiry plan: ONE partial/final hash aggregation over the
    #     partition key — no joins, no second corpus pass
    from elasticsearch_spark.ops.filters import ttl_expiry_plan

    ttl = ttl_expiry_plan(ev, "ts", "2024-01-25 00:00:00", 10 * 86400)
    ttl_plan = plan_of(ttl)
    check(
        "ttl_expiry_single_agg",
        ttl_plan,
        must=["HashAggregate"],
        must_not=["SortMergeJoin", "CartesianProduct", "BroadcastHashJoin"],
    )
    # exactly one scan: formatted explain names each scan node once in the
    # details section as "(n) Scan parquet"
    if ttl_plan.count("ReadSchema") > 1:
        FAILS.append(("ttl_expiry_single_agg", "more than one corpus scan"))
        print("FAIL  ttl_expiry_single_agg (duplicate scans)")

    # 14. fuzzy_like_this bounded expansion: the max_query_terms cut runs
    #     IN Spark (TakeOrderedAndProject over the pushed candidate scan) —
    #     the driver never collects an uncapped fuzzy expansion set. Spied
    #     on the ACTUAL internal collect, not a re-created shape.
    from elasticsearch_spark.ops.mlt import fuzzy_like_this

    captured.clear()
    _DF.collect = _spy_collect
    try:
        fuzzy_like_this(reader, "merge quary", fuzziness=1, max_query_terms=5)
    finally:
        _DF.collect = _orig_collect
    exp_plans = [p for p in captured if "levenshtein" in p.lower()]
    if not exp_plans:
        FAILS.append(("fuzzy_like_this_bounded_expansion", "no expansion collect seen"))
        print("FAIL  fuzzy_like_this_bounded_expansion (no expansion collect seen)")
    else:
        check(
            "fuzzy_like_this_bounded_expansion",
            exp_plans[0],
            must=["TakeOrderedAndProject"],
            must_not=["CartesianProduct"],
        )

    # 15. single-query distributed-merge escape hatch (query/executor.py):
    #     past the gather budget (segments x k candidate rows) the global
    #     top-k tie-group cut runs as a rank() window in Spark BEFORE the
    #     driver collect. Force the hatch (budget 0), assert the actually
    #     collected candidate plan carries the Window, and that results are
    #     rank/score-identical to the un-hatched path.
    base = [
        (r["doc_id"], round(r["score"], 9))
        for r in _exec.search_topk(reader, "data merge", k=5, mode="spark").collect()
    ]
    captured.clear()
    _old_budget = _exec._GATHER_MAX_ROWS
    _exec._GATHER_MAX_ROWS = 0
    _DF.collect = _spy_collect
    try:
        hatched_df = _exec.search_topk(reader, "data merge", k=5, mode="spark")
    finally:
        _DF.collect = _orig_collect
        _exec._GATHER_MAX_ROWS = _old_budget
    hatched = [
        (r["doc_id"], round(r["score"], 9)) for r in hatched_df.collect()
    ]
    gather_plans = [p for p in captured if "flatmapcogroupsinpandas" in p.lower()]
    if not gather_plans:
        FAILS.append(("search_bounded_gather", "no scatter/gather collect seen"))
        print("FAIL  search_bounded_gather (no scatter/gather collect seen)")
    else:
        check(
            "search_bounded_gather",
            gather_plans[0],
            must=["Window"],
            must_not=["CartesianProduct"],
        )
    if hatched != base:
        FAILS.append(("search_bounded_gather", "hatched results differ from base"))
        print("FAIL  search_bounded_gather (hatched results differ)")

    # 16. held top-k result (query/executor.py HeldResult): the plan a
    #     chained query builds from it is a local relation of the held
    #     rows — no postings or docs scan, so explain() or a chained query
    #     never runs the search again.
    held = _exec.search_topk(reader, "data merge", k=5).orderBy("score")
    check(
        "held_result_local_plan",
        plan_of(held),
        must=["LocalTableScan"],
        must_not=["Scan parquet", "FlatMapCoGroupsInPandas"],
    )

    print()
    if FAILS:
        for n, why in FAILS:
            print("FAIL:", n, "—", why)
        sys.exit(1)
    print("ALL PLAN CHECKS PASS")


if __name__ == "__main__":
    main()
