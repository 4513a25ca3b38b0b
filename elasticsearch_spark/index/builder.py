"""Partition-parallel inverted-index builder.

The Spark analog of the reference's indexing path (SURVEY.md §3.2):

  bulk routing  shardId = murmur3(routing) mod numShards
    (cluster/routing/operation/plain/PlainOperationRouting.java:265-286)
  → per-shard Lucene segment construction
    (index/engine/internal/InternalEngine.java:571-622, refresh :814-848)
  → translog/commit-point durability
    (index/translog/Translog.java, LocalIndexShardGateway.java:113-161)

Here:
  pid = pmod(murmur3(*routing_cols), n_partitions)  -- one shuffle, total
    (default: ALL key cols = the reference's _id routing, balanced under
    Zipf group sizes; routing_col opts into co-location like ?routing=)
  → repartition(n, *routing_cols).sortWithinPartitions(pid, *key_cols)
    (shuffling on the routing cols themselves puts exactly ONE pid in
    each task — pid is the partition index by construction)
  → mapInPandas streams Arrow batches, accumulates one pid at a time and
    flushes immutable parquet *segments* (postings blocks, doc table, packed
    norms, per-segment term stats) directly from the task — like a Lucene
    flush. Deterministic file names + contents ⇒ task retries and
    checkpoint-resume are idempotent and byte-identical.
  → the returned manifest rows (per-partition lineage + metrics: docs,
    terms, postings bytes, checksum) are committed by the driver through
    index/manifest.py — the translog/commit-point analog. Resume skips
    committed pids.

A small input (Catalyst's size estimate ≤ ``_DRIVER_BUILD_BYTES``, e.g. an
NRT refresh batch) on a driver-readable store skips the shuffles: one
``toArrow()``, keep-latest dedup and the (pid, keys) sort in pyarrow, and
the same segment kernel run on the driver over the batches a task would
get — the same files, byte for byte, with at most one Spark job. The
kernel encodes a segment's blocks as arrays (``codec.pack_blocks``), with
no loop over terms or blocks.

Scale notes (100 TB design): the only full-data shuffle is the routing
repartition. Segment construction is memory-bounded via
``max_docs_per_segment`` flushes. Global term statistics (DFS semantics,
search/dfs/DfsPhase.java:63-104) are one group-by over the small
per-segment term-stats tables, written sorted by term so query-time term
lookups prune row groups; under ``_DRIVER_SEGTERMS_LIMIT`` it runs in
pyarrow on the driver, above it as a Spark job.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Iterator
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from elasticsearch_spark.analysis.analyzers import analyze_codes
from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.functions.smallfloat import effective_doc_length
from elasticsearch_spark.index import fsio, manifest
from elasticsearch_spark.index.codec import pack_blocks

PID_COL = "__pid"
# Index maintenance runs on the driver with pyarrow, and launches no Spark
# job, on a driver-readable store whose input is at most these sizes (both
# from the manifest; BENCH.md "Driver gates", 4 cores, local[4]):
# - a rebase merge, by Σ postings_bytes. The driver path costs ~0.4 s +
#   53 ms/MB, the Spark path ~2.0 s + 47 ms/MB (8.0 vs 8.2 s at 130 MB).
#   At 32 MB the driver's cost reaches the Spark path's fixed cost alone,
#   so up to it the driver wins however many cores Spark gets. The driver
#   process peaks ~4-6x the postings it merges above its Spark-path peak.
_DRIVER_POSTINGS_LIMIT = 32 << 20
# - the termstats republish, by Σ n_terms (segterms rows, its input). The
#   driver was faster at every size measured (0.2 s vs 1.4 s at 4M rows,
#   0.8 s vs 3.6 s at 16M); this caps the driver's memory, ~70 B a row.
_DRIVER_SEGTERMS_LIMIT = 4_000_000
# - the segment stage of a build, by Catalyst's size estimate of its input
#   (``_plan_bytes``: a local relation of transcripts counts 100 B a row, a
#   parquet scan its file bytes, an RDD-backed frame never fits). A refresh
#   of n turns on an 8,500-turn index took 0.27 s on the driver vs 0.65 s
#   in Spark at 700 turns, 0.72 vs 0.86 s at 4,000 and 1.43 vs 1.16 s at
#   8,500 (they tie near 5,500); the gate sits at ~4,000 rows. The tie
#   follows the text analyzed (~4-5 MB), not the rows: at ~4 kB a turn it
#   falls to ~1,000 turns, and 4,000 such rows took 2.95 s vs 1.53 s.
_DRIVER_BUILD_BYTES = 400_000

POSTINGS_SCHEMA = pa.schema([
    ("term", pa.string()),
    # int64: merged segments use composite (rank<<32 | ordinal) ids
    ("block_id", pa.int64()),
    ("n_docs", pa.int32()),
    ("first_doc", pa.int64()),
    ("last_doc", pa.int64()),
    ("max_tf", pa.int32()),
    ("min_dl_eff", pa.float64()),
    ("docs_packed", pa.binary()),
    ("tfs_packed", pa.binary()),
    # per-doc delta-encoded positions, entry lengths = tfs
    # (the .pos file analog; NULL when index_positions=False)
    ("pos_packed", pa.binary()),
])


@dataclass
class BuildResult:
    index_dir: str
    n_docs: int
    total_tokens: int
    n_segments: int
    n_partitions: int


def _write_deterministic(table: pa.Table, path: str, **kw) -> None:
    fsio.write_table_deterministic(
        table, path, compression="zstd", write_statistics=True,
        data_page_size=1 << 20, **kw,
    )


def _on_driver(index_dir: str, size: int, limit: int) -> bool:
    """True when index maintenance over an input of ``size`` runs on the
    driver (``limit``: one of the ``_DRIVER_*_LIMIT`` gates above)."""
    return fsio.driver_readable(index_dir) and size <= limit


def sum_term_stats(segterms: pa.Table) -> pa.Table:
    """Per-term Σ df, Σ ttf and max max_tf over segment term-stats rows,
    sorted by term."""
    agg = segterms.group_by("term").aggregate(
        [("df", "sum"), ("ttf", "sum"), ("max_tf", "max")]
    )
    return (
        agg.select(["term", "df_sum", "ttf_sum", "max_tf_max"])
        .rename_columns(["term", "df", "ttf", "max_tf"])
        .sort_by("term")
    )


def _flush_segment(
    pid: int,
    seq: int,
    frames: list[pd.DataFrame],
    cfg: IndexConfig,
    index_dir: str,
    segment_prefix: str = "",
    utc_cols: frozenset = frozenset(),
) -> dict:
    """Build one immutable segment from the pandas rows of one pid chunk.
    ``utc_cols``: TIMESTAMP columns, handed over as epoch micros."""
    pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    seg = f"{segment_prefix}{pid:05d}-{seq:03d}"
    n_docs = len(pdf)

    codes, uniques, doc_len = analyze_codes(pdf[cfg.text_col], cfg.analyzer)
    dl_eff = effective_doc_length(doc_len, quantize=cfg.bm25.quantize_norms)

    # exploded (local_doc_id, term, position) triples — vectorized
    lens = doc_len
    doc_rep = np.repeat(np.arange(n_docs, dtype=np.uint32), lens)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]]) if n_docs else np.array([], dtype=np.int64)
    pos_rep = (np.arange(int(lens.sum())) - np.repeat(starts, lens)).astype(np.uint32)
    # sort by (term, doc, pos) entirely in integer space: token codes ranked
    # by lexicographic term order, then one lexsort — several times faster
    # (and far more memory-bandwidth-friendly) than an object sort;
    # tf = run length per (term, doc), positions stay ascending inside runs
    # (Lucene .pos file order)
    order = np.argsort(uniques)
    rank_of_code = np.empty(len(uniques), dtype=np.int64)
    rank_of_code[order] = np.arange(len(uniques))
    term_rank = rank_of_code[codes] if len(codes) else np.array([], np.int64)
    sort_idx = np.lexsort((pos_rep, doc_rep, term_rank))
    s_rank = term_rank[sort_idx]
    s_docs = doc_rep[sort_idx]
    s_pos = pos_rep[sort_idx]
    n_flat = len(sort_idx)
    if n_flat:
        new_grp = np.empty(n_flat, dtype=bool)
        new_grp[0] = True
        new_grp[1:] = (s_rank[1:] != s_rank[:-1]) | (s_docs[1:] != s_docs[:-1])
        gstarts = np.flatnonzero(new_grp)
    else:
        gstarts = np.array([], dtype=np.int64)
    gends = np.append(gstarts[1:], n_flat)
    ranks_arr = s_rank[gstarts]
    docs_arr = s_docs[gstarts]
    tfs_arr = (gends - gstarts).astype(np.uint32)
    # per-doc-group delta-encoded positions (flat, group-aligned)
    pos_delta = s_pos.copy()
    if n_flat:
        pos_delta[1:] -= s_pos[:-1]
        pos_delta[gstarts] = s_pos[gstarts]
    # entry -> flat-position offset of the entry's first position
    entry_off = gstarts

    # term boundaries (ranks_arr sorted); uniq_terms in lexicographic order
    uniq_ranks, term_starts = np.unique(ranks_arr, return_index=True)
    term_ends = np.append(term_starts[1:], len(ranks_arr))
    sorted_uniques = uniques[order] if len(uniques) else uniques
    uniq_terms = (
        np.asarray(sorted_uniques, dtype=object)[uniq_ranks]
        if len(uniq_ranks)
        else np.array([], dtype=object)
    )

    # blocks of ``block_size`` entries within each term, then every block's
    # metadata and packed streams at once (reduceat + codec.pack_blocks)
    bs = cfg.block_size
    st_df = term_ends - term_starts
    within = np.arange(len(docs_arr)) - np.repeat(term_starts, st_df)
    blk = np.flatnonzero(within % bs == 0)  # each block's first entry
    blk_last = np.append(blk[1:], len(docs_arr)) - 1
    gaps = docs_arr.copy()  # delta_encode per block: its first id absolute
    gaps[1:] -= docs_arr[:-1]
    gaps[blk] = docs_arr[blk]
    streams = [pack_blocks(gaps, blk), pack_blocks(tfs_arr, blk)]
    if cfg.index_positions:  # a block's positions: its entries' flat range
        streams.insert(0, pack_blocks(pos_delta, entry_off[blk]))
    packed = [_binary(off, data) for off, data in streams]
    postings_bytes = sum(len(data) for _, data in streams)
    # the checksum runs over every block's (positions |) docs | tfs bytes
    nb = len(blk)
    mixed = pa.concat_arrays(packed).take(
        (np.arange(len(packed)) * nb + np.arange(nb)[:, None]).ravel()
    )
    h = hashlib.sha256(_binary_data(mixed))

    seg_dir = lambda sub: fsio.join(index_dir, sub, f"segment_id={seg}", "data.parquet")  # noqa: E731
    postings_tbl = pa.Table.from_arrays(
        [
            uniq_terms[np.repeat(np.arange(len(uniq_terms)), st_df)[blk]],
            within[blk] // bs,
            blk_last - blk + 1,
            docs_arr[blk],
            docs_arr[blk_last],
            _reduceat(np.maximum, tfs_arr, blk),
            _reduceat(np.minimum, dl_eff[docs_arr], blk),
            packed[-2],
            packed[-1],
            packed[0] if cfg.index_positions else pa.nulls(nb, pa.binary()),
        ],
        schema=POSTINGS_SCHEMA,
    )
    # small row groups on the term-sorted postings: parquet min/max stats
    # then prune a term lookup to ~1-2 groups per segment instead of the
    # whole file (measured: the driver-local query path read ALL 32
    # segment files fully per query with one whole-file group — the
    # dominant share of its ~0.5 s latency at sf0.1)
    _write_deterministic(postings_tbl, seg_dir("postings"), row_group_size=512)

    doc_cols = {
        "local_doc_id": pa.array(np.arange(n_docs, dtype=np.int32)),
        "doc_len": pa.array(doc_len, pa.int64()),
        "dl_eff": pa.array(dl_eff, pa.float64()),
    }
    for c in (*cfg.key_cols, *cfg.stored_cols):
        arr = pa.Array.from_pandas(pdf[c])
        if c in utc_cols:  # stored UTC-adjusted: Spark reads it as TIMESTAMP
            arr = arr.cast(pa.int64()).cast(pa.timestamp("us", tz="UTC"))
        elif pa.types.is_timestamp(arr.type) and arr.type.unit == "ns":
            # Spark cannot read TIMESTAMP(NANOS) parquet
            arr = arr.cast(pa.timestamp("us", tz=arr.type.tz))
        doc_cols[c] = arr
    _write_deterministic(pa.table(doc_cols), seg_dir("docs"))

    # norms: packed true doc lengths (uint32), one row per segment — the
    # scorer re-derives byte315 effective lengths exactly (float64) from
    # these, so quantized scores are bit-identical to the oracle.
    norms_tbl = pa.table(
        {
            "n_docs": pa.array([n_docs], pa.int64()),
            "sum_doc_len": pa.array([int(doc_len.sum())], pa.int64()),
            "doc_len_packed": pa.array(
                [doc_len.astype(np.uint32).tobytes()], pa.binary()
            ),
        }
    )
    _write_deterministic(norms_tbl, seg_dir("norms"))

    segterms_tbl = pa.table(
        {
            "term": pa.array(uniq_terms, pa.string()),
            "df": pa.array(st_df, pa.int64()),
            "ttf": pa.array(_reduceat(np.add, tfs_arr.astype(np.int64), term_starts)),
            "max_tf": pa.array(_reduceat(np.maximum, tfs_arr, term_starts), pa.int32()),
        }
    )
    _write_deterministic(segterms_tbl, seg_dir("segterms"))

    return {
        "partition_id": pid,
        "segment_id": seg,
        "status": "committed",
        "docs_indexed": n_docs,
        "n_terms": len(uniq_terms),
        "postings_bytes": postings_bytes,
        "sum_doc_len": int(doc_len.sum()),
        "merge_fan_in": 1,
        "checksum": h.hexdigest(),
    }


def _reduceat(ufunc, values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """``ufunc`` over each run ``values[starts[i]:starts[i + 1]]``."""
    return ufunc.reduceat(values, starts) if len(starts) else values[:0]


def _binary(offsets: np.ndarray, data: np.ndarray) -> pa.Array:
    if len(data) >= 1 << 31:
        raise OverflowError("a segment's packed stream exceeds 2 GiB; lower max_docs_per_segment")
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def _binary_data(arr: pa.Array) -> memoryview:
    """The value bytes of a binary array, in order."""
    _, offsets, data = arr.buffers()
    if data is None:
        return memoryview(b"")
    offsets = np.frombuffer(offsets, np.int32, len(arr) + 1, arr.offset * 4)
    return memoryview(data)[offsets[0] : offsets[-1]]


def _make_build_fn(cfg: IndexConfig, index_dir: str, max_docs_per_segment: int,
                   segment_prefix: str = "", utc_cols: frozenset = frozenset()):
    def build_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list[dict] = []
        cur_pid: int | None = None
        buf: list[pd.DataFrame] = []
        buf_docs = 0
        seq = 0

        def flush():
            nonlocal buf, buf_docs, seq
            if buf_docs:
                rows.append(
                    _flush_segment(cur_pid, seq, buf, cfg, index_dir, segment_prefix,
                                   utc_cols)
                )
                seq += 1
            buf, buf_docs = [], 0

        for batch in batches:
            if batch.empty:
                continue
            # batch is sorted by (pid, keys); split on pid changes
            pids = batch[PID_COL].to_numpy()
            change = np.flatnonzero(np.diff(pids)) + 1
            for chunk in np.split(np.arange(len(batch)), change):
                part = batch.iloc[chunk]
                pid = int(part[PID_COL].iloc[0])
                if pid != cur_pid:
                    flush()
                    cur_pid, seq = pid, 0
                buf.append(part)
                buf_docs += len(part)
                if buf_docs >= max_docs_per_segment:
                    flush()
        flush()
        yield pd.DataFrame(rows, columns=manifest.SCHEMA.names)

    return build_fn


def dedup_latest(df: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Keep-latest-version semantics for duplicated keys (the versionMap /
    external-versioning analog, index/engine/internal/LiveVersionMap.java)."""
    if not cfg.dedup_latest_by:
        return df
    w = (
        Window.partitionBy(*cfg.key_cols)
        .orderBy(F.col(cfg.dedup_latest_by).desc())
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` (its optimized plan's
    ``sizeInBytes``), read without a Spark job: a local relation reports its
    rows × the schema's default row width, a file scan its file bytes, an
    RDD-backed frame Long.MaxValue."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:  # Spark Connect: no plan statistics on the client
        return 1 << 63
    return int(str(jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _segments_on_spark(spark, df, cfg, pid, keep, utc_cols, build_fn) -> list[dict]:
    """The segment stage as Spark tasks: keep-latest window, one routing
    shuffle, ``build_fn`` over each partition (one pid) in mapInPandas."""
    df = dedup_latest(df, cfg).withColumn(PID_COL, pid).where(keep)
    shaped = (
        df.repartition(
            cfg.n_partitions, *[F.col(c) for c in cfg.routing_cols()]
        ).sortWithinPartitions(PID_COL, *cfg.key_cols)
    )
    shaped = shaped.withColumns({c: F.unix_micros(c) for c in utc_cols})
    segments = shaped.mapInPandas(build_fn, schema=manifest.SPARK_SCHEMA)

    # Pin the segment stage at exactly n_partitions tasks. When an upstream
    # op (e.g. the dedup_latest window) already hash-partitions on the
    # routing columns, Catalyst elides the explicit repartition as redundant
    # — one shuffle total, pid still == partition index — but the surviving
    # exchange is AQE-coalescible: measured 64 partitions merged into 5
    # tasks of 13 pids each (300 MB / 64 MB advisory), which packs terribly
    # across cores (5 tasks on 4 cores = a half-idle second wave). Segment
    # parallelism is an explicit layout choice; never let AQE resize it.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev_coalesce = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        # small: one row per segment
        return [r.asDict() for r in segments.collect()]
    finally:
        spark.conf.set(coalesce_key, prev_coalesce)


def _segments_on_driver(spark, df, cfg, pid, keep, utc_cols, build_fn) -> list[dict]:
    """The segment stage in this process, writing the files the Spark stage
    writes: one ``toArrow()`` of the needed columns (pid computed by Spark,
    TIMESTAMP columns as epoch micros), keep-latest dedup and the (pid, keys)
    sort in pyarrow — no window, no shuffle — then ``build_fn`` over each
    pid's rows in the batches a mapInPandas task would get, so
    ``max_docs_per_segment`` splits fall where Spark's do. The gate keeps
    inputs far below ``spark.sql.execution.arrow.maxBytesPerBatch``."""
    by = cfg.dedup_latest_by
    cols = dict.fromkeys([*cfg.key_cols, *cfg.stored_cols, cfg.text_col, *([by] if by else [])])
    tbl = (
        df.withColumn(PID_COL, pid)
        .select(PID_COL, keep.alias("__keep"),
                *[F.unix_micros(c).alias(c) if c in utc_cols else F.col(c) for c in cols])
        .toArrow()
        .combine_chunks()
    )
    keys = [(c, "ascending") for c in cfg.key_cols]
    if by:
        # dedup_latest: the first row of each key ordered by ``by`` DESC
        # NULLS LAST (the null flag sorts non-null versions first)
        tbl = tbl.append_column("__by_null", pc.is_null(tbl[by]))
        order = pc.sort_indices(tbl, keys + [("__by_null", "ascending"), (by, "descending")])
        tbl = tbl.take(order).drop_columns(["__by_null"])
        tbl = tbl.filter(_key_changes(tbl, cfg.key_cols))
    # the pid filter after the dedup, as in Spark: under a routing_col
    # outside the keys, a key's versions can sit in different pids
    tbl = tbl.filter(tbl["__keep"]).drop_columns(["__keep"])
    # sortWithinPartitions(pid, *keys): ascending, nulls first
    tbl = tbl.take(pc.sort_indices(tbl, [(PID_COL, "ascending"), *keys],
                                   null_placement="at_start"))
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    pids = tbl[PID_COL].to_numpy()
    bounds = [0, *(np.flatnonzero(np.diff(pids)) + 1).tolist(), len(pids)]

    def batches() -> Iterator[pd.DataFrame]:
        for s, e in zip(bounds[:-1], bounds[1:]):
            step = per_batch if per_batch > 0 else e - s
            for c in range(s, e, step):
                # as Spark's Arrow-to-pandas serializer converts them
                yield tbl.slice(c, min(step, e - c)).to_pandas(
                    date_as_object=True, coerce_temporal_nanoseconds=True)

    out = next(build_fn(batches()))
    return pa.Table.from_pandas(out, schema=manifest.SCHEMA, preserve_index=False).to_pylist()


def _key_changes(tbl: pa.Table, cols) -> np.ndarray:
    """Rows whose ``cols`` differ from the previous row's (nulls equal)."""
    n = tbl.num_rows
    change = np.zeros(n, dtype=bool)
    change[:1] = True
    for c in cols:
        a, b = tbl[c][1:], tbl[c][:-1]
        ne = pc.or_(pc.fill_null(pc.not_equal(a, b), False),
                    pc.not_equal(pc.is_null(a), pc.is_null(b)))
        change[1:] |= ne.to_numpy(zero_copy_only=False)
    return change


def build_index(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    resume: bool = False,
    max_docs_per_segment: int = 1 << 20,
    only_pids: set[int] | None = None,
    segment_prefix: str = "",
) -> BuildResult:
    """Build (or resume) the inverted index for ``df`` under ``index_dir``.

    ``only_pids`` restricts the build to a pid subset (used by tests to
    simulate a crash between partition commits). ``segment_prefix`` makes
    segment names unique per increment (streaming micro-batches append
    segments b{batch}-{pid}-{seq} — idempotent under batch replay because
    names and contents are deterministic).
    """
    cfg = cfg or IndexConfig()
    fsio.makedirs(index_dir)
    on_driver = _on_driver(index_dir, _plan_bytes(df), _DRIVER_BUILD_BYTES)

    # F.hash is Murmur3(seed 42) — the SAME function HashPartitioning uses,
    # so pid == the physical partition index under repartition(n, *cols).
    # Routing through a precomputed pid column instead (repartition(n, pid))
    # re-hashes the pid VALUE and collides distinct pids balls-in-bins:
    # measured 3 pids (39k rows) in one task vs the 13k average at n=64.
    pid = F.pmod(
        F.hash(*[F.col(c) for c in cfg.routing_cols()]),
        F.lit(cfg.n_partitions),
    ).cast("int")
    committed = manifest.committed(manifest.read(index_dir))
    skip = set(committed["partition_id"]) if resume else set()
    keep = F.lit(True)
    if skip:
        keep &= ~F.col(PID_COL).isin(sorted(skip))
    if only_pids is not None:
        keep &= F.col(PID_COL).isin(sorted(only_pids))

    # a TIMESTAMP column reaches the segment kernel as epoch micros: pandas
    # would hand it over as session-local wall time, and the segment would
    # store it tz-naive (Spark: TIMESTAMP_NTZ)
    utc_cols = frozenset(
        f.name for f in df.schema.fields
        if f.name in (*cfg.key_cols, *cfg.stored_cols)
        and isinstance(f.dataType, TimestampType)
    )
    build_fn = _make_build_fn(cfg, index_dir, max_docs_per_segment, segment_prefix,
                              utc_cols)
    stage = _segments_on_driver if on_driver else _segments_on_spark
    manifest_rows = stage(spark, df, cfg, pid, keep, utc_cols, build_fn)

    # commit (translog/commit-point analog). Replay-idempotent: a re-run
    # batch (e.g. foreachBatch failure recovery) rewrites byte-identical
    # segment files, so rows whose segment_id is already committed are
    # dropped instead of appended — appending them would double-count
    # n_docs/total_tokens in the stats path below and shift every BM25 score.
    done = set(committed["segment_id"])
    new_rows = [r for r in manifest_rows if r["segment_id"] not in done]
    if new_rows:
        manifest.append(index_dir, new_rows)

    # global DFS statistics: one small group-by over per-segment term stats.
    # Corpus totals come from the manifest on the driver — no extra Spark
    # jobs (serial-fraction discipline: besides the segment build itself,
    # the only remaining job is the termstats groupBy, and under the driver
    # gate not even that).
    if resume or segment_prefix:
        man = manifest.read(index_dir)
        # superseded dirs a crashed merge left would be counted twice below
        manifest.retire_superseded(index_dir, man)
        live = manifest.active(man)
        n_docs = int(live["docs_indexed"].sum())
        total_tokens = int(live["sum_doc_len"].sum())
        segterms_rows = int(live["n_terms"].sum())
        n_segments = len(live)
    else:
        n_docs = sum(r["docs_indexed"] for r in manifest_rows)
        total_tokens = sum(r["sum_doc_len"] for r in manifest_rows)
        segterms_rows = sum(r["n_terms"] for r in manifest_rows)
        n_segments = len(manifest_rows)
    _write_global_stats(spark, index_dir, cfg, n_docs, total_tokens, segterms_rows)

    return BuildResult(
        index_dir=index_dir,
        n_docs=n_docs,
        total_tokens=total_tokens,
        n_segments=n_segments,
        n_partitions=cfg.n_partitions,
    )


def _write_global_stats(
    spark: SparkSession,
    index_dir: str,
    cfg: IndexConfig,
    n_docs: int,
    total_tokens: int,
    segterms_rows: int,
) -> None:
    """Republish ``termstats`` (Σ of every segment's term stats, sorted by
    term so query-time lookups prune row groups) and ``meta.json``. Under
    ``_DRIVER_SEGTERMS_LIMIT`` rows the group-by runs in pyarrow."""
    out = fsio.join(index_dir, "termstats")
    # local: stage + atomic dir swap so concurrent readers never see a
    # half-written stats table; object stores have no rename, and an
    # overwrite of the immutable stats prefix is the standard pattern there
    local = fsio.is_local(index_dir)
    target = fsio.join(index_dir, "termstats.tmp") if local else out
    if _on_driver(index_dir, segterms_rows, _DRIVER_SEGTERMS_LIMIT):
        segterms = fsio.dataset(fsio.join(index_dir, "segterms"), format="parquet")
        stats = sum_term_stats(segterms.to_table(columns=["term", "df", "ttf", "max_tf"]))
        fsio.delete_dir(target)
        _write_deterministic(
            stats, fsio.join(target, "data.parquet"), row_group_size=1 << 16
        )
    else:
        stats = (
            spark.read.parquet(fsio.join(index_dir, "segterms"))
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("ttf").alias("ttf"),
                F.max("max_tf").alias("max_tf"),
            )
            .sortWithinPartitions("term")
        )
        stats.write.mode("overwrite").parquet(target)
    if local:
        # os-level ops need scheme-free paths
        _, local_root = fsio.resolve(index_dir)
        local_out = os.path.join(local_root, "termstats")
        if os.path.isdir(local_out):
            shutil.rmtree(local_out)
        os.replace(os.path.join(local_root, "termstats.tmp"), local_out)

    meta = {
        "n_docs": int(n_docs),
        "total_tokens": int(total_tokens),
        "avgdl": (total_tokens / n_docs) if n_docs else 1.0,
        "config": asdict(cfg),
    }
    fsio.write_bytes(
        fsio.join(index_dir, "meta.json"),
        json.dumps(meta, indent=1, default=str).encode(),
    )
