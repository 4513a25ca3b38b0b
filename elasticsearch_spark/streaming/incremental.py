"""Near-real-time incremental indexing via Structured Streaming.

The reference makes new documents searchable by refreshing a new Lucene
segment every 1 s (near-real-time refresh — /root/reference/src/main/java/
org/elasticsearch/index/engine/internal/InternalEngine.java:367-369, refresh
:814-848) while the translog guarantees durability between commits
(index/translog/Translog.java).

Spark shape: ``readStream → foreachBatch``. Each micro-batch runs the SAME
segment build as the batch path (builder.build_index): a batch under
``builder._DRIVER_BUILD_BYTES`` builds its segments on the driver after one
``toArrow()``, a larger one as partition-parallel Spark tasks, and both
write the same files. A per-batch segment prefix ``b{batch_id}-`` lets
every increment append immutable segments next to the existing ones; the
"refresh" is the global term-stats + meta rewrite that makes them visible
to new IndexReaders.
Durability/replay: Structured Streaming's checkpoint (WAL + offsets) is the
translog analog — a replayed batch regenerates byte-identical segment files
under the same names (deterministic build), so replay is idempotent.

Segment-count growth is bounded the same way the reference bounds it: call
``tiered_merge(..., repack=False)`` — the block rebase, which runs on the
driver for small groups — when the active-segment count passes
``merge_threshold`` (TieredMergePolicy's segments_per_tier=10 default).

Cross-batch upserts of the same (conv_id, turn_idx) key are appended, not
rewritten (the reference handles this with the per-shard versionMap; a
columnar store would use Iceberg MERGE). Keep-latest semantics within a
batch follow ``cfg.dedup_latest_by``; cross-batch last-write-wins can be
applied at query time by deduplicating hits on the key columns.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (callers' filter exprs)

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.index.builder import build_index
from elasticsearch_spark.index.merge import tiered_merge


def incremental_index(
    stream_df: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
    merge_threshold: int = 10,
    on_batch: Callable[[int, int], None] | None = None,
):
    """Start an incremental index build over a streaming DataFrame.

    Returns the StreamingQuery. ``trigger`` defaults to availableNow (drain
    what exists, then stop) — pass {"processingTime": "1 second"} for the
    reference's NRT refresh cadence. ``on_batch(batch_id, n_rows)`` is an
    optional observer hook for tests/metrics.
    """
    cfg = cfg or IndexConfig()
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_checkpoint")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        spark = batch_df.sparkSession
        # with a segment prefix the build reads the manifest back and
        # reports the active (committed, not superseded) segment count
        built = build_index(
            spark,
            batch_df,
            index_dir,
            cfg,
            segment_prefix=f"b{batch_id:06d}-",
        )
        # bound segment growth like TieredMergePolicy (segments_per_tier=10)
        if built.n_segments > merge_threshold:
            tiered_merge(spark, index_dir, repack=False)
        if on_batch is not None:
            on_batch(batch_id, n)

    writer = stream_df.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(**trigger)
    return writer.start()
