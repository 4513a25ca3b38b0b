"""Where the driver gates of index maintenance sit (BENCH.md "Driver gates").

Times a rebase merge (``builder._DRIVER_POSTINGS_LIMIT``), a termstats
republish (``builder._DRIVER_SEGTERMS_LIMIT``) or a refresh build's segment
stage (``builder._DRIVER_BUILD_BYTES``) on the driver and as Spark jobs,
with the gate forced above the input or to 0, and reports wall time and
memory: the driver process's VmHWM and the peak growth of the RSS summed
over the driver, the Spark JVM and its Python workers.

Usage (each ``run`` in a fresh process, one at a time):

    python scripts/driver_gates.py base    <dir> <n_turns>
    python scripts/driver_gates.py prep    <base> <dir> <postings_mb>
    python scripts/driver_gates.py prep_st <base> <dir> <m>
    python scripts/driver_gates.py run     <dir> merge|termstats driver|spark
    python scripts/driver_gates.py run     <base> build driver|spark <n_turns> [repeat]

``prep`` copies the base index's segments under new ids until the copies
hold ~postings_mb of postings (one merge group); ``prep_st`` writes a
segterms-only index of 40 segments, each holding m suffixed copies of a
base segment's vocabulary with its hapaxes new in every segment. ``build``
lands one benchmark-shaped micro-batch of n_turns on a copy of the base
index (``build_index(..., segment_prefix=...)``, termstats republish
included), the refresh of perfbench's ``ingest_refresh``; ``repeat`` > 1
repeats each turn's text that many times (longer documents, the same row
count and so the same Catalyst estimate).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402
import procmon  # noqa: E402
import workloads  # noqa: E402
from elasticsearch_spark.config import IndexConfig  # noqa: E402
from elasticsearch_spark.index import build_index, builder, manifest, merge  # noqa: E402
from elasticsearch_spark.session import get_spark  # noqa: E402

CORES = 4
N_SEGS_ST = 40


def _seg(d: str, sub: str, s: str) -> str:
    return os.path.join(d, sub, f"segment_id={s}")


def _suffix(terms, mask, tag: str):
    return pc.if_else(mask, pc.binary_join_element_wise(terms, pa.scalar(tag), ""), terms)


def base(d: str, n_turns: int) -> None:
    spark = get_spark(cores=CORES, shuffle_partitions=CORES)
    corpus = inputs.sized_transcripts(7, n_turns)
    build_index(spark, spark.createDataFrame(corpus), d, workloads.index_config(CORES))
    spark.stop()


def _new_index(b: str, d: str) -> None:
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    shutil.copy(os.path.join(b, "meta.json"), d)


def prep(b: str, d: str, mb: float) -> None:
    act = manifest.active(manifest.read(b))
    k = max(1, round(mb * 2**20 / act["postings_bytes"].sum()))
    _new_index(b, d)
    rows = []
    for c in range(k):
        for _, r in act.iterrows():
            s, ns = r["segment_id"], f"c{c:03d}x{r['segment_id']}"
            for sub in ("postings", "docs", "norms"):
                shutil.copytree(_seg(b, sub, s), _seg(d, sub, ns))
            st = pq.read_table(_seg(b, "segterms", s))
            if c:  # vocabulary growth: a copy's hapaxes are new terms
                st = st.set_column(0, "term", _suffix(st["term"], pc.equal(st["df"], 1), f"~{c}"))
            os.makedirs(_seg(d, "segterms", ns))
            pq.write_table(st, os.path.join(_seg(d, "segterms", ns), "data.parquet"))
            rows.append({**r.to_dict(), "segment_id": ns})
    manifest.append(d, rows)


def prep_st(b: str, d: str, m: int) -> None:
    act = manifest.active(manifest.read(b))
    _new_index(b, d)
    rows = []
    for j in range(N_SEGS_ST):
        r = act.iloc[j % len(act)]
        st = pq.read_table(_seg(b, "segterms", r["segment_id"]))
        hapax = pc.equal(st["df"], 1)
        parts = []
        for i in range(m):
            terms = _suffix(st["term"], pa.scalar(i > 0), f"~{i}")
            parts.append(st.set_column(0, "term", _suffix(terms, hapax, f"#{j}")))
        st = pa.concat_tables(parts).sort_by("term")
        ns = f"s{j:03d}"
        os.makedirs(_seg(d, "segterms", ns))
        pq.write_table(st, os.path.join(_seg(d, "segterms", ns), "data.parquet"))
        rows.append({**r.to_dict(), "segment_id": ns, "n_terms": st.num_rows})
    manifest.append(d, rows)


def _vm(key: str) -> int:
    """``key`` of /proc/self/status in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1]) // 1024
    return 0


def _tree_rss() -> int:
    me = os.getpid()
    return procmon.rss_bytes(me) + sum(procmon.rss_bytes(p) for p in procmon.descendants(me))


def run(d: str, op: str, path: str, n_turns: str = "0", repeat: str = "1",
        reps: int = 3) -> None:
    spark = get_spark(cores=CORES, shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    limit = (1 << 62) if path == "driver" else 0
    if op == "build":  # the refresh's other steps keep their own gates
        builder._DRIVER_BUILD_BYTES = limit
        reps = 5
        batch = inputs.ingest_batch(7, 1, int(n_turns), pd.Timestamp("2031-01-01")).frame
        batch["text"] = batch["text"].map(lambda t: " ".join([t] * int(repeat)))
        batch_df = spark.createDataFrame(batch)
    else:
        builder._DRIVER_POSTINGS_LIMIT = builder._DRIVER_SEGTERMS_LIMIT = limit
    act = manifest.active(manifest.read(d))
    group = act["segment_id"].tolist()
    meta = json.load(open(os.path.join(d, "meta.json")))
    cfg = IndexConfig(**{k: tuple(v) if isinstance(v, list) else v
                         for k, v in meta["config"].items()})
    work = d + ".work"

    def once() -> float:
        if op in ("merge", "build"):
            shutil.rmtree(work, ignore_errors=True)
            shutil.copytree(d, work)
            t = time.perf_counter()
            if op == "merge":
                merge.merge_segments(spark, work, group, "m-gate", repack=False)
            else:
                build_index(spark, batch_df, work, workloads.index_config(CORES),
                            segment_prefix="b000001-")
        else:
            t = time.perf_counter()
            builder._write_global_stats(
                spark, d, cfg, int(act["docs_indexed"].sum()),
                int(act["sum_doc_len"].sum()), int(act["n_terms"].sum()))
        return time.perf_counter() - t

    once()  # warm-up: Spark's first-job costs, JIT, file cache
    walls, growth = [], []
    for _ in range(reps):
        tree0, peak, stop = _tree_rss(), [0], threading.Event()

        def sample():
            while not stop.is_set():
                peak[0] = max(peak[0], _tree_rss())
                time.sleep(0.05)

        th = threading.Thread(target=sample)
        th.start()
        walls.append(once())
        stop.set()
        th.join()
        growth.append((peak[0] - tree0) / 2**20)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "op": op, "path": path, "segments": len(group), "turns": int(n_turns),
        "repeat": int(repeat),
        "postings_mb": round(act["postings_bytes"].sum() / 2**20, 1),
        "segterms_rows": int(act["n_terms"].sum()),
        "median_s": round(sorted(walls)[reps // 2], 3),
        "wall_s": [round(w, 3) for w in walls],
        "driver_peak_mb": _vm("VmHWM"),
        "tree_growth_mb": round(max(growth)),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "base":
        base(args[0], int(args[1]))
    elif cmd == "prep":
        prep(args[0], args[1], float(args[2]))
    elif cmd == "prep_st":
        prep_st(args[0], args[1], int(args[2]))
    else:
        run(*args)
