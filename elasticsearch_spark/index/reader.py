"""Index reader — lazy DataFrame views over the segment tables."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from elasticsearch_spark.config import AnalyzerConfig, BM25Params, IndexConfig
from elasticsearch_spark.index import fsio, manifest


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        self.spark = spark
        self.index_dir = index_dir
        self.meta = json.loads(
            fsio.read_bytes(fsio.join(index_dir, "meta.json"))
        )
        c = self.meta["config"]
        a = dict(c["analyzer"])  # JSON round-trip: lists back to tuples
        a["stopwords"] = tuple(a.get("stopwords", ()))
        a["char_filters"] = tuple(a.get("char_filters", ()))
        a["token_filters"] = tuple(a.get("token_filters", ()))
        a["synonyms"] = tuple(tuple(p) for p in a.get("synonyms", ()))
        c["analyzer"] = AnalyzerConfig(**a)
        c["bm25"] = BM25Params(**c["bm25"])
        c["key_cols"] = tuple(c["key_cols"])
        c["stored_cols"] = tuple(c["stored_cols"])
        self.cfg = IndexConfig(**c)

    @property
    def n_docs(self) -> int:
        return self.meta["n_docs"]

    @property
    def avgdl(self) -> float:
        return self.meta["avgdl"]

    def _read(self, sub: str) -> DataFrame:
        # memoize the lazy view per layout: repeated queries reuse one
        # analyzed plan (and its parquet footer/file-listing work); a
        # segment table is restricted to the active segments
        _, active, cache = self._layout()
        key = ("view", sub)
        if key not in cache:
            schema = self._known_schema(sub)
            read = self.spark.read if schema is None else self.spark.read.schema(schema)
            df = read.parquet(fsio.join(self.index_dir, sub))
            if active is not None and sub in manifest.SEGMENT_TABLES:
                from pyspark.sql import functions as F

                df = df.where(F.col("segment_id").isin(active))
            cache[key] = df
        return cache[key]

    # -- the layout: active segments and the read caches built on them -----
    # Readers see only the manifest's active segments: between a merge's
    # commit and the deletion of its inputs (or after a crash there) the
    # superseded segments' files are still on disk. pyarrow dataset
    # discovery, the norms table and the Spark views are per-QUERY
    # constants; all are cached per index LAYOUT. The freshness token is
    # the max mtime of the postings/norms/manifest directories — segment
    # adds/removes (builds, tiered merges) and commits touch those, so a
    # layout change re-reads the active set and drops the caches; file://
    # only (an object store's layout is read once per reader).

    def _local_layout_token(self):
        import os

        if "://" in self.index_dir and not self.index_dir.startswith("file://"):
            return None
        root = self.index_dir.replace("file://", "")
        mtimes = []
        for sub in ("postings", "norms", "manifest"):
            try:
                mtimes.append(os.path.getmtime(os.path.join(root, sub)))
            except OSError:
                if sub != "manifest":  # an index may predate its manifest
                    return None
        return max(mtimes)

    def _layout(self):
        """(token, active segment ids or None = every segment dir, per-layout
        cache dict) — re-read when the token changes."""
        token = self._local_layout_token()
        cached = getattr(self, "_layout_cache", None)
        if cached is None or (token is not None and cached[0] != token):
            ids = manifest.active(manifest.read(self.index_dir))["segment_id"]
            cached = (token, ids.tolist() or None, {})
            self._layout_cache = cached
        return cached

    def local_dataset(self, sub: str):
        """pyarrow dataset of ``sub`` over the active segments: cached per
        layout on file:// stores, a fresh discovery on other driver-readable
        stores."""
        token, active, cache = self._layout()
        key = ("dataset", sub)
        if token is None or key not in cache:
            import pyarrow.dataset as ds

            dset = fsio.dataset(fsio.join(self.index_dir, sub), partitioning="hive")
            if active is not None:
                dset = dset.filter(ds.field("segment_id").isin(active))
            if token is None:
                return dset
            cache[key] = dset
        return cache[key]

    def local_norms(self):
        """Cached norms pandas frame (segment_id as str), or None."""
        token, _, cache = self._layout()
        if token is None:
            return None
        if "norms" not in cache:
            norms = self.local_dataset("norms").to_table().to_pandas()
            norms["segment_id"] = norms["segment_id"].astype(str)
            cache["norms"] = norms
        return cache["norms"]

    def _known_schema(self, sub: str):
        """A segment table's Spark schema, without Spark's schema-inference
        job: on a driver-readable store, the cached pyarrow dataset's schema
        typed as Spark reads the parquet (a tz-naive timestamp is
        TIMESTAMP_NTZ). None elsewhere, or for a type Arrow cannot map."""
        if sub not in manifest.SEGMENT_TABLES or not fsio.driver_readable(self.index_dir):
            return None
        from pyspark.sql.pandas.types import from_arrow_schema

        try:
            return from_arrow_schema(self.local_dataset(sub).schema,
                                     prefer_timestamp_ntz=True)
        except TypeError:
            return None

    def docs_schema(self):
        """The doc table's Spark schema; no JVM call on a driver-readable
        store."""
        return self._known_schema("docs") or self.docs().schema

    def cache_views(self) -> "IndexReader":
        """Pin the hot search structures in executor memory — the analog of
        the reference's filesystem/fielddata caches (index/cache/). Call once
        before a query burst; no-op on re-call."""
        for sub in ("postings", "docs", "norms", "termstats"):
            self._read(sub).cache()
        return self

    def postings(self) -> DataFrame:
        return self._read("postings")

    def docs(self) -> DataFrame:
        return self._read("docs")

    def norms(self) -> DataFrame:
        return self._read("norms")

    def termstats(self) -> DataFrame:
        return self._read("termstats")

    def manifest(self) -> DataFrame:
        return self._read("manifest")

    def query_term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """df/ttf for the query terms only — the DFS-phase analog
        (search/dfs/DfsPhase.java:63-104, aggregated coordinator-side like
        SearchPhaseController.aggregateDfs:86-134).

        Read driver-side with pyarrow (row-group pruned via the term-sorted
        layout) — a per-query Spark job for a handful of rows would cost more
        than the lookup itself at any scale. Falls back to a Spark scan for
        non-local filesystems pyarrow cannot reach.
        """
        if not terms:
            return {}
        uniq = sorted(set(terms))
        try:
            import pyarrow.dataset as ds

            dset = fsio.dataset(fsio.join(self.index_dir, "termstats"))
            tbl = dset.to_table(
                columns=["term", "df", "ttf"],
                filter=ds.field("term").isin(uniq),
            )
            return {
                t: (int(d), int(f))
                for t, d, f in zip(
                    tbl["term"].to_pylist(), tbl["df"].to_pylist(), tbl["ttf"].to_pylist()
                )
            }
        except (OSError, ImportError):
            from pyspark.sql import functions as F

            rows = (
                self.termstats()
                .where(F.col("term").isin(uniq))
                .select("term", "df", "ttf")
                .collect()
            )
            return {r["term"]: (r["df"], r["ttf"]) for r in rows}

    def prefix_term_stats(
        self, prefix: str, max_expansions: int = 50
    ) -> list[tuple[str, int, int]]:
        """Term-dictionary prefix expansion: the first ``max_expansions``
        terms starting with ``prefix``, in term order, with (df, ttf).

        The MultiPhrasePrefixQuery expansion walk (index/search/
        MatchQuery.java:215-220 builds it; Lucene caps expansions at 50).
        Row-group pruned range read on the term-sorted termstats layout.
        """
        if not prefix:
            return []
        upper = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        try:
            import pyarrow.dataset as ds

            dset = fsio.dataset(fsio.join(self.index_dir, "termstats"))
            tbl = dset.to_table(
                columns=["term", "df", "ttf"],
                filter=(ds.field("term") >= prefix) & (ds.field("term") < upper),
            )
            rows = sorted(
                zip(
                    tbl["term"].to_pylist(),
                    tbl["df"].to_pylist(),
                    tbl["ttf"].to_pylist(),
                )
            )
        except (OSError, ImportError):
            from pyspark.sql import functions as F

            rows = [
                (r["term"], r["df"], r["ttf"])
                for r in self.termstats()
                .where((F.col("term") >= prefix) & (F.col("term") < upper))
                .orderBy("term")
                .limit(max_expansions)
                .collect()
            ]
        return [(t, int(d), int(f)) for t, d, f in rows[:max_expansions]]
