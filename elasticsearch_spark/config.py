"""Configuration objects for the index build and query engine.

Reference semantics being reproduced (citations into /root/reference):
- BM25 defaults k1=1.2, b=0.75:
  src/main/java/org/elasticsearch/index/similarity/BM25SimilarityProvider.java:46-48
- default analyzer = "standard" (UAX#29 + lowercase, empty stopword set,
  max_token_length 255):
  src/main/java/org/elasticsearch/index/analysis/StandardAnalyzerProvider.java:46-57
- default shard count 5, routing = murmur3(id) mod n:
  src/main/java/org/elasticsearch/cluster/metadata/MetaDataCreateIndexService.java:333,
  cluster/routing/operation/plain/PlainOperationRouting.java:265-286
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Params:
    """Lucene BM25 parameters (BM25SimilarityProvider.java:46-48 defaults)."""

    k1: float = 1.2
    b: float = 0.75
    # Reproduce Lucene's lossy 1-byte norm (SmallFloat byte315) round-trip of
    # the doc length. Required for score-identity with the reference engine.
    quantize_norms: bool = True


@dataclass(frozen=True)
class AnalyzerConfig:
    """Text analysis chain configuration.

    ``kind``:
      - "standard": UAX#29 word segmentation + lowercase, no stopwords —
        the reference's default analyzer (AnalysisService.java:205-212).
      - "simple":   lowercase + [a-z0-9]+ runs. SQL-expressible
        (``regexp_extract_all(lower(text), '[a-z0-9]+')``) so results can be
        cross-checked against a DuckDB oracle; JVM-side (no Python) in Spark.
      - "whitespace": split on whitespace, no lowercasing
        (WhitespaceTokenizerFactory).
      - "keyword": whole value as a single token (KeywordTokenizerFactory).
      - "letter": maximal [A-Za-z]+ runs (LetterTokenizerFactory; ASCII
        approximation of Character.isLetter — documented divergence),
        lowercased when ``lowercase``.
      - "ngram" / "edge_ngram": character n-grams of the raw value /
        prefixes of it, lengths ``ngram_min``..``ngram_max``
        (NGramTokenizerFactory.java, EdgeNGramTokenizerFactory.java
        defaults min=1 max=2; edge_ngram side=front). SQL-expressible.
      - "pattern": split on ``pattern`` regex (PatternTokenizerFactory,
        default '\\W+' with group=-1 split semantics), drop empties.
      - "uax_url_email": "standard" segmentation, but URLs and email
        addresses survive as single tokens
        (UAX29URLEmailTokenizerFactory; practical regex approximation of
        the reference's JFlex RFC grammars — divergence documented at
        analyzers.URL_TOKEN_PATTERN).
      - "classic": Lucene's pre-3.1 StandardTokenizer grammar
        (ClassicTokenizerFactory): emails, hostnames, company names
        (AT&T), apostrophe words and acronyms survive as single tokens.
        RE2-safe regex approximation of the JFlex grammar — divergences
        documented at analyzers.CLASSIC_TOKEN_PATTERN. SQL-expressible.
      - "path_hierarchy": emit every ancestor prefix of a
        ``path_delimiter``-separated value (PathHierarchyTokenizerFactory
        .java defaults: delimiter '/', skip 0) — "/a/b/c" →
        ["/a", "/a/b", "/a/b/c"]. SQL-expressible on both engines.
    """

    kind: str = "standard"
    lowercase: bool = True
    # standard/uax_url_email split longer tokens into chunks; 0 = never
    max_token_length: int = 255
    ngram_min: int = 1
    ngram_max: int = 2
    pattern: str = r"\W+"
    # "path_hierarchy" tokenizer delimiter (PathHierarchyTokenizerFactory
    # .java DELIMITER default '/'). A literal, not a regex.
    path_delimiter: str = "/"
    stopwords: tuple[str, ...] = ()  # standard analyzer default: empty set
    # char filters, applied to the raw text before tokenization, in order.
    # Supported: "html_strip" (HtmlStripCharFilterFactory.java),
    # "mapping" (MappingCharFilterFactory.java — literal pairs from
    # ``char_filter_mappings``, applied sequentially in declared order; a
    # documented divergence from Lucene's single-pass longest-match
    # automaton, identical when the pairs don't overlap), and
    # "pattern_replace" (PatternReplaceCharFilterFactory.java — global
    # regex replace of ``char_filter_pattern`` with
    # ``char_filter_replacement``).
    char_filters: tuple[str, ...] = ()
    # "mapping" char filter pairs: ((src, dst), ...), e.g. smart quotes →
    # ascii, PII masks. Applied before tokenization in declared order.
    char_filter_mappings: tuple[tuple[str, str], ...] = ()
    # "pattern_replace" char filter: regex + replacement (keep to the
    # portable regex subset — the same pattern runs under Python re,
    # Java regex, and the DuckDB oracle's RE2).
    char_filter_pattern: str = ""
    char_filter_replacement: str = ""
    # token filters, applied after lowercase+stopwords, in tuple order.
    # Supported: "asciifolding" (ASCIIFoldingTokenFilterFactory.java),
    # "porter_stem" (PorterStemTokenFilterFactory.java), "synonym"
    # (SynonymTokenFilterFactory.java — 1:1 contraction pairs from
    # ``synonyms``), "trim" (TrimTokenFilterFactory.java) and "reverse"
    # (ReverseTokenFilterFactory.java — the leading-wildcard index trick).
    # All are 1:1 → token counts/positions are unchanged, so they run at
    # vocabulary level in the builder hot path; trim/reverse additionally
    # stay SQL-expressible (transform(..., x -> reverse(trim(x)))).
    token_filters: tuple[str, ...] = ()
    synonyms: tuple[tuple[str, str], ...] = ()
    # ShingleTokenFilterFactory.java: when > 1, emit unigrams + adjacent
    # n-grams (space-joined). Changes token counts → builder takes the
    # exact (non-factorized) path.
    shingle_size: int = 0

    def __post_init__(self) -> None:
        # out-of-range values make the chain drop every token or emit ''
        if self.max_token_length < 0:
            raise ValueError(
                f"max_token_length must be >= 0 (0 = no limit), got {self.max_token_length}"
            )
        if self.ngram_min < 1:
            raise ValueError(f"ngram_min must be >= 1, got {self.ngram_min}")
        if self.ngram_min > self.ngram_max:
            raise ValueError(
                f"ngram_min ({self.ngram_min}) must be <= ngram_max ({self.ngram_max})"
            )


@dataclass(frozen=True)
class IndexConfig:
    """Inverted-index build configuration.

    The index is a set of *segments* (immutable parquet file groups), one or
    more per build partition — the Spark analog of Lucene segments inside
    shards (index/engine/internal/InternalEngine.java:814-848).
    """

    text_col: str = "text"
    # Stable document key, also the tie-break order. For transcripts:
    # (conv_id, turn_idx); for the generic documents table: (doc_id,).
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    # Optional routing column (the ES ?routing= opt-in: all docs sharing the
    # value land in one partition/segment, e.g. conv_id co-location). When
    # None, routing hashes ALL key columns — the reference DEFAULT
    # (shard = murmur3(_id) mod n, PlainOperationRouting.java:265-286),
    # which keeps partitions balanced under heavy-tailed group sizes
    # (Zipf conversation lengths put 4x the average turns in one partition
    # when routing on conv_id alone; measured in BENCH.md round 5).
    routing_col: str | None = None
    # Extra columns kept in the per-segment doc table ("doc values") so that
    # filtered queries (role:, tool:, ts range) never touch the source table.
    stored_cols: tuple[str, ...] = ()
    analyzer: AnalyzerConfig = field(default_factory=AnalyzerConfig)
    bm25: BM25Params = field(default_factory=BM25Params)
    n_partitions: int = 8
    # postings are packed in blocks of this many doc ids (Lucene50 FOR block
    # size 128 — Elasticsearch090PostingsFormat.java:42-54)
    block_size: int = 128
    # index token positions (the .pos file analog) — required by
    # match_phrase / span queries; on by default like the reference's
    # analyzed-string fields (IndexOptions DOCS_AND_FREQS_AND_POSITIONS)
    index_positions: bool = True
    # keep latest version of a duplicated (key) by ts — the versionMap analog
    dedup_latest_by: str | None = None

    def routing_cols(self) -> tuple[str, ...]:
        return (self.routing_col,) if self.routing_col else self.key_cols
