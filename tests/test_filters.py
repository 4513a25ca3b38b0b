"""Analysis long tail: porter stemmer, asciifolding, html_strip, shingles,
synonyms — golden tokens + full-chain parity across every execution path
(tokenize_text / analyze_series / analyze_codes / tokenize_column SQL expr)
and an indexed stemmed-analyzer query vs the PyRef oracle.

Reference factories: index/analysis/PorterStemTokenFilterFactory.java,
ASCIIFoldingTokenFilterFactory.java, HtmlStripCharFilterFactory.java,
ShingleTokenFilterFactory.java, SynonymTokenFilterFactory.java; golden-token
test shape mirrors indices/analyze/AnalyzeActionTests.java:38-50.
"""

import pandas as pd
import pytest

from elasticsearch_spark.analysis.analyzers import (
    analyze_codes,
    analyze_series,
    tokenize_column,
    tokenize_text,
)
from elasticsearch_spark.analysis.filters import (
    asciifold,
    html_strip,
    porter_stem,
    shingles,
)
from elasticsearch_spark.config import AnalyzerConfig, IndexConfig

# canonical Porter vectors (from the published algorithm's voc/output pairs)
PORTER_GOLDEN = {
    "caresses": "caress", "ponies": "poni", "cats": "cat", "feed": "feed",
    "agreed": "agre", "plastered": "plaster", "motoring": "motor",
    "sing": "sing", "conflated": "conflat", "troubled": "troubl",
    "sized": "size", "hopping": "hop", "tanned": "tan", "falling": "fall",
    "hissing": "hiss", "failing": "fail", "filing": "file", "happy": "happi",
    "sky": "sky", "relational": "relat", "conditional": "condit",
    "rational": "ration", "valenci": "valenc", "digitizer": "digit",
    "operator": "oper", "feudalism": "feudal", "decisiveness": "decis",
    "hopefulness": "hope", "formaliti": "formal", "formative": "form",
    "formalize": "formal", "electriciti": "electr", "electrical": "electr",
    "hopeful": "hope", "goodness": "good", "adjustable": "adjust",
    "defensible": "defens", "irritant": "irrit", "replacement": "replac",
    "adjustment": "adjust", "dependent": "depend", "adoption": "adopt",
    "communism": "commun", "activate": "activ", "effective": "effect",
    "generalizations": "gener", "oscillators": "oscil",
}


def test_porter_golden():
    for w, want in PORTER_GOLDEN.items():
        assert porter_stem(w) == want, w


def test_asciifold_golden():
    cases = {
        "café": "cafe", "Müller": "Muller", "straße": "strasse",
        "naïve": "naive", "Ølsen": "Olsen", "łódź": "lodz",
        "œuvre": "oeuvre", "plain": "plain",
    }
    for w, want in cases.items():
        assert asciifold(w) == want, w


def test_html_strip_golden():
    assert html_strip('<p class="x">a &amp; b</p><br>c &lt;d&gt;') == " a & b  c <d>"
    assert html_strip("no markup") == "no markup"


def test_shingles_golden():
    assert shingles(["a", "b", "c"], 2) == ["a", "b", "c", "a b", "b c"]
    assert shingles(["a"], 2) == ["a"]
    assert shingles(["a", "b", "c", "d"], 3) == ["a", "b", "c", "d", "a b c", "b c d"]


CHAIN_CONFIGS = [
    AnalyzerConfig(kind="standard", token_filters=("porter_stem",)),
    AnalyzerConfig(kind="standard", token_filters=("asciifolding", "porter_stem")),
    AnalyzerConfig(kind="simple", char_filters=("html_strip",)),
    AnalyzerConfig(kind="simple", shingle_size=2),
    AnalyzerConfig(kind="whitespace", char_filters=("html_strip",), shingle_size=2),
    AnalyzerConfig(
        kind="standard",
        token_filters=("synonym", "porter_stem"),
        synonyms=(("rapid", "fast"), ("ml", "machinelearning")),
    ),
    AnalyzerConfig(
        kind="standard", stopwords=("the",), token_filters=("porter_stem",),
        shingle_size=2,
    ),
    # every kind the vocabulary-level fast path does not take, plus its
    # long-token fallback and max_token_length=0 (no chunking)
    AnalyzerConfig(kind="letter"),
    AnalyzerConfig(kind="ngram", ngram_min=2, ngram_max=3),
    AnalyzerConfig(kind="edge_ngram", ngram_max=4),
    AnalyzerConfig(kind="pattern", pattern=r"[\s,]+", lowercase=False),
    AnalyzerConfig(max_token_length=5),
    AnalyzerConfig(max_token_length=0),
]

TEXTS = [
    "The <b>relational</b> engines &amp; conditional generalizations",
    "café Müller's naïve straße — rapid ML oscillators",
    "plain tokens only",
    "",
    "<div><span>all markup</span></div>",
]


@pytest.mark.parametrize("cfg", CHAIN_CONFIGS)
def test_chain_paths_agree(cfg):
    """tokenize_text == analyze_series == analyze_codes reconstruction for
    every filter combination (the vocabulary-level fast path must be
    token-for-token identical to the per-token reference path)."""
    import numpy as np

    s = pd.Series(TEXTS)
    want = [tokenize_text(t, cfg) for t in TEXTS]
    got_series = list(analyze_series(s, cfg))
    assert got_series == want
    codes, uniques, lens = analyze_codes(s, cfg)
    flat = [uniques[c] for c in codes]
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(int)
    got_codes = [
        flat[starts[i]: starts[i] + int(lens[i])] for i in range(len(TEXTS))
    ]
    assert got_codes == want


@pytest.mark.parametrize(
    "cfg",
    [
        AnalyzerConfig(kind="simple", char_filters=("html_strip",)),
        AnalyzerConfig(kind="simple", shingle_size=2),
        AnalyzerConfig(kind="whitespace", char_filters=("html_strip",), shingle_size=3),
    ],
)
def test_sql_expr_matches_python(spark, cfg):
    """The JVM SQL tokenizer path (html_strip + shingles stay codegen'd)
    must match the python reference path exactly."""
    from elasticsearch_spark.analysis.analyzers import sql_tokenize_expr

    assert sql_tokenize_expr("text", cfg) is not None  # stays JVM-side
    df = spark.createDataFrame(pd.DataFrame({"text": TEXTS}))
    got = [r["toks"] for r in df.select(tokenize_column("text", cfg).alias("toks")).collect()]
    want = [tokenize_text(t, cfg) for t in TEXTS]
    assert got == want


INDEXED_ANALYZERS = {
    "porter_stem": AnalyzerConfig(kind="standard", token_filters=("porter_stem",)),
    "letter": AnalyzerConfig(kind="letter"),
    "ngram": AnalyzerConfig(kind="ngram"),
    "edge_ngram": AnalyzerConfig(kind="edge_ngram"),
    "pattern": AnalyzerConfig(kind="pattern"),
    "max_token_length_0": AnalyzerConfig(max_token_length=0),
}


@pytest.mark.parametrize("name", list(INDEXED_ANALYZERS))
def test_indexed_stemmed_query_vs_pyref(spark, tmp_root, name):
    """Build an index with each analyzer; ranks and scores identical to
    PyRef (which shares tokenize_text, so this pins the builder's analyze
    path against the per-token path end-to-end). With the stemmer,
    morphological variants must hit via their stem; with
    max_token_length=0 a 300-char token is indexed and queried whole."""
    from elasticsearch_spark.index import IndexReader, build_index
    from elasticsearch_spark.oracle import PyRefEngine
    from elasticsearch_spark.query import search_topk

    texts = [
        "the relational engine generalizes conditionally",
        "relation conditions generalization",
        "plastered walls falling badly",
        "unrelated content entirely",
        "adjustment replacement dependencies",
        "overlong " + "x" * 300,
    ]
    corpus = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "text": texts,
        }
    )
    cfg = IndexConfig(n_partitions=2, analyzer=INDEXED_ANALYZERS[name])
    idx = f"{tmp_root}/idx_analyzed_{name}"
    build_index(spark, spark.createDataFrame(corpus), idx, cfg)
    reader = IndexReader(spark, idx)
    oracle = PyRefEngine(cfg.analyzer, cfg.bm25)
    for r in corpus.itertuples():
        oracle.index((r.conv_id, r.turn_idx), r.text)

    queries = ["relational generalizations", "condition", "replacements falls",
               "x" * 300]
    for q in queries:
        got = [
            ((r["conv_id"], r["turn_idx"]), r["score"])
            for r in search_topk(reader, q, k=10).collect()
        ]
        want = oracle.match(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (_, a), (_, b) in zip(got, want):
            assert abs(a - b) <= 1e-9 * max(1.0, abs(b))
    if name == "max_token_length_0":
        hits = search_topk(reader, "x" * 300, k=10).collect()
        assert [r["conv_id"] for r in hits] == ["c5"]
    if name != "porter_stem":
        return
    # stem bridging: query 'relation' must reach doc c0 ('relational')
    keys = {r["conv_id"] for r in search_topk(reader, "relation", k=10).collect()}
    assert {"c0", "c1"} <= keys


def test_fuzzy_max_expansions_cap(spark, tmp_path):
    """Lucene FuzzyQuery's top-terms rewrite: the expansion set is capped
    (default 50), keeping closest-edit terms first, then highest df. A
    1-char query with fuzziness=2 would otherwise match a whole short-word
    vocabulary (round-3 advice fix)."""
    import pandas as pd

    from elasticsearch_spark.config import IndexConfig
    from elasticsearch_spark.index import IndexReader, build_index
    from elasticsearch_spark.query import fuzzy_search_topk

    # vocabulary of many 1-2 char terms, all within 2 edits of "aa"
    texts = [f"a{c}" for c in "bcdefghijklmnop"] + ["aa", "aa", "aa", "zz"]
    corpus = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "text": texts,
        }
    )
    d = str(tmp_path / "idx_fuzzy_cap")
    build_index(
        spark, spark.createDataFrame(corpus), d,
        IndexConfig(n_partitions=2),
    )
    reader = IndexReader(spark, d)
    # uncapped: every ab..ap variant (and zz at distance 2) is a hit
    full = fuzzy_search_topk(reader, "aa", fuzziness=2, k=50,
                             max_expansions=None)
    assert full.count() == len(texts)
    # capped at 3: the exact term (distance 0, df 3) always survives;
    # the result set shrinks to docs of the 3 kept expansion terms
    capped = fuzzy_search_topk(reader, "aa", fuzziness=2, k=50,
                               max_expansions=3)
    hits = capped.collect()
    assert 3 <= len(hits) <= 5  # 3 "aa" docs + up to 2 other kept terms
    top_texts = {r["conv_id"] for r in hits}
    assert {"c15", "c16", "c17"} <= top_texts  # all exact-match docs kept
