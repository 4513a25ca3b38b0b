"""Analyzer golden-token tests — mirrors the reference's _analyze API tests
(/root/reference/src/test/java/org/elasticsearch/indices/analyze/
AnalyzeActionTests.java:38-50): exact token sequences for the standard chain.
"""

import pandas as pd
import pytest

from elasticsearch_spark.analysis import analyze_series, tokenize_text
from elasticsearch_spark.config import AnalyzerConfig

GOLDEN = [
    ("this is a test", ["this", "is", "a", "test"]),
    ("THIS IS A TEST", ["this", "is", "a", "test"]),  # lowercase filter
    ("Don't stop", ["don't", "stop"]),  # MidNumLetQ apostrophe
    ("O'Neil's l'avion", ["o'neil's", "l'avion"]),
    ("C++ rocks", ["c", "rocks"]),  # symbols split
    ("a_b-c", ["a_b", "c"]),  # ExtendNumLet joins '_', hyphen splits
    ("pi is 3.14", ["pi", "is", "3.14"]),  # MidNumLet '.' in numbers
    ("1,000 units", ["1,000", "units"]),  # MidNum ',' digits only
    ("a,b", ["a", "b"]),  # ',' does not join letters
    ("a.b.c", ["a.b.c"]),  # '.' joins word chars
    ("user@example.com", ["user", "example.com"]),  # '@' splits
    ("http://foo.bar/baz", ["http", "foo.bar", "baz"]),
    ("Ångström café", ["ångström", "café"]),  # unicode letters + lowercase
    ("漢字テスト", ["漢", "字", "テスト"]),  # CJK per-char, katakana run
    ("ＦＵＬＬ１２３", ["ｆｕｌｌ１２３"]),  # full-width forms are word chars
    ("", []),
    ("   \t\n ", []),  # zero terms
    ("...!!!", []),  # punctuation only
]


@pytest.mark.parametrize("text,expected", GOLDEN)
def test_standard_analyzer_golden(text, expected):
    assert tokenize_text(text) == expected


def test_max_token_length_splits():
    toks = tokenize_text("x" * 600)
    assert [len(t) for t in toks] == [255, 255, 90]


@pytest.mark.parametrize("kw", [
    {"max_token_length": -1},
    {"kind": "edge_ngram", "ngram_min": 0},
    {"kind": "ngram", "ngram_min": 3, "ngram_max": 1},
])
def test_analyzer_config_rejects_out_of_range(kw):
    with pytest.raises(ValueError):
        AnalyzerConfig(**kw)


def test_analyzer_config_accepts_defaults_and_no_limit():
    assert tokenize_text("hello world", AnalyzerConfig()) == ["hello", "world"]
    assert tokenize_text("x" * 300, AnalyzerConfig(max_token_length=0)) == ["x" * 300]
    assert tokenize_text("ab", AnalyzerConfig(kind="ngram", ngram_min=2, ngram_max=2)) == ["ab"]


def test_series_matches_scalar():
    texts = [t for t, _ in GOLDEN] + [None]
    got = analyze_series(pd.Series(texts)).tolist()
    assert got[:-1] == [e for _, e in GOLDEN]
    assert got[-1] == []


def test_simple_analyzer_sql_equivalence():
    cfg = AnalyzerConfig(kind="simple")
    assert tokenize_text("Don't stop 3.14 C++", cfg) == ["don", "t", "stop", "3", "14", "c"]


def test_whitespace_and_keyword():
    assert tokenize_text("Foo  Bar", AnalyzerConfig(kind="whitespace", lowercase=False)) == ["Foo", "Bar"]
    assert tokenize_text("Foo Bar", AnalyzerConfig(kind="keyword")) == ["Foo Bar"]


def test_stopwords_filter():
    cfg = AnalyzerConfig(stopwords=("the", "a"))
    assert tokenize_text("the quick a fox", cfg) == ["quick", "fox"]


def test_new_tokenizer_kinds_sql_python_parity(spark):
    """letter/ngram/edge_ngram/pattern: native-SQL and Python paths agree
    (SURVEY §2.9 tokenizer rows; reference factories in index/analysis/)."""
    from elasticsearch_spark.analysis.analyzers import tokenize_column, tokenize_text
    from elasticsearch_spark.config import AnalyzerConfig

    texts = ["Hello, World! 42", "", "a", "ab", "Don't stop", "x  y\tz", "ABCdef"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    cfgs = [
        AnalyzerConfig(kind="letter"),
        AnalyzerConfig(kind="letter", lowercase=False),
        AnalyzerConfig(kind="edge_ngram", ngram_min=1, ngram_max=3),
        AnalyzerConfig(kind="ngram", ngram_min=2, ngram_max=3),
        AnalyzerConfig(kind="pattern", pattern=r"[,!\s]+"),
    ]
    for cfg in cfgs:
        got = [list(r[0]) for r in df.select(tokenize_column("text", cfg)).collect()]
        assert got == [tokenize_text(t, cfg) for t in texts], cfg


def test_date_math_parser():
    """DateMathParser.java grammar: now/anchor + shifts + round-down."""
    from datetime import datetime

    from elasticsearch_spark.functions.datemath import parse_date_math

    now = datetime(2024, 1, 25, 13, 45, 17)
    assert parse_date_math("now", now) == now
    assert parse_date_math("now-10d/d", now) == datetime(2024, 1, 15)
    assert parse_date_math("now/d", now) == datetime(2024, 1, 25)
    assert parse_date_math("now/w", now) == datetime(2024, 1, 22)  # Monday
    assert parse_date_math("now+1h/h", now) == datetime(2024, 1, 25, 14)
    assert parse_date_math("now-1y/y", now) == datetime(2023, 1, 1)
    # explicit anchor with ||, month arithmetic with day clamp (Joda)
    assert parse_date_math("2024-01-31||+1M", now) == datetime(2024, 2, 29)
    assert parse_date_math("2024-01-01||+1M/M", now) == datetime(2024, 2, 1)
    assert parse_date_math("2023-06-15 10:30:00||-15m/m", now) == datetime(
        2023, 6, 15, 10, 15
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_date_math("now*3d", now)
    with _pytest.raises(ValueError):
        parse_date_math("not-a-date||+1d", now)


def test_stopwords_sql_python_parity(spark):
    """Stopword removal must apply on BOTH tokenize paths (the SQL expr
    previously skipped it silently)."""
    from elasticsearch_spark.analysis.analyzers import tokenize_column, tokenize_text
    from elasticsearch_spark.config import AnalyzerConfig

    cfg = AnalyzerConfig(kind="simple", stopwords=("the", "a"))
    texts = ["the quick fox", "a a the", "no stops here"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [list(r[0]) for r in df.select(tokenize_column("text", cfg)).collect()]
    assert got == [tokenize_text(t, cfg) for t in texts]
    assert got[0] == ["quick", "fox"] and got[1] == []


def test_mapping_char_filter_golden():
    cfg = AnalyzerConfig(
        kind="simple",
        char_filters=("mapping",),
        char_filter_mappings=(("’", "'"), ("customer", "client")),
    )
    assert tokenize_text("the customer’s order", cfg) == [
        "the", "client", "s", "order"
    ]
    # declared order: later pairs see earlier pairs' output
    cfg2 = AnalyzerConfig(
        kind="simple",
        char_filters=("mapping",),
        char_filter_mappings=(("ab", "x"), ("xc", "y")),
    )
    assert tokenize_text("abc", cfg2) == ["y"]


def test_pattern_replace_char_filter_golden():
    cfg = AnalyzerConfig(
        kind="simple",
        char_filters=("pattern_replace",),
        char_filter_pattern="[0-9]+",
        char_filter_replacement="NUM",
    )
    assert tokenize_text("order 123 of 9", cfg) == ["order", "num", "of", "num"]


def test_char_filters_sql_python_parity(spark):
    """mapping / pattern_replace: native-SQL and Python paths agree
    (MappingCharFilterFactory.java, PatternReplaceCharFilterFactory.java —
    reg. AnalysisModule.java:476,419)."""
    from elasticsearch_spark.analysis.analyzers import tokenize_column

    texts = ["customer 12 customer", "no digits here", "", "99 bottles"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    cfgs = [
        AnalyzerConfig(
            kind="simple", char_filters=("mapping",),
            char_filter_mappings=(("customer", "client"), ("9", "nine ")),
        ),
        AnalyzerConfig(
            kind="simple", char_filters=("pattern_replace",),
            char_filter_pattern="[0-9]+", char_filter_replacement=" N ",
        ),
        AnalyzerConfig(
            kind="simple", char_filters=("mapping", "pattern_replace"),
            char_filter_mappings=(("customer", "client77"),),
            char_filter_pattern="[0-9]+", char_filter_replacement="X",
        ),
    ]
    for cfg in cfgs:
        got = [list(r[0]) for r in df.select(tokenize_column("text", cfg)).collect()]
        want = [tokenize_text(t, cfg) for t in texts]
        assert got == want, cfg
        # the pandas batch path agrees too (builder hot path)
        assert list(analyze_series(pd.Series(texts), cfg)) == want, cfg


UAX_GOLDEN = [
    (
        "see https://example.com/a?b=1 now",
        ["see", "https://example.com/a?b=1", "now"],
    ),
    (
        "mail bob.smith+x@corp.example.org today",
        ["mail", "bob.smith+x@corp.example.org", "today"],
    ),
    ("at www.example.com.", ["at", "www.example.com"]),  # trailing dot cut
    (
        "ftp://files.example.org/pub/x.tgz, done",
        ["ftp://files.example.org/pub/x.tgz", "done"],
    ),
    ("no urls here 3.14", ["no", "urls", "here", "3.14"]),
    ("HTTPS://UPPER.example/Q", ["https://upper.example/q"]),  # lowercased
    ("", []),
]


@pytest.mark.parametrize("text,expected", UAX_GOLDEN)
def test_uax_url_email_golden(text, expected):
    cfg = AnalyzerConfig(kind="uax_url_email")
    assert tokenize_text(text, cfg) == expected


def test_uax_url_email_series_matches_scalar():
    cfg = AnalyzerConfig(kind="uax_url_email")
    texts = [t for t, _ in UAX_GOLDEN]
    assert list(analyze_series(pd.Series(texts), cfg)) == [
        tokenize_text(t, cfg) for t in texts
    ]


# --- path_hierarchy tokenizer (PathHierarchyTokenizerFactory.java) ---------

PATH_GOLDEN = [
    ("/a/b/c", ["/a", "/a/b", "/a/b/c"]),
    ("one/two/three", ["one", "one/two", "one/two/three"]),
    ("a/b/", ["a", "a/b", "a/b/"]),  # trailing delimiter kept, like Lucene
    ("single", ["single"]),
    ("/", ["/"]),  # bare root: the delimiter itself is the one token
    ("", []),
]


@pytest.mark.parametrize("text,expected", PATH_GOLDEN)
def test_path_hierarchy_golden(text, expected):
    cfg = AnalyzerConfig(kind="path_hierarchy")
    assert tokenize_text(text, cfg) == expected


def test_path_hierarchy_custom_delimiter():
    cfg = AnalyzerConfig(kind="path_hierarchy", path_delimiter=".")
    assert tokenize_text("com.example.app", cfg) == [
        "com", "com.example", "com.example.app",
    ]


def test_path_hierarchy_series_matches_scalar():
    cfg = AnalyzerConfig(kind="path_hierarchy")
    texts = [t for t, _ in PATH_GOLDEN]
    assert list(analyze_series(pd.Series(texts), cfg)) == [
        tokenize_text(t, cfg) for t in texts
    ]


def test_path_hierarchy_and_filters_sql_python_parity(spark):
    """path_hierarchy + trim/reverse token filters: the native-SQL plan and
    the Python reference agree token-for-token."""
    from elasticsearch_spark.analysis.analyzers import (
        sql_tokenize_expr,
        tokenize_column,
        tokenize_text,
    )

    # whitespace padding beyond 0x20 (tab, newline, NBSP, unit separator):
    # the trim filter strips every str.isspace() char on both paths
    texts = ["/a/b/c", "x/y", "", "no-delims", "dot.sep/mix", "\tfoo\n",
             "\xa0bar baz\x1f", " \r\n", "it's/o'neil"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    cfgs = [
        AnalyzerConfig(kind="path_hierarchy"),
        AnalyzerConfig(kind="path_hierarchy", path_delimiter="."),
        AnalyzerConfig(kind="path_hierarchy", path_delimiter="'"),
        AnalyzerConfig(kind="simple", token_filters=("reverse",)),
        AnalyzerConfig(kind="keyword", token_filters=("trim",)),
        AnalyzerConfig(kind="simple", token_filters=("trim", "reverse")),
    ]
    for cfg in cfgs:
        assert sql_tokenize_expr("text", cfg) is not None, cfg  # stays JVM-side
        got = [list(r[0]) for r in df.select(tokenize_column("text", cfg)).collect()]
        assert got == [tokenize_text(t, cfg) for t in texts], cfg


def test_trim_reverse_token_filters_scalar():
    assert tokenize_text(
        "  Hello  ", AnalyzerConfig(kind="keyword", token_filters=("trim",))
    ) == ["Hello"]
    assert tokenize_text(
        "abc def", AnalyzerConfig(kind="simple", token_filters=("reverse",))
    ) == ["cba", "fed"]


# --- classic tokenizer (ClassicTokenizerFactory, pre-3.1 grammar) ----------

CLASSIC_GOLDEN = [
    ("the U.S.A. economy", ["the", "u.s.a", "economy"]),  # ACRONYM
    ("AT&T and Excite@Home stock", ["at&t", "and", "excite@home", "stock"]),
    ("mail bob@example.com now", ["mail", "bob@example.com", "now"]),  # EMAIL
    ("visit example.com today", ["visit", "example.com", "today"]),  # HOST
    ("O'Neil's book", ["o'neil's", "book"]),  # APOSTROPHE
    ("192.168.1.1 pinged", ["192.168.1.1", "pinged"]),  # dotted quad = HOST
    ("C++ rocks 42", ["c", "rocks", "42"]),
    ("", []),
]


@pytest.mark.parametrize("text,expected", CLASSIC_GOLDEN)
def test_classic_tokenizer_golden(text, expected):
    assert tokenize_text(text, AnalyzerConfig(kind="classic")) == expected


def test_classic_series_matches_scalar():
    cfg = AnalyzerConfig(kind="classic")
    texts = [t for t, _ in CLASSIC_GOLDEN]
    assert list(analyze_series(pd.Series(texts), cfg)) == [
        tokenize_text(t, cfg) for t in texts
    ]


def test_classic_sql_python_parity(spark):
    from elasticsearch_spark.analysis.analyzers import (
        sql_tokenize_expr,
        tokenize_column,
    )

    cfg = AnalyzerConfig(kind="classic")
    texts = [t for t, _ in CLASSIC_GOLDEN] + ["MiXed.Case-Host.org x"]
    assert sql_tokenize_expr("text", cfg) is not None
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [list(r[0]) for r in df.select(tokenize_column("text", cfg)).collect()]
    assert got == [tokenize_text(t, cfg) for t in texts]
