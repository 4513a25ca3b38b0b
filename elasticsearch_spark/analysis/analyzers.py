"""Text analysis chain — the reference's analyzers, defined once.

Reference semantics (citations into /root/reference/src/main/java/org/elasticsearch/):
- default analyzer is "standard": StandardTokenizer (UAX#29 word break) +
  LowerCaseFilter + StopFilter with an EMPTY stopword set, max_token_length
  255 — index/analysis/StandardAnalyzerProvider.java:46-57,
  index/analysis/AnalysisService.java:205-212.
- the `_analyze` API exposes the chain for testing
  (indices/analyze/AnalyzeActionTests.java:38-50); `analyze_series` is our
  equivalent test surface.

One chain, three execution paths:
- ``tokenize_text`` is the single per-string definition of the chain for
  every kind (char filters → tokenizer → lowercase → stopwords → 1:1 token
  filters → shingles). Queries, the PyRef oracle and ``analyze_series``
  (a map of it over a pandas Series, used inside Arrow-batched UDFs) all
  run it. ``max_token_length`` 0 means no chunking everywhere.
- ``analyze_codes`` is the builder's call. For standard/simple/whitespace
  without stopwords or shingles it tokenizes with one compiled regex per
  batch and runs lowercase and the 1:1 token filters over the batch
  VOCABULARY, not the occurrences; every other config factorizes
  ``analyze_series``. Both give the same tokens (tests/test_filters.py
  ``test_chain_paths_agree``).
- ``sql_tokenize_expr`` compiles the SQL-expressible kinds and filters to
  native Spark SQL (JVM-side, whole-stage-codegen; zero Python), parity
  tested against ``tokenize_text``. "standard" (UAX#29) and the
  porter/asciifolding/synonym filters have no SQL form.

UAX#29 approximation notes (SURVEY.md §7.1 hazard 6): a bare ``\\w+`` is NOT
equivalent — apostrophes (WB6/WB7 MidNumLetQ), number separators (WB11/WB12
MidNum), underscore joining (WB13 ExtendNumLet) and CJK ideograph-per-token
all differ. The regex below implements those rules; golden-token tests in
tests/test_analysis.py mirror the reference's AnalyzeActionTests.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from elasticsearch_spark.config import AnalyzerConfig
from elasticsearch_spark.analysis.filters import (
    asciifold,
    html_strip,
    porter_stem,
    shingles,
)

# --- UAX#29-equivalent token pattern -------------------------------------
# CJK ideographs: one token per character (StandardTokenizer IDEOGRAPHIC).
_CJK = (
    "[⺀-⻿々〇〡-〩〸-〻"
    "㐀-䶿一-鿿豈-﫿"
    "\U00020000-\U0002a6df\U0002a700-\U0002b73f]"
)
# Hiragana / Katakana runs (StandardTokenizer HIRAGANA/KATAKANA types).
_HIRA = "[ぁ-ゖゝ-ゟ]+"
_KATA = "[ァ-ヺー-ヿㇰ-ㇿｦ-ﾟ]+"
# Word char: any \w that is not a CJK ideograph (underscore included — WB13a/b
# ExtendNumLet joins across '_').
_WC = rf"(?:(?!{_CJK})\w)"
# Joiners inside a word token:
#   '  ’  — MidNumLetQ / MidLetter between word chars (don't, l'avion)
#   .     — MidNumLet between word chars (a.b, 3.14, example.com)
#   ,     — MidNum, digits only (1,000)
#   :     — MidLetter, letters only (approximated to word chars)
_WORD = rf"{_WC}+(?:(?:['’.:]{_WC}+)|(?:(?<=\d),\d+))*"
_STANDARD_RE = re.compile(f"{_KATA}|{_HIRA}|{_CJK}|{_WORD}", re.UNICODE)

# "simple" analyzer token pattern — intentionally SQL-expressible so results
# can be reproduced by a DuckDB oracle: regexp_extract_all(lower(text), ...)
SIMPLE_TOKEN_PATTERN = "[a-z0-9]+"
_SIMPLE_RE = re.compile(SIMPLE_TOKEN_PATTERN)
_WHITESPACE_RE = re.compile(r"\S+")
_LETTER_RE = re.compile("[A-Za-z]+")
# kinds whose tokens are lowercased after tokenization when cfg.lowercase
# ("simple" and the n-grams lowercase the text first; whitespace, keyword
# and path_hierarchy keep case)
_LOWERCASE_AFTER = frozenset(
    {"standard", "uax_url_email", "letter", "pattern", "classic"}
)

# --- uax_url_email tokenizer ----------------------------------------------
# UAX29URLEmailTokenizerFactory analog: URLs and email addresses survive as
# single tokens; everything else segments like "standard". The reference's
# tokenizer implements the full RFC 3986/5321 grammars in JFlex; these are
# practical approximations (scheme'd or www. URLs, addr-spec emails, token
# may not end in punctuation) — a documented divergence. Kept to character
# classes portable across Python re / Java regex / RE2 so the SQL oracle
# can reproduce them.
URL_TOKEN_PATTERN = (  # scheme match is case-insensitive (spelled out for
    # portability across Python re / Java regex / RE2 — no inline flags)
    r"(?:(?:[Hh][Tt][Tt][Pp][Ss]?|[Ff][Tt][Pp])://|[Ww][Ww][Ww]\.)"
    r"[A-Za-z0-9.\-/?#=&%+~_:@!$'()*,;]*[A-Za-z0-9/#=&%+~_\-]"
)
EMAIL_TOKEN_PATTERN = (
    r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
)
_UAX_URL_EMAIL_RE = re.compile(
    f"{URL_TOKEN_PATTERN}|{EMAIL_TOKEN_PATTERN}"
    f"|{_KATA}|{_HIRA}|{_CJK}|{_WORD}",
    re.UNICODE,
)


def _chunk_long(tokens: list[str], max_len: int) -> list[str]:
    """StandardTokenizer splits (not truncates) tokens over max_token_length."""
    if not tokens:
        return tokens
    out = []
    for t in tokens:
        if len(t) <= max_len:
            out.append(t)
        else:
            out.extend(t[i : i + max_len] for i in range(0, len(t), max_len))
    return out


# --- classic tokenizer ------------------------------------------------------
# ClassicTokenizerFactory analog (Lucene's pre-3.1 StandardTokenizer
# grammar): emails, hostnames, company names (AT&T), apostrophe words and
# acronyms survive as single tokens. Ordered alternation approximating the
# JFlex grammar, kept to RE2-safe constructs (no lookaround) so the DuckDB
# oracle can run the identical pattern. Documented divergences: NUM tokens
# with internal hyphens ("1-2-3") split (requires lookahead to demand a
# digit), and an acronym's trailing period is never part of the token.
CLASSIC_TOKEN_PATTERN = (
    r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"  # EMAIL
    r"|[A-Za-z]+(?:[&@][A-Za-z]+)+"  # COMPANY (AT&T, Excite@Home)
    r"|[A-Za-z]+(?:'[A-Za-z]+)+"  # APOSTROPHE (O'Neil's)
    r"|[A-Za-z](?:\.[A-Za-z])+"  # ACRONYM (U.S.A. -> u.s.a)
    r"|[A-Za-z0-9][A-Za-z0-9\-]*(?:\.[A-Za-z0-9][A-Za-z0-9\-]*)+"  # HOST
    r"|[A-Za-z0-9]+"  # ALPHANUM
)
_CLASSIC_RE = re.compile(CLASSIC_TOKEN_PATTERN)


def _path_hierarchy(text: str, delim: str) -> list[str]:
    """PathHierarchyTokenizerFactory.java analog (defaults: delimiter '/',
    skip 0): every ancestor prefix of the delimited value, leading-empty
    prefix dropped so "/a/b" → ["/a", "/a/b"] like the reference."""
    if not text:
        return []
    parts = text.split(delim)
    return [
        p
        for p in (delim.join(parts[: i + 1]) for i in range(len(parts)))
        if p != ""
    ]


def _char_filter_text(text: str, cfg: AnalyzerConfig) -> str:
    for name in cfg.char_filters:
        if name == "html_strip":
            text = html_strip(text)
        elif name == "mapping":
            # MappingCharFilterFactory.java analog: literal pairs in
            # declared order (divergence from Lucene's longest-match
            # automaton documented in config.py)
            for src, dst in cfg.char_filter_mappings:
                text = text.replace(src, dst)
        elif name == "pattern_replace":
            # PatternReplaceCharFilterFactory.java: global regex replace
            text = re.sub(cfg.char_filter_pattern,
                          cfg.char_filter_replacement, text)
        else:
            raise ValueError(f"unknown char filter: {name}")
    return text


def make_token_filter(cfg: AnalyzerConfig):
    """Compose the 1:1 token filters (tuple order) → callable or None."""
    if not cfg.token_filters:
        return None
    syn = {a: b for a, b in cfg.synonyms}
    funcs = []
    for name in cfg.token_filters:
        if name == "asciifolding":
            funcs.append(asciifold)
        elif name == "porter_stem":
            funcs.append(porter_stem)
        elif name == "synonym":
            funcs.append(lambda t: syn.get(t, t))
        elif name == "trim":
            # TrimTokenFilterFactory.java — strip surrounding whitespace
            # (only reachable with tokenizers that keep it, e.g. keyword)
            funcs.append(str.strip)
        elif name == "reverse":
            # ReverseTokenFilterFactory.java — reversed terms, the classic
            # leading-wildcard acceleration index
            funcs.append(lambda t: t[::-1])
        else:
            raise ValueError(f"unknown token filter: {name}")

    def apply(t: str) -> str:
        for f in funcs:
            t = f(t)
        return t

    return apply


def tokenize_text(text: str, cfg: AnalyzerConfig | None = None) -> list[str]:
    """Analyze one string: the single definition of the chain (char filters
    → tokenizer → lowercase → stopwords → token filters → shingles).
    ``max_token_length`` 0 means no chunking."""
    cfg = cfg or AnalyzerConfig()
    if text is None:
        return []
    text = _char_filter_text(text, cfg)
    if cfg.kind in ("standard", "uax_url_email"):
        rex = _STANDARD_RE if cfg.kind == "standard" else _UAX_URL_EMAIL_RE
        toks = rex.findall(text)
        if cfg.max_token_length:
            toks = _chunk_long(toks, cfg.max_token_length)
    elif cfg.kind == "simple":
        toks = _SIMPLE_RE.findall(text.lower())
    elif cfg.kind == "whitespace":
        toks = _WHITESPACE_RE.findall(text)
    elif cfg.kind == "keyword":
        toks = [text] if text else []
    elif cfg.kind == "letter":
        toks = _LETTER_RE.findall(text)
    elif cfg.kind in ("ngram", "edge_ngram"):
        src = text.lower() if cfg.lowercase else text
        lo, hi = cfg.ngram_min, cfg.ngram_max
        if cfg.kind == "edge_ngram":
            toks = [src[:n] for n in range(lo, min(hi, len(src)) + 1)]
        else:
            toks = [
                src[i : i + n]
                for n in range(lo, hi + 1)
                for i in range(max(len(src) - n + 1, 0))
            ]
    elif cfg.kind == "pattern":
        # re.ASCII: Java regex \W/\s/\d are ASCII-only by default, and the
        # SQL path compiles to Spark's Java-regex split — without the flag,
        # Python's unicode \W would split 'café' differently than the scan
        toks = [t for t in re.split(cfg.pattern, text, flags=re.ASCII) if t != ""]
    elif cfg.kind == "path_hierarchy":
        toks = _path_hierarchy(text, cfg.path_delimiter)
    elif cfg.kind == "classic":
        # no long-token chunking (like "simple"): keeps the Python and
        # native-SQL paths identical; >255-char tokens are pathological
        toks = _CLASSIC_RE.findall(text)
    else:
        raise ValueError(f"unknown analyzer kind: {cfg.kind}")
    if cfg.lowercase and cfg.kind in _LOWERCASE_AFTER:
        toks = [t.lower() for t in toks]
    if cfg.stopwords:
        stop = set(cfg.stopwords)
        toks = [t for t in toks if t not in stop]
    tf = make_token_filter(cfg)
    if tf is not None:
        toks = [tf(t) for t in toks]
    if cfg.shingle_size > 1:
        toks = shingles(toks, cfg.shingle_size)
    return toks


def analyze_series(s: pd.Series, cfg: AnalyzerConfig | None = None) -> pd.Series:
    """Analyze a pandas string Series → Series of token lists (nulls → []):
    ``tokenize_text`` mapped over the values, so every kind and filter
    behaves exactly as on the single-string path."""
    cfg = cfg or AnalyzerConfig()
    return s.fillna("").map(lambda t: tokenize_text(t, cfg))


def _flatten(toks: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Series of token lists → (flat object array, per-row token counts)."""
    lens = toks.str.len().to_numpy(np.int64)
    flat = (
        np.concatenate([np.asarray(t, dtype=object) for t in toks.to_numpy()])
        if lens.sum()
        else np.array([], dtype=object)
    )
    return flat, lens


def analyze_codes(s: pd.Series, cfg: AnalyzerConfig | None = None):
    """Builder path: analyze → factorized token codes.

    Returns (codes int64 per occurrence, uniques object array of normalized
    terms, per-doc counts). For standard/simple/whitespace without
    stopwords or shingles, per-token normalization (lowercase, the 1:1
    token filters) runs over the VOCABULARY, not the occurrences: factorize
    raw tokens, normalize the uniques, re-factorize and remap — O(vocab)
    python instead of O(tokens). Every other config, and a standard batch
    holding a token over ``max_token_length`` (a split changes token counts
    and positions), takes ``analyze_series`` and factorizes its output.
    """
    cfg = cfg or AnalyzerConfig()

    def slow():
        flat, lens = _flatten(analyze_series(s, cfg))
        codes, uniques = pd.factorize(flat)
        return codes, np.asarray(uniques, dtype=object), lens

    if (
        cfg.stopwords or cfg.shingle_size
        or cfg.kind not in ("standard", "simple", "whitespace")
    ):
        return slow()

    sf = s.fillna("")
    if cfg.char_filters:
        sf = sf.map(lambda t: _char_filter_text(t, cfg))
    if cfg.kind == "standard":
        toks = sf.str.findall(_STANDARD_RE)
    elif cfg.kind == "simple":
        toks = sf.str.lower().str.findall(_SIMPLE_RE)
    else:
        toks = sf.str.findall(_WHITESPACE_RE)
    flat, lens = _flatten(toks)
    codes, uniques = pd.factorize(flat)
    uniques = np.asarray(uniques, dtype=object)
    if cfg.kind == "standard":
        ml = cfg.max_token_length
        if ml and len(uniques) and any(len(u) > ml for u in uniques):
            return slow()
        if cfg.lowercase and len(uniques):
            low_codes, low_uniques = pd.factorize(
                np.array([u.lower() for u in uniques], dtype=object)
            )
            codes = low_codes[codes] if len(codes) else codes
            uniques = np.asarray(low_uniques, dtype=object)
    tf = make_token_filter(cfg)
    if tf is not None and len(uniques):
        # 1:1 filters (porter/asciifold/synonym) run over the VOCABULARY,
        # not the occurrences — O(vocab) python, then an int remap
        f_codes, f_uniques = pd.factorize(
            np.array([tf(u) for u in uniques], dtype=object)
        )
        codes = f_codes[codes] if len(codes) else codes
        uniques = np.asarray(f_uniques, dtype=object)
    return codes, uniques, lens


def _sql_str(s: str) -> str:
    """Escape a literal for a single-quoted Spark SQL string."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


# str.strip() removes every str.isspace() character; Spark's trim() only
# 0x20. The trim filter compiles to a Java-regex replace over that exact set
# (all of it lies in the BMP), so the token stays on the JVM path.
_WS = "[" + "".join(
    f"\\u{c:04x}" for c in range(0x10000) if chr(c).isspace()
) + "]"
_SQL_TRIM_RE = _sql_str(rf"\A{_WS}+|{_WS}+\z")
_SQL_TOKEN_FILTERS = {
    "trim": lambda x: f"regexp_replace({x}, '{_SQL_TRIM_RE}', '')",
    "reverse": lambda x: f"reverse({x})",
}


def sql_char_filter_expr(col: str, cfg: AnalyzerConfig) -> str:
    """Wrap a column expression with the SQL-expressible char filters."""
    out = col
    for name in cfg.char_filters:
        if name == "html_strip":
            out = f"regexp_replace({out}, '<[^>]*>', ' ')"
            # fixed entity table — kept identical to filters._ENTITIES
            for ent, rep in (
                ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '\\"'),
                ("&#39;", "\\'"), ("&nbsp;", " "), ("&amp;", "&"),
            ):
                out = f"replace({out}, '{ent}', '{rep}')"
        elif name == "mapping":
            for src, dst in cfg.char_filter_mappings:
                out = f"replace({out}, '{_sql_str(src)}', '{_sql_str(dst)}')"
        elif name == "pattern_replace":
            out = (
                f"regexp_replace({out}, '{_sql_str(cfg.char_filter_pattern)}',"
                f" '{_sql_str(cfg.char_filter_replacement)}')"
            )
        else:
            return ""
    return out


def sql_tokenize_expr(col: str, cfg: AnalyzerConfig) -> str | None:
    """Native Spark SQL expression for analyzers that need no Python.

    Returns None when the analyzer requires the pandas path ("standard"
    tokenizer, or any non-1:1-SQL token filter like porter_stem).
    html_strip and shingles stay JVM-side.
    """
    sql_filters = None
    if cfg.token_filters:
        if all(f in _SQL_TOKEN_FILTERS for f in cfg.token_filters):
            sql_filters = "x"
            for f in cfg.token_filters:  # 1:1, composed in tuple order
                sql_filters = _SQL_TOKEN_FILTERS[f](sql_filters)
        else:
            return None  # porter/asciifold/synonym → pandas path
    src = sql_char_filter_expr(col, cfg)
    if not src:
        return None
    if cfg.kind == "simple":
        base = f"regexp_extract_all(lower({src}), '{SIMPLE_TOKEN_PATTERN}', 0)"
    elif cfg.kind == "classic":
        inner = f"regexp_extract_all({src}, '{_sql_str(CLASSIC_TOKEN_PATTERN)}', 0)"
        base = f"transform({inner}, x -> lower(x))" if cfg.lowercase else inner
    elif cfg.kind == "whitespace":
        # split on runs of whitespace, drop empty edge tokens
        base = f"filter(split({src}, '\\\\s+'), x -> x != '')"
    elif cfg.kind == "keyword":
        # drop the empty value like the Python path ([text] if text else [])
        base = f"filter(array({src}), x -> x != '')"
    elif cfg.kind == "letter":
        inner = f"regexp_extract_all({src}, '{_LETTER_RE.pattern}', 0)"
        base = f"transform({inner}, x -> lower(x))" if cfg.lowercase else inner
    elif cfg.kind == "edge_ngram":
        s = f"lower({src})" if cfg.lowercase else src
        base = (
            f"case when length({s}) >= {cfg.ngram_min} then "
            f"transform(sequence({cfg.ngram_min}, least({cfg.ngram_max}, length({s}))),"
            f" n -> substring({s}, 1, n)) else array() end"
        )
    elif cfg.kind == "ngram":
        s = f"lower({src})" if cfg.lowercase else src
        base = (
            f"flatten(transform(sequence({cfg.ngram_min}, {cfg.ngram_max}),"
            f" n -> case when length({s}) >= n then"
            f" transform(sequence(1, length({s}) - n + 1), i -> substring({s}, i, n))"
            f" else array() end))"
        )
    elif cfg.kind == "pattern":
        inner = f"filter(split({src}, '{_sql_str(cfg.pattern)}'), x -> x != '')"
        base = f"transform({inner}, x -> lower(x))" if cfg.lowercase else inner
    elif cfg.kind == "path_hierarchy":
        # split takes a Java regex — quote the literal delimiter
        pat = _sql_str(re.escape(cfg.path_delimiter))
        d = _sql_str(cfg.path_delimiter)
        parts = f"split({src}, '{pat}')"
        base = (
            f"filter(transform(sequence(1, size({parts})),"
            f" i -> array_join(slice({parts}, 1, i), '{d}')), x -> x != '')"
        )
    else:
        return None
    if cfg.stopwords:
        # 1:1 filter (NOT array_except, which dedupes) — keeps the SQL path
        # consistent with tokenize_text's stopword removal
        stops = ", ".join(f"'{_sql_str(w)}'" for w in cfg.stopwords)
        base = f"filter({base}, x -> NOT array_contains(array({stops}), x))"
    if sql_filters is not None:
        # same position as make_token_filter: after stopwords, before shingle
        base = f"transform({base}, x -> {sql_filters})"
    if cfg.shingle_size > 1:
        n = cfg.shingle_size
        base = (
            f"case when size({base}) >= {n} then concat({base}, "
            f"transform(sequence(1, size({base}) - {n} + 1), "
            f"i -> array_join(slice({base}, i, {n}), ' '))) "
            f"else {base} end"
        )
    return base


def tokenize_column(col: str, cfg: AnalyzerConfig | None = None) -> Column:
    """Column-level tokenizer: native SQL expr when possible, else a pandas
    UDF running ``analyze_series`` over Arrow batches."""
    cfg = cfg or AnalyzerConfig()
    expr = sql_tokenize_expr(col, cfg)
    if expr is not None:
        return F.expr(expr)

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<string>")
    def _tok(s: pd.Series) -> pd.Series:
        return analyze_series(s, cfg)

    return _tok(F.col(col))
