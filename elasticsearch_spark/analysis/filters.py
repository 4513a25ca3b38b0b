"""Token/char filters — the analysis long tail (SURVEY.md §2.9).

Reference factories (citations into /root/reference/src/main/java/org/
elasticsearch/index/analysis/):
- PorterStemTokenFilterFactory.java / StemmerTokenFilterFactory.java
- ASCIIFoldingTokenFilterFactory.java
- HtmlStripCharFilterFactory.java
- ShingleTokenFilterFactory.java
- SynonymTokenFilterFactory.java

Implementations are from the published algorithms (Porter 1980 for the
stemmer; Unicode NFKD for folding) — re-derived, not ports. Divergences
from the Lucene classes are documented inline.
"""

from __future__ import annotations

import re
import unicodedata

# --- Porter stemmer (M.F. Porter, "An algorithm for suffix stripping",
# Program 14(3) 1980 — the classic public algorithm) ----------------------

_VOWELS = set("aeiou")


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """m = number of VC sequences in the [C](VC)^m[V] form."""
    m, prev_vowel = 0, False
    for i in range(len(stem)):
        v = not _is_cons(stem, i)
        if prev_vowel and not v:
            m += 1
        prev_vowel = v
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    """*o: stem ends cvc where the final c is not w, x or y."""
    if len(word) < 3:
        return False
    return (
        _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("bli", "ble"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ("logi", "log"),
]
_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]
_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(word: str) -> str:
    """Porter stemming algorithm, steps 1a-5b, for lowercase ascii words."""
    w = word
    if len(w) <= 2:
        return w
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif not w.endswith("ss") and w.endswith("s"):
        w = w[:-1]
    # step 1b
    flag = False
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _has_vowel(w[:-2]):
        w, flag = w[:-2], True
    elif w.endswith("ing") and _has_vowel(w[:-3]):
        w, flag = w[:-3], True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_cons(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break
    # step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break
    # step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if suf == "ion":
                continue
            if _measure(stem) > 1:
                w = stem
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st":
            stem = w[:-3]
            if _measure(stem) > 1:
                w = stem
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem
    # step 5b
    if _ends_double_cons(w) and w.endswith("l") and _measure(w) > 1:
        w = w[:-1]
    return w


# --- ASCII folding --------------------------------------------------------

_FOLD_SPECIAL = {
    "ß": "ss", "æ": "ae", "Æ": "AE", "œ": "oe", "Œ": "OE",
    "ø": "o", "Ø": "O", "đ": "d", "Đ": "D", "ł": "l", "Ł": "L",
    "þ": "th", "Þ": "TH", "ð": "d", "Ð": "D",
}


def asciifold(word: str) -> str:
    """Fold accented/decorated latin chars to ascii.

    NFKD decomposition + combining-mark strip, plus the common specials
    with no decomposition. Narrower than Lucene ASCIIFoldingFilter's full
    hand-written table (which also folds quotes/dashes/ligature punctuation)
    — adequate for token text, divergence documented here.
    """
    if word.isascii():
        return word
    w = "".join(_FOLD_SPECIAL.get(c, c) for c in word)
    out = unicodedata.normalize("NFKD", w)
    return "".join(c for c in out if not unicodedata.combining(c))


# --- html_strip char filter ----------------------------------------------

_TAG_RE = re.compile(r"<[^>]*>")
# fixed entity table (kept deliberately small and identical to the SQL
# oracle mirror — Lucene's HTMLStripCharFilter decodes the full HTML entity
# set; divergence documented)
_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&nbsp;", " "), ("&amp;", "&"),  # &amp; last so &amp;lt; stays &lt;
]


def html_strip(text: str) -> str:
    """Replace tags with a space, then decode the fixed entity table."""
    out = _TAG_RE.sub(" ", text)
    for ent, rep in _ENTITIES:
        out = out.replace(ent, rep)
    return out


# --- shingles -------------------------------------------------------------


def shingles(tokens: list[str], size: int) -> list[str]:
    """ShingleFilter with output_unigrams=true, token_separator ' ':
    unigrams followed by all adjacent ``size``-grams."""
    if size <= 1 or len(tokens) < size:
        return list(tokens)
    return list(tokens) + [
        " ".join(tokens[i : i + size]) for i in range(len(tokens) - size + 1)
    ]
