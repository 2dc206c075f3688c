"""Executable spec of the text-normalization kernel in ``kernels/textprep.py``:
the reference preprocessing chain (``text_preprocessor.py:237-274``) as its
eight sequential passes, one function per step, stopword removal included.
``tp.preprocess_text`` runs the same chain in fused passes;
``tests/test_textprep_goldens.py`` and ``tests/test_textprep_property.py``
pin each step to the reference goldens and the fused chain to this one.
"""

import re
import unicodedata

import pandas as pd

from amharic_ecommerce_data_extractor_spark.kernels.textprep import (
    _CHAR_VARIANT_PAIRS, _GEEZ_MAP, _GEEZ_RE, _NON_AM_ASCII_RE, _PUNCT_PAIR_RE, _PUNCT_TABLE,
    _URL_RE, _WS_RE)

# Stopword list mirrors text_preprocessor.py:44-53 (a data table). Removal is
# substring-based, longest-first, case-insensitive (its :191-195). The
# reference's tie order within a length is set-iteration order (unstable
# across interpreter runs); we pin ties lexicographically — deterministic
# superset of the reference's observable goldens.
AMHARIC_STOP_WORDS: frozenset[str] = frozenset({
    "ነው", "እና", "የ", "አለ", "ውስጥ", "ላይ", "ጋር", "ወደ", "ከ", "አንድ", "ሁለት",
    "ሶስት", "አራት", "አምስት", "ስድስት", "ሰባት", "ስምንት", "ዘጠኝ", "አስር",
    "ብር", "ክፍያ", "አድራሻ", "ቁጥር", "ፎቅ", "ቢሮ", "ይህ", "ያለ",
    "ነው።", "ነው.", "የ.",
    "።", ",", ".", "?", "!", ":", ";", "-", "፣", "፤", "፧", "፡", "፦",
})

_MENTION_RE = re.compile(r"@\w+")
_HASHTAG_RE = re.compile(r"#\w+")
# run-collapse passes, in reference order (text_preprocessor.py:115-121)
_PUNCT_RUNS = [
    (re.compile(r"\.{2,}"), "."),
    (re.compile(r"\?{2,}"), "?"),
    (re.compile(r"!{2,}"), "!"),
    (re.compile(r",{2,}"), ","),
    (re.compile(r";{2,}"), ";"),
    (re.compile(r":{2,}"), ":"),
    (re.compile(r"-{2,}"), "-"),
]

_STOPWORDS_ORDERED = sorted(AMHARIC_STOP_WORDS, key=lambda w: (-len(w), w))
_STOPWORD_RES = [re.compile(re.escape(w), flags=re.IGNORECASE) for w in _STOPWORDS_ORDERED]


def nfc_normalize(text: str | None) -> str:
    """NFC normalization (reference :62-68)."""
    return "" if text is None else unicodedata.normalize("NFC", text)


def fold_char_variants(text: str | None) -> str:
    """Canonicalize Amharic glyph variants (reference :70-80): one
    whole-text replace pass per pair, in order. The package folds with the
    single table ``_effective_char_map`` collapses these passes into."""
    if text is None:
        return ""
    for variant, canonical in _CHAR_VARIANT_PAIRS:
        text = text.replace(variant, canonical)
    return text


def geez_digits_to_arabic(text: str | None) -> str:
    """Character-by-character Geez→Arabic digit substitution (reference :82-94)."""
    if text is None:
        return ""
    return _GEEZ_RE.sub(lambda m: _GEEZ_MAP[m.group(0)], text)


def strip_urls_mentions_hashtags(text: str | None) -> str:
    """URLs / @mentions / #hashtags → single space each (reference :130-144)."""
    if text is None:
        return ""
    text = _URL_RE.sub(" ", text)
    text = _MENTION_RE.sub(" ", text)
    return _HASHTAG_RE.sub(" ", text)


def strip_non_amharic_non_ascii(text: str | None) -> str:
    """Chars outside Ethiopic block + printable ASCII + whitespace → space
    (reference :146-159)."""
    return "" if text is None else _NON_AM_ASCII_RE.sub(" ", text)


def normalize_punct(text: str | None) -> str:
    """Ethiopian punct → ASCII, '!'→'.', collapse runs, collapse
    punct-space-punct to the first group, then strip (reference :96-128)."""
    if text is None:
        return ""
    text = text.translate(_PUNCT_TABLE)
    for rx, repl in _PUNCT_RUNS:
        text = rx.sub(repl, text)
    return _PUNCT_PAIR_RE.sub(r"\1", text).strip()


def collapse_whitespace(text: str | None) -> str:
    """All whitespace runs → one space, trimmed (reference :161-172)."""
    return "" if text is None else _WS_RE.sub(" ", text).strip()


def drop_stopwords(text: str | None) -> str:
    """Substring removal of stopwords, longest-first, case-insensitive,
    followed by whitespace cleanup (reference :175-198)."""
    if text is None:
        return ""
    for rx in _STOPWORD_RES:
        text = rx.sub(" ", text)
    return collapse_whitespace(text)


def preprocess_text(text, remove_stopwords: bool = False) -> str:
    """Full chain in reference order (text_preprocessor.py:237-274).

    NaN/None-robust like the reference (pd.isna → '').
    """
    if text is None or (isinstance(text, float) and pd.isna(text)):
        return ""
    s = str(text)
    s = nfc_normalize(s)
    s = fold_char_variants(s)
    s = geez_digits_to_arabic(s)
    s = strip_urls_mentions_hashtags(s)
    s = strip_non_amharic_non_ascii(s)
    s = normalize_punct(s)
    s = collapse_whitespace(s)
    if remove_stopwords:
        s = drop_stopwords(s)
        s = collapse_whitespace(s)
    return s
