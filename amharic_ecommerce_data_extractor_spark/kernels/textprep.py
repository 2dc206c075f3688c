"""Amharic text-normalization kernel.

Batch-vectorized (pandas Series) reimplementation of the reference
preprocessing chain with bit-identical output semantics:

* reference: ``src/data_preprocessing/text_preprocessor.py`` —
  chain order pinned at :237-274 (NFC → char variants → Geez numerals →
  url/mention/hashtag → non-Amharic/non-ASCII → punctuation → whitespace →
  optional stopwords); tokenizer at :201-233.
* goldens: the 20 passing assertions in
  ``tests/unit/test_data_preprocessing.py`` of the reference (3 stale goldens
  there contradict the reference's own code and are NOT targets — see
  SURVEY.md §5).

Implementation is deliberately different from the reference (single-pass
translate tables and precompiled alternations instead of O(n·m) sequential
``str.replace`` loops) but produces identical strings; the equivalences are
argued inline and pinned by tests/test_textprep_goldens.py.

Known reference quirks preserved on purpose (parity requires them):
* Geez numerals are substituted character-by-character with NO positional
  arithmetic: ``፳፭`` → ``"205"`` (not 25); ``፰፻`` maps to ``"100"``.
* Stopword removal is substring-based (no word boundary): ``የቤት`` → ``ቤት``.
* ``!`` is folded to ``.`` during punctuation normalization.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

# --------------------------------------------------------------------------
# Data tables (values mirror the reference's maps — they are data, not code;
# reference: text_preprocessor.py:17-59)
# --------------------------------------------------------------------------

# Ordered variant→canonical pairs, in the reference dict's insertion order.
# The reference applies them as *sequential* whole-text replace passes
# (text_preprocessor.py:76-80); order matters because a pass's output can be
# rewritten by a LATER pass (e.g. ሓ→ሃ then ሃ→ሀ via the later 'ሃ' entry).
_CHAR_VARIANT_PAIRS: list[tuple[str, str]] = [
    ("ሐ", "ሀ"), ("ሑ", "ሁ"), ("ሒ", "ሂ"), ("ሓ", "ሃ"), ("ሔ", "ሄ"), ("ሕ", "ህ"), ("ሖ", "ሆ"),
    ("ኀ", "ሀ"), ("ኁ", "ሁ"), ("ኂ", "ሂ"), ("ኃ", "ሃ"), ("ኄ", "ሄ"), ("ኅ", "ህ"), ("ኆ", "ሆ"),
    ("ሠ", "ሰ"), ("ሡ", "ሱ"), ("ሢ", "ሲ"), ("ሣ", "ሳ"), ("ሤ", "ሴ"), ("ሥ", "ስ"), ("ሦ", "ሶ"),
    ("ሧ", "ሠ"),
    ("ዐ", "አ"), ("ዑ", "ኡ"), ("ዒ", "ኢ"), ("ዓ", "ኣ"), ("ዔ", "ኤ"), ("ዕ", "እ"), ("ዖ", "ኦ"),
    ("ጸ", "ፀ"), ("ጹ", "ፁ"), ("ጺ", "ፂ"), ("ጻ", "ፃ"), ("ጼ", "ፄ"), ("ጽ", "ፅ"), ("ጾ", "ፆ"),
    ("ሃ", "ሀ"), ("ኋ", "ሐ"), ("ፅ", "ጽ"),
]


def _effective_char_map() -> dict[int, str]:
    """Collapse the ordered sequential passes into one simultaneous map.

    For a single character c, running N sequential whole-text replaces is
    equivalent to: v = c; for each (k, w) in order: if v == k: v = w.
    (A pass only sees the output of earlier passes, never of later ones.)
    All keys are single chars, so a str.translate table reproduces the
    sequential chain in one pass.
    """
    eff: dict[int, str] = {}
    for key, _ in _CHAR_VARIANT_PAIRS:
        v = key
        for k, w in _CHAR_VARIANT_PAIRS:
            if v == k:
                v = w
        eff[ord(key)] = v
    return eff


_CHAR_TABLE = _effective_char_map()

# Geez numeral → Arabic digit-string substitution. Reference applies the map
# longest-key-first (text_preprocessor.py:90-94); substituted values are ASCII
# digits (never keys), so one alternation pass ordered longest-first is
# equivalent. '፰፻'→'100' is a reference quirk, preserved (its :34).
_GEEZ_NUMERALS: list[tuple[str, str]] = [
    ("፰፻", "100"),
    ("፩", "1"), ("፪", "2"), ("፫", "3"), ("፬", "4"), ("፭", "5"),
    ("፮", "6"), ("፯", "7"), ("፰", "8"), ("፱", "9"),
    ("፲", "10"), ("፳", "20"), ("፴", "30"), ("፵", "40"), ("፶", "50"),
    ("፷", "60"), ("፸", "70"), ("፹", "80"), ("፺", "90"),
    ("፻", "100"), ("፼", "10000"),
]
_GEEZ_MAP = dict(_GEEZ_NUMERALS)
_GEEZ_RE = re.compile("|".join(re.escape(k) for k, _ in _GEEZ_NUMERALS))

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

# Punctuation folded to ASCII + '!'→'.' (text_preprocessor.py:106-112).
_PUNCT_TABLE = str.maketrans({"።": ".", "፣": ",", "፤": ";", "፧": "?", "፡": ":", "፦": "-", "!": "."})

# Tokenizer punctuation class — excludes '#', '@', '_' (text_preprocessor.py:59).
TOKENIZER_PUNCT = "!\"$%&'()*+,-./:;<=>?[\\]^`{|}~" + "።፣፤፧፡፦"

# --------------------------------------------------------------------------
# Compiled patterns
# --------------------------------------------------------------------------
_URL_RE = re.compile(r"https?://\S+|www\.\S+")
_MENTION_RE = re.compile(r"@\w+")
_HASHTAG_RE = re.compile(r"#\w+")
_NON_AM_ASCII_RE = re.compile(r"[^ሀ-፿ -~\s]+")
_WS_RE = re.compile(r"\s+")
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
_PUNCT_PAIR_RE = re.compile(r"([.?!,;:\-]+)\s*([.?!,;:\-]+)")
_TOKEN_PUNCT_RE = re.compile(r"([{}])".format(re.escape(TOKENIZER_PUNCT)))
_DIGIT_THEN_NON_RE = re.compile(r"(\d)([^\d\s])")
_NON_THEN_DIGIT_RE = re.compile(r"([^\d\s])(\d)")

_STOPWORDS_ORDERED = sorted(AMHARIC_STOP_WORDS, key=lambda w: (-len(w), w))
_STOPWORD_RES = [re.compile(re.escape(w), flags=re.IGNORECASE) for w in _STOPWORDS_ORDERED]


# --------------------------------------------------------------------------
# Scalar steps (contract: None → '' like the reference's per-step functions)
# --------------------------------------------------------------------------

def nfc_normalize(text: str | None) -> str:
    """NFC normalization (reference :62-68)."""
    return "" if text is None else unicodedata.normalize("NFC", text)


def fold_char_variants(text: str | None) -> str:
    """Canonicalize Amharic glyph variants (reference :70-80)."""
    return "" if text is None else text.translate(_CHAR_TABLE)


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


def tokenize_text(text: str | None) -> list[str]:
    """Tokenizer: pad punctuation, split digit↔non-digit boundaries, split on
    spaces, drop empties (reference :201-233)."""
    if text is None:
        return []
    s = collapse_whitespace(text)
    s = _TOKEN_PUNCT_RE.sub(r" \1 ", s)
    s = _DIGIT_THEN_NON_RE.sub(r"\1 \2", s)
    s = _NON_THEN_DIGIT_RE.sub(r"\1 \2", s)
    s = collapse_whitespace(s)
    return [t for t in s.split(" ") if t]


# --------------------------------------------------------------------------
# Series (Arrow-batch) API — the executor-side hot path.  Vectorized pandas
# .str ops; only NFC needs a per-element map (no Spark/pandas builtin).
# --------------------------------------------------------------------------

def _as_clean_str_series(s: pd.Series) -> pd.Series:
    return s.map(lambda x: "" if pd.isna(x) else str(x))


# fused fast-path patterns (equivalences argued at the definition of the
# scalar chain; pinned by test_series_matches_scalar):
# * mention+hashtag share no first-chars and both replace with ' ' — one
#   alternation pass is order-independent and equal to the two passes. (URL
#   stays separate: fusing it with mentions CAN differ on adversarial
#   '@http://…' inputs.)
_MENTION_HASHTAG_RE = re.compile(r"@\w+|#\w+")
# * runs of one punct char collapse independently of other chars, so a single
#   backreference pass equals the reference's seven per-char passes
_PUNCT_RUN_RE = re.compile(r"([.?!,;:\-])\1+")


def _nfc_if_needed(x: str) -> str:
    # is_normalized is a C-level quick check; most real text is already NFC
    return x if unicodedata.is_normalized("NFC", x) else unicodedata.normalize("NFC", x)


# * the char-variant fold commutes past geez / url / mention+hashtag /
#   non-Amharic-strip: it maps single Ethiopic LETTERS to Ethiopic letters,
#   and every character class those passes consult is closed under that map
#   (letters stay \w, stay \S, stay inside ሀ-፿; none of the pass patterns
#   name a folded letter literally, and geez keys/values are numerals/digits
#   the fold never touches). Moving the fold after the strips lets it fuse
#   with the punctuation fold into ONE translate pass (key sets disjoint:
#   letters vs punctuation). The punctuation fold itself must NOT move before
#   the url strip ('!'→'.' would turn 'www!x' into a strippable URL), which
#   is why the fusion point is here and not at the chain head.
_FOLD_TABLE: dict[int, str] = {**_CHAR_TABLE, **_PUNCT_TABLE}


def preprocess_series(s: pd.Series, remove_stopwords: bool = False) -> pd.Series:
    """Vectorized full chain; same output as preprocess_text element-wise."""
    out = _as_clean_str_series(s)
    out = out.map(_nfc_if_needed)
    out = out.str.replace(_GEEZ_RE, lambda m: _GEEZ_MAP[m.group(0)], regex=True)
    out = out.str.replace(_URL_RE, " ", regex=True)
    out = out.str.replace(_MENTION_HASHTAG_RE, " ", regex=True)
    out = out.str.replace(_NON_AM_ASCII_RE, " ", regex=True)
    out = out.str.translate(_FOLD_TABLE)
    out = out.str.replace(_PUNCT_RUN_RE, r"\1", regex=True)
    out = out.str.replace(_PUNCT_PAIR_RE, r"\1", regex=True).str.strip()
    out = out.str.replace(_WS_RE, " ", regex=True).str.strip()
    if remove_stopwords:
        for rx in _STOPWORD_RES:
            out = out.str.replace(rx, " ", regex=True)
        out = out.str.replace(_WS_RE, " ", regex=True).str.strip()
    return out
