"""Amharic text-normalization kernel.

One per-string implementation of the reference preprocessing chain with
bit-identical output:

* reference: ``src/data_preprocessing/text_preprocessor.py`` —
  chain order pinned at :237-274 (NFC → char variants → Geez numerals →
  url/mention/hashtag → non-Amharic/non-ASCII → punctuation → whitespace →
  optional stopwords, which the reference pipeline never enables);
  tokenizer at :201-233.
* goldens: the 20 passing assertions in
  ``tests/unit/test_data_preprocessing.py`` of the reference (3 stale goldens
  there contradict the reference's own code and are NOT targets — see
  SURVEY.md §5).

Implementation is deliberately different from the reference (fused passes,
single-pass translate tables and precompiled alternations instead of
O(n·m) sequential ``str.replace`` loops) but produces identical strings;
the equivalences are argued inline. The reference's eight sequential
passes, stopword removal included, live in ``tests/textprep_spec.py`` as
the executable spec ``preprocess_text`` is pinned against
(tests/test_textprep_goldens.py, tests/test_textprep_property.py).

Known reference quirks preserved on purpose (parity requires them):
* Geez numerals are substituted character-by-character with NO positional
  arithmetic: ``፳፭`` → ``"205"`` (not 25); ``፰፻`` maps to ``"100"``.
* ``!`` is folded to ``.`` during punctuation normalization.
"""

from __future__ import annotations

import math
import re
import unicodedata

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

# Punctuation folded to ASCII + '!'→'.' (text_preprocessor.py:106-112).
_PUNCT_TABLE = str.maketrans({"።": ".", "፣": ",", "፤": ";", "፧": "?", "፡": ":", "፦": "-", "!": "."})

# Tokenizer punctuation class — excludes '#', '@', '_' (text_preprocessor.py:59).
TOKENIZER_PUNCT = "!\"$%&'()*+,-./:;<=>?[\\]^`{|}~" + "።፣፤፧፡፦"

# --------------------------------------------------------------------------
# Compiled patterns
# --------------------------------------------------------------------------
_URL_RE = re.compile(r"https?://\S+|www\.\S+")
_NON_AM_ASCII_RE = re.compile(r"[^ሀ-፿ -~\s]+")
_WS_RE = re.compile(r"\s+")
_PUNCT_PAIR_RE = re.compile(r"([.?!,;:\-]+)\s*([.?!,;:\-]+)")
_TOKEN_PUNCT_RE = re.compile(r"([{}])".format(re.escape(TOKENIZER_PUNCT)))
_DIGIT_THEN_NON_RE = re.compile(r"(\d)([^\d\s])")
_NON_THEN_DIGIT_RE = re.compile(r"([^\d\s])(\d)")


# fused patterns (each equivalence is argued here and pinned against the
# sequential spec chain, tests/textprep_spec.py):
# * mention+hashtag share no first-chars and both replace with ' ' — one
#   alternation pass is order-independent and equal to the two passes. (URL
#   stays separate: fusing it with mentions CAN differ on adversarial
#   '@http://…' inputs.)
_MENTION_HASHTAG_RE = re.compile(r"@\w+|#\w+")
# * runs of one punct char collapse independently of other chars, so a single
#   backreference pass equals the reference's seven per-char passes
_PUNCT_RUN_RE = re.compile(r"([.?!,;:\-])\1+")
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


def _geez_digits(m: re.Match) -> str:
    return _GEEZ_MAP[m.group(0)]


def preprocess_text(text) -> str:
    """The reference chain (text_preprocessor.py:237-274, stopwords off)
    on one string, in fused passes. None and float NaN give '' like the
    reference's pd.isna guard."""
    if text is None or (isinstance(text, float) and math.isnan(text)):
        return ""
    s = str(text)
    # is_normalized is a C-level quick check; most real text is already NFC
    if not unicodedata.is_normalized("NFC", s):
        s = unicodedata.normalize("NFC", s)
    s = _GEEZ_RE.sub(_geez_digits, s)
    s = _URL_RE.sub(" ", s)
    s = _MENTION_HASHTAG_RE.sub(" ", s)
    s = _NON_AM_ASCII_RE.sub(" ", s)
    s = s.translate(_FOLD_TABLE)
    s = _PUNCT_RUN_RE.sub(r"\1", s)
    s = _PUNCT_PAIR_RE.sub(r"\1", s).strip()
    return _WS_RE.sub(" ", s).strip()


def tokenize_text(text: str | None) -> list[str]:
    """Tokenizer: pad punctuation, split digit↔non-digit boundaries, split on
    spaces, drop empties (reference :201-233)."""
    if text is None:
        return []
    s = _WS_RE.sub(" ", text).strip()
    s = _TOKEN_PUNCT_RE.sub(r" \1 ", s)
    s = _DIGIT_THEN_NON_RE.sub(r"\1 \2", s)
    s = _NON_THEN_DIGIT_RE.sub(r"\1 \2", s)
    s = _WS_RE.sub(" ", s).strip()
    return [t for t in s.split(" ") if t]
