"""Deterministic rule-based NER labeler (the engine's parity-testable
"model" backend).

Reimplements the reference's pseudo-labeling semantics exactly:
* tokenizer: ``src/data_labeling/pseudo_labeler.py:12-43``
  (``tokenize_amharic_message``)
* BIO state machine: ``src/data_labeling/pseudo_labeler.py:45-158``
  (``pseudo_label_message``) — price rules (number + ብር lookahead,
  embedded-digit split, ዋጋ keyword), location gazetteer with greedy
  multi-token continuation, product gazetteer with descriptor continuation.

One documented extension beyond the reference rules (the reference's
pseudo-labeler never emits CONTACT_INFO; the label exists only in its
hand-labeled corpus, e.g. ``+251911123456`` at ``ner_trainer.py:259``):
a phone-shaped token rule emitting ``B-CONTACT_INFO``, applied before the
price rules so phone digits are not mislabeled as prices.

The walker is inherently sequential per message (cursor + lookahead), so it
runs as a per-row Python function *inside* Arrow-batched UDF calls — the
batch boundary is vectorized, the automaton is not expressible as column ops.
"""

from __future__ import annotations

import re
from functools import lru_cache

# ---------------------------------------------------------------------------
# Gazetteers (data tables mirroring pseudo_labeler.py:92,122,125,141)
# ---------------------------------------------------------------------------

LOCATION_KEYWORDS: tuple[str, ...] = (
    "መገናኛ", "ለቡ", "ስሪ", "ኤም", "ሲቲ", "ሞል", "ታሜ", "ጋስ", "ህንፃ", "መዳህኒዓለም",
    "ቤተ/ክርስቲያን", "#ዛም_ሞል", "ቁ.1", "ቁ.2", "ቢሮ", "ቁጥር",
)

LOCATION_CONTEXT_WORDS: frozenset[str] = frozenset({"ፎቅ", "ፊት", "ለ", "ጎን", "ቢሮ", "ቁ."})

ENGLISH_PRODUCT_INDICATORS: frozenset[str] = frozenset({
    "product", "set", "machine", "maker", "blender", "stove", "pan", "humidifier",
    "cleaner", "bags", "brush", "lamp", "pad", "tape", "mop", "bottle", "air fryer",
    "knife", "oven", "grinder", "rack", "bowl", "tray", "dispenser", "massager",
    "cup", "crepe", "towel", "cap", "light", "corrector", "blanket", "shaper",
    "heater", "scrubber", "epilator", "vibrator", "slicer", "guard", "warmer",
    "clipper", "lunch", "steamer", "play mat", "massage", "bag", "diffuser",
    "spice", "container", "hair curler", "food storage", "diaper", "dumpling",
    "organizer", "charcoal burner", "bathroom set", "toilet", "dish washing gloves",
    "cookware", "mixer", "juicer", "nutties", "biscuits", "omelette", "waffles",
    "snacks", "aprons", "abacus", "nail", "thermometer", "tweezer", "scissor",
    "aspirator", "medicine dispenser", "tooth brush", "portable", "electric",
    "stainless steel", "silicon", "mini", "automatic", "rechargeable", "smart",
    "adjustable", "foldable", "multipurpose", "multinational", "luxury", "quality",
    "style", "expert",
})

AMHARIC_PRODUCT_INDICATORS: frozenset[str] = frozenset({
    "ምርጥ", "እቃ", "ልብስ", "ማሳጅ", "መፍጫ", "መቁረጫ", "ማድረቂያ", "ማጠቢያ", "ማስቀመጫ",
    "ድስት", "መጥበሻ", "ቢላ", "ሻወር", "ዳይፐር", "ማቅረቢያ", "ምድጃ", "ስቶቭ", "ማሰሮ",
    "መወልወያ", "መብራት", "ስብስብ", "ስላይስ", "ማሽን", "ክሬም", "ቡና", "እንቁላል", "ሊጥ",
    "ጁስ", "አትክልት", "ስጋ", "ቦርጭ", "ፀጉር", "ፂም", "መቆረጪያ", "ቶንዶስ", "አማራጭ",
    "ብርጭቆ", "ሙቀት", "ምጣድ", "መጭመቂያ", "የጽዳት", "እንጨት", "መደርደሪያ",
})

PRODUCT_DESCRIPTORS: frozenset[str] = frozenset({
    "high", "quality", "new", "original", "style", "luxury", "portable", "electric",
    "stainless", "steel", "silicon", "mini", "automatic", "rechargeable", "smart",
    "adjustable", "foldable", "multipurpose", "multinational", "excellent", "durable",
    "best", "smooth", "effective", "waterproof", "ceramic", "glass", "bamboo",
    "wooden", "flexible", "long", "handled", "dual", "single", "multi-function",
    "set", "pcs", "pack", "in",
})

PRICE_TRIGGERS: frozenset[str] = frozenset({"ዋጋ", "ዋጋ፦", "ዋጋ:-", "price-"})

_NUM_RE = re.compile(r"^\d[\d,\.]*$")
_LOC_KW_RE = re.compile("|".join(re.escape(k) for k in LOCATION_KEYWORDS))
_HAS_DIGIT_RE = re.compile(r"\d")
_NUM_SPLIT_RE = re.compile(r"(\d[\d,\.]*)")
_TOKEN_RE = re.compile(r"\b\w+\b|[.,;!?#@%/:-]")
_WORD_OR_PUNCT_SPLITTERS = re.compile(r"[:\-]")
# extension rule: Ethiopian phone shapes; '+' is stripped by the tokenizer so
# accept both bare and '+'-prefixed international form plus local 09xxxxxxxx
_PHONE_RE = re.compile(r"^(?:\+?2519\d{8}|09\d{8})$")


def tokenize_message(message: str) -> list[str]:
    """Messaging-oriented tokenizer (pseudo_labeler.py:12-43 semantics):
    word/punct findall, then splitting of glued ``<num>ብር``, ``ዋጋ:-<num>``
    and ``<a>x<b>`` dimension tokens."""
    message = message.replace("፦", ":").replace("•", "")
    out: list[str] = []
    for token in _TOKEN_RE.findall(message):
        if "ብር" in token and len(token) > 2:
            head, _, _tail = token.partition("ብር")
            if head:
                out.append(head)
            out.append("ብር")
        elif "ዋጋ" in token and ":" in token:
            parts = _WORD_OR_PUNCT_SPLITTERS.split(token)
            out.append(parts[0])
            out.extend(p for p in parts[1:] if p)
        elif "x" in token and (token.replace("x", "").isdigit()
                               or any(c.isalpha() for c in token.replace("x", ""))):
            parts = token.split("x")
            out.append(parts[0])
            out.append("x")
            if parts[1]:
                out.append(parts[1])
        else:
            out.append(token)
    return [t for t in out if t.strip()]


def _is_num(tok: str) -> bool:
    return _NUM_RE.match(tok) is not None


# ---------------------------------------------------------------------------
# Per-token classification cache. Every predicate the walker consults
# (phone/number regexes, gazetteer membership, lower()) is a pure function
# of the token string, and token vocabularies are Zipf-distributed — on the
# bench corpus ~5% of token occurrences are distinct — so one bounded LRU
# (module-level = per Python worker process, shared across Arrow batches
# via spark.python.worker.reuse) removes ~95% of the regex/lower work from
# the hot loop. functools.lru_cache is C-implemented and keeps the hot head
# of the distribution under vocabulary churn (numbers/phones are the
# long tail); entries are immutable tuples.
#
# classification tuple is (flags, low, bir_pieces): flags is a bitmask of the
# predicate bits below (one int test in the walker instead of a 9-way tuple
# unpack per token); bir_pieces is the precomputed rule-1b piece list when the
# token qualifies (glued digits+'ብር'), else None.
# ---------------------------------------------------------------------------

_PHONE, _NUM_F, _PIECES, _TRIG, _LOCKW, _LOCCTX, _PROD, _DESC = (
    1, 2, 4, 8, 16, 32, 64, 128)
# bits that can START a rule at the walker cursor; a token with none of them
# (the common case) is labeled 'O' with a single AND — LOCCTX/DESC only
# matter as run continuations, which test cls[j] inside the run loops.
_RULE_MASK = _PHONE | _NUM_F | _PIECES | _TRIG | _LOCKW | _PROD


@lru_cache(maxsize=1 << 17)
def _classify(tok: str) -> tuple:
    low = tok.lower()
    flags = 0
    pieces = None
    if "ብር" in low and _HAS_DIGIT_RE.search(tok):
        pieces = tuple(p for p in _NUM_SPLIT_RE.split(tok) if p)
        flags |= _PIECES
    if _PHONE_RE.match(tok) is not None:
        flags |= _PHONE
    if _NUM_RE.match(tok) is not None:
        flags |= _NUM_F
    if low in PRICE_TRIGGERS:
        flags |= _TRIG
    if _LOC_KW_RE.search(tok) is not None:
        flags |= _LOCKW
    if low in LOCATION_CONTEXT_WORDS:
        flags |= _LOCCTX
    if low in ENGLISH_PRODUCT_INDICATORS or low in AMHARIC_PRODUCT_INDICATORS:
        flags |= _PROD
    if low in PRODUCT_DESCRIPTORS:
        flags |= _DESC
    return (flags, low, pieces)


def label_tokens(tokens: list[str], with_contact_rule: bool = True) -> list[tuple[str, str]]:
    """BIO-label a token sequence; returns [(token, label)].

    Mirrors pseudo_label_message (pseudo_labeler.py:45-158) rule-for-rule;
    the phone rule is the documented extension (off via with_contact_rule).
    Note the embedded-digit price rule consults the *accumulated* output
    sequence (reference :67), so labels can depend on the previous emission —
    preserved here. Per-token predicates come from the bounded _classify
    cache; the walker itself (cursor + lookahead) is unchanged.
    """
    seq: list[tuple[str, str]] = []
    append = seq.append
    n = len(tokens)
    cls = [_classify(t) for t in tokens]
    i = 0
    while i < n:
        tok = tokens[i]
        c = cls[i]
        flags = c[0]

        # common case first: no rule can start here → 'O' on one AND
        if not flags & _RULE_MASK:
            append((tok, "O"))
            i += 1
            continue

        # Rule 0 (extension): phone-shaped token → contact info
        if with_contact_rule and flags & _PHONE:
            append((tok, "B-CONTACT_INFO"))
            i += 1
            continue

        # Rule 1a: bare number followed by 'ብር'
        if flags & _NUM_F and i + 1 < n and cls[i + 1][1] == "ብር":
            append((tok, "B-PRICE"))
            append((tokens[i + 1], "I-PRICE"))
            i += 2
            continue

        # Rule 1b: glued digits+'ብር' inside one token (e.g. '550ብር')
        if flags & _PIECES:
            for piece in c[2]:
                if _is_num(piece):
                    starts = not seq or seq[-1][1] == "O"
                    append((piece, "B-PRICE" if starts else "I-PRICE"))
                elif piece.lower() == "ብር":
                    append((piece, "I-PRICE"))
                else:
                    append((piece, "O"))
            i += 1
            continue

        # Rule 1c: price trigger word, with number (+ 'ብር') lookahead
        if flags & _TRIG:
            append((tok, "B-PRICE"))
            i += 1
            if i < n and cls[i][0] & _NUM_F:
                append((tokens[i], "I-PRICE"))
                i += 1
                if i < n and cls[i][1] == "ብር":
                    append((tokens[i], "I-PRICE"))
                    i += 1
            continue

        # Rule 2: location gazetteer hit (substring — one compiled
        # alternation scan, equivalent to any(kw in tok)) + greedy
        # continuation (with the contact extension on, phone-shaped tokens
        # terminate the run instead of being consumed as location numbers)
        if flags & _LOCKW:
            j = i
            run: list[str] = []
            while j < n:
                fj = cls[j][0]
                if with_contact_rule and fj & _PHONE:
                    break
                if fj & (_LOCKW | _NUM_F | _LOCCTX):
                    run.append(tokens[j])
                    j += 1
                else:
                    break
            if run:
                append((run[0], "B-LOC"))
                seq.extend((t, "I-LOC") for t in run[1:])
                i = j
                continue

        # Rule 3: product gazetteer hit (exact lower match) + descriptor run
        if flags & _PROD:
            j = i + 1
            run = [tok]
            while j < n:
                fj = cls[j][0]
                if with_contact_rule and fj & _PHONE:
                    break
                if fj & (_PROD | _NUM_F | _DESC):
                    run.append(tokens[j])
                    j += 1
                else:
                    break
            append((run[0], "B-PRODUCT"))
            seq.extend((t, "I-PRODUCT") for t in run[1:])
            i = j
            continue

        append((tok, "O"))
        i += 1
    return seq


# ---------------------------------------------------------------------------
# Entity grouping + price parsing (notebook-03 semantics)
# ---------------------------------------------------------------------------

_PRICE_STRIP_RE = re.compile(r"[ብርbirr\s,]")  # charclass per notebook 03 cell 11


def parse_price(phrase: str) -> float | None:
    """Price phrase → float; strips the {ብ,ር,b,i,r,whitespace,comma} charclass
    then float()s, None (SQL null ≙ NaN) on failure — notebook 03 cell 11
    ``extract_numerical_price``."""
    cleaned = _PRICE_STRIP_RE.sub("", phrase.lower())
    try:
        return float(cleaned)
    except ValueError:
        return None


# label → (known entity type or None, starts_new_run). Labels come from a
# tiny closed vocabulary in the hot path (the 9 BIO labels + 'O'), but
# file-sourced sequences can carry arbitrary corrupted labels or nulls, so
# the cache is a bounded LRU.
_KNOWN_TYPES = ("PRODUCT", "PRICE", "LOC", "CONTACT_INFO")


@lru_cache(maxsize=4096)
def _label_info(label: str | None) -> tuple:
    if isinstance(label, str) and label.startswith(("B-", "I-")) \
            and label[2:] in _KNOWN_TYPES:
        return label[2:], label[0] == "B"
    return None, False


def bio_spans(labels: list[str | None]) -> list[tuple[str, int, int]]:
    """BIO labels → [(type, start, end_exclusive)] under seqeval's run rules:
    a run starts at B-X or at an I-X that does not continue an X run; None
    and unknown/corrupted labels count as O (SURVEY.md Appendix A, corrupted
    ``I-LOCገ`` handling)."""
    spans = []
    cur_type, start = None, 0
    for i, label in enumerate(labels):
        etype, is_b = _label_info(label)
        if is_b or etype != cur_type:
            if cur_type is not None:
                spans.append((cur_type, start, i))
            cur_type, start = etype, i
    if cur_type is not None:
        spans.append((cur_type, start, len(labels)))
    return spans


def group_entities(tokens: list[str], labels: list[str]) -> dict[str, list[str]]:
    """Collapse a BIO-labeled token sequence into per-type entity phrases:
    the tokens of each ``bio_spans`` run, space-joined."""
    out: dict[str, list[str]] = {t: [] for t in _KNOWN_TYPES}
    for etype, s, e in bio_spans(labels):
        out[etype].append(" ".join(tokens[s:e]))
    return out


# text → finished record memo (per Python worker process, shared across
# Arrow batches). The kernel is a pure function of (text, flag), and real
# message corpora repeat heavily (the premise of the dedup operators; the
# bench corpus runs 25-50% duplicate texts) — but within one ~10k-row Arrow
# batch the duplicate rate is only ~8%, so the cache must outlive the batch
# to capture it, which worker reuse provides. lru_cache (C-implemented)
# keeps the hot head of the Zipf distribution — measured: 100% of the
# bench corpus's duplicate mass sits in the top-64k texts. Cached records
# are returned BY REFERENCE (callers must not mutate — the batch path only
# reads fields into Arrow columns).


@lru_cache(maxsize=1 << 17)
def extract_message_cached(text: str, with_contact_rule: bool = True) -> dict[str, list]:
    """Memoized extract_message for the Arrow-batch hot path; identical
    output (same-object on repeat texts — treat records as immutable)."""
    return extract_message(text, with_contact_rule=with_contact_rule)


def extract_message(text: str, with_contact_rule: bool = True) -> dict[str, list]:
    """text → per-message entity record: the per-row kernel the Spark
    extraction operator maps over Arrow batches.

    Returns dict with products/prices/locations/contacts (list[str] phrases)
    and price_values (list[float], nulls dropped — notebook 03
    ``all_numerical_prices``).
    """
    tokens = tokenize_message(text) if text else []
    labeled = label_tokens(tokens, with_contact_rule=with_contact_rule)
    tokens = [t for t, _ in labeled]
    labels = [l for _, l in labeled]
    ents = group_entities(tokens, labels)
    price_values = [v for v in (parse_price(p) for p in ents["PRICE"]) if v is not None]
    return {
        "tokens": tokens,
        "labels": labels,
        "products": ents["PRODUCT"],
        "prices": ents["PRICE"],
        "locations": ents["LOC"],
        "contacts": ents["CONTACT_INFO"],
        "price_values": price_values,
    }
