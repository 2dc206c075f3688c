"""Property-based tests (hypothesis): the fused chain the package runs and
the sequential spec chain (tests/textprep_spec.py) agree on arbitrary
unicode input; structural invariants of the cleaned text and the labeler
hold."""

from hypothesis import given, settings
from hypothesis import strategies as st

from amharic_ecommerce_data_extractor_spark.kernels import labeler as lb
from amharic_ecommerce_data_extractor_spark.kernels import textprep as tp
from tests import textprep_spec as spec

# text alphabet mixing Ethiopic, ASCII, Geez numerals, punctuation and junk
_ALPHABET = st.sampled_from(
    list("ሀሁሂምርጥእቃዋጋብር ነው።፣፤፧፡፦!?.,:;-@#_/ abcdefgXZ0123456789")
    + ["፩", "፪", "፻", "፳", "፭", "😊", " ", "\t", "\n", "é", "漢"]
)
_TEXT = st.text(alphabet=_ALPHABET, max_size=120)


@given(_TEXT)
@settings(max_examples=300, deadline=None)
def test_fused_equals_spec(text):
    assert tp.preprocess_text(text) == spec.preprocess_text(text)


@given(_TEXT)
@settings(max_examples=300, deadline=None)
def test_preprocess_invariants(text):
    out = tp.preprocess_text(text)
    # idempotent-ish invariants of the cleaned form
    assert out == out.strip()
    assert "  " not in out
    assert "\t" not in out and "\n" not in out
    # only Ethiopic / printable-ASCII survive
    assert all(("ሀ" <= c <= "፿") or (" " <= c <= "~") for c in out)
    # NOT idempotent (faithful to the reference: the punct-pair collapse is
    # single-pass, so ':.-' → ':.' → ':'), but re-application only shrinks
    assert len(tp.preprocess_text(out)) <= len(out)


@given(_TEXT)
@settings(max_examples=300, deadline=None)
def test_labeler_invariants(text):
    clean = tp.preprocess_text(text)
    rec = lb.extract_message(clean)
    assert len(rec["tokens"]) == len(rec["labels"])
    assert all(l == "O" or l[:2] in ("B-", "I-") for l in rec["labels"])
    # every extracted phrase is made of tokens from the message
    toks = set(rec["tokens"])
    for key in ("products", "prices", "locations", "contacts"):
        for phrase in rec[key]:
            assert all(t in toks for t in phrase.split(" "))
    # price values parse from price phrases only
    assert len(rec["price_values"]) <= len(rec["prices"])
