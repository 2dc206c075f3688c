"""Executes the model-inference backend (N1+N2) for real: the ``numpy``
backend loads the committed random-weight checkpoint per executor, runs
tensor inference over Arrow batches inside Spark, emits HF-shaped char-offset
spans, and projects them onto tokens via the corrected span→token alignment.
This is the executable twin of the ``hf`` backend (reference
``model_evaluator.py:81-142``) for environments without transformers."""

import os

import pytest
from pyspark.sql import functions as F

from amharic_ecommerce_data_extractor_spark.kernels import textprep as tp
from amharic_ecommerce_data_extractor_spark.operators.extract import (
    _extract_batch_numpy,
    extract_entities,
    predictions_table,
)

MODEL = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "fixtures", "tiny_ner_model.npz")

TEXTS = [
    "ሰላም ውድ ደንበኞቻችን ምጣድ ዋጋ 500 ብር መገናኛ 0911111111",
    "blender ዋጋ 750 ብር አድራሻ ለቡ",
    "special offer: kettle 1,200 birr @shop1 https://t.me/x",
    "",
    "   ",
]


@pytest.fixture(scope="module")
def extracted(spark):
    df = spark.createDataFrame(
        [(i, f"vendor_{i % 2}", t) for i, t in enumerate(TEXTS)],
        "message_id long, repo string, content string")
    out = extract_entities(df, backend="numpy", model_dir=MODEL)
    out.persist().count()
    yield out
    out.unpersist()


def test_numpy_backend_produces_valid_bio(extracted):
    rows = extracted.select("message_id", "tokens", "labels").collect()
    vocab = {"O"} | {f"{b}-{t}" for b in "BI"
                     for t in ("PRODUCT", "PRICE", "LOC", "CONTACT_INFO")}
    assert len(rows) == len(TEXTS)
    non_o = 0
    for r in rows:
        assert len(r.tokens) == len(r.labels)
        assert set(r.labels) <= vocab
        non_o += sum(1 for lab in r.labels if lab != "O")
        # alignment invariant: an I- label never opens a sequence mid-'O'
        prev = "O"
        for lab in r.labels:
            if lab.startswith("I-"):
                assert prev.endswith(lab[2:]), (r.labels,)
            prev = lab
    # random-weight head still fires on real text: spans must exist
    assert non_o > 0


def test_numpy_backend_is_deterministic(spark):
    df = spark.createDataFrame([(i, "v", t) for i, t in enumerate(TEXTS)],
                               "message_id long, repo string, content string")
    a = extract_entities(df, backend="numpy", model_dir=MODEL) \
        .select("message_id", "labels", "products", "prices").collect()
    b = extract_entities(df, backend="numpy", model_dir=MODEL) \
        .select("message_id", "labels", "products", "prices").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_numpy_backend_entities_match_spans(extracted):
    """Entity arrays are exactly the span words of their type (model-backend
    grouping), and every PRICE entity parses through the shared price
    kernel into price_values when numeric."""
    for r in extracted.select("labels", "products", "prices", "price_values").collect():
        n_b_product = sum(1 for lab in r.labels if lab == "B-PRODUCT")
        # each B- opens exactly one span of that type
        assert len(r.products) == n_b_product


def test_numpy_backend_feeds_predictions_table(extracted):
    pt = predictions_table(extracted)
    n_tokens = extracted.select(F.sum(F.size("tokens"))).collect()[0][0]
    assert pt.count() == n_tokens


def test_numpy_backend_empty_and_blank_rows(extracted):
    rows = {r.message_id: r for r in extracted.collect()}
    assert rows[3].tokens == [] and rows[3].labels == []
    assert rows[4].tokens == [] and rows[4].labels == []


def test_numpy_backend_composes_with_kg_downstream(spark):
    """The model backend's output schema must drive the full KG downstream:
    triples emission and the vendor scorecard run unchanged on it."""
    from amharic_ecommerce_data_extractor_spark.data.synthetic import generate_messages
    from amharic_ecommerce_data_extractor_spark.operators.scorecard import vendor_scorecard
    from amharic_ecommerce_data_extractor_spark.operators.triples import emit_triples

    msgs = generate_messages(spark, n_rows=200, n_vendors=5)
    ext = extract_entities(msgs, backend="numpy", model_dir=MODEL)
    tri = emit_triples(ext)
    assert tri.count() > 0
    assert set(r["pred"] for r in tri.select("pred").distinct().collect()) \
        <= {"sells", "priced_at", "located_in", "contact"}
    sc = vendor_scorecard(ext)
    assert sc.count() == msgs.select("repo").distinct().count()


def test_numpy_backend_factorized_batch_matches_per_text(spark):
    """One Arrow batch with repeated texts, a null, "" and whitespace: the
    shell runs the model on the distinct texts only, and every row still
    equals the model run on that row's own preprocessed text."""
    texts = [TEXTS[0], None, TEXTS[1], "", TEXTS[0], "   ", TEXTS[1], None,
             TEXTS[2], TEXTS[0]]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "message_id long, content string").coalesce(1)
    rows = {r.message_id: r.asDict()
            for r in extract_entities(df, backend="numpy", model_dir=MODEL).collect()}
    assert len(rows) == len(texts)
    for i, text in enumerate(texts):
        clean = tp.preprocess_text(text or "")
        want = _extract_batch_numpy([clean], MODEL)[0]
        got = rows[i]
        assert got["preprocessed_text"] == clean, i
        for field, value in want.items():
            assert got[field] == value, (i, field)
    assert rows[1]["preprocessed_text"] == "" and rows[7]["preprocessed_text"] == ""
