"""End-to-end coverage for the ``hf`` extraction backend (reference
``model_evaluator.py:81-142``): load a tiny local HF token-classification
checkpoint through ``transformers.pipeline`` inside the extraction
``arrow_udf`` (the same batch shell every backend runs through) and assert
the full span→record plumbing.

Skips cleanly where ``transformers``/``torch`` are not installed — the
``numpy`` backend covers the identical shell and span→record plumbing there
(tests/test_numpy_backend.py); where transformers is installed this test
executes the literal hf code path (``operators/extract.py``
``_hf_pipeline``/``_extract_batch_hf``, which takes a list of preprocessed
texts)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

transformers = pytest.importorskip("transformers")
torch = pytest.importorskip("torch")


@pytest.fixture(scope="module")
def hf_model_dir(tmp_path_factory):
    from make_tiny_ner_model import make_tiny_hf_model

    return make_tiny_hf_model(str(tmp_path_factory.mktemp("hf_ckpt")))


def test_hf_backend_end_to_end(spark, hf_model_dir):
    from amharic_ecommerce_data_extractor_spark.operators.extract import extract_entities

    rows = [
        (0, "v0", "selling new phone 1000 birr in bole"),
        (1, "v0", "laptop bag 250"),
        (2, "v1", ""),            # empty text: must yield empty spans, not crash
        (3, "v1", "call 0911222333 for the red dress"),
    ]
    df = spark.createDataFrame(rows, "message_id long, repo string, content string")
    out = extract_entities(df, backend="hf", model_dir=hf_model_dir).collect()

    assert len(out) == len(rows)
    by_id = {r["message_id"]: r for r in out}
    for r in out:
        # aligned arrays: one BIO label per token, labels from the BIO vocab
        assert len(r["tokens"]) == len(r["labels"])
        assert all(l == "O" or l[:2] in ("B-", "I-") for l in r["labels"])
        # every grouped entity surface is drawn from the message text
        for col in ("products", "prices", "locations", "contacts"):
            for surface in r[col]:
                assert surface.replace(" ", "") != ""
    assert by_id[2]["products"] == [] and by_id[2]["labels"] == []


def test_hf_singleton_loads_once(hf_model_dir):
    """The per-worker pipeline singleton must be constructed once and reused
    across batches (the reference reloaded per call)."""
    from amharic_ecommerce_data_extractor_spark.operators import extract as ex

    ex._HF_SINGLETON.clear()
    ex._extract_batch_hf(["hello world 10"], hf_model_dir)
    pipe = ex._HF_SINGLETON.get("pipe")
    assert pipe is not None
    ex._extract_batch_hf(["another message 20"], hf_model_dir)
    assert ex._HF_SINGLETON["pipe"] is pipe
