"""The arrow_udf batch shell (operators/extract.py ``_extract_arrow_batch``)
with the rules record function, on both shapes the Arrow runtime can hand
it: a contiguous ``pa.Array`` and a multi-chunk ``pa.ChunkedArray`` (whose
``dictionary_encode`` result has no single ``indices`` array). Both must
give the same StructArray, equal per row to the per-text kernel chain.
Also: the preprocess memo serves a repeated batch, and ``extract_entities``
rejects an unknown backend on the driver."""

import pyarrow as pa
import pytest

from amharic_ecommerce_data_extractor_spark.kernels import labeler as lb
from amharic_ecommerce_data_extractor_spark.kernels import textprep as tp
from amharic_ecommerce_data_extractor_spark.operators.extract import (
    ENTITY_FIELDS,
    _extract_arrow_batch,
    _preprocess_cached,
    _extract_batch_rules,
    extract_entities,
)

TEXTS = [
    "ሽያጭ ጫማ ዋጋ 1500 ብር አዲስ አበባ 0911223344",
    None,
    "",
    "   ",
    "ዋጋ ፻ ብር @vendor #sale https://t.me/x",
    "ሃሎ ኋይት ቦርሳ ዋጋ 2,500 ብር ቦሌ",
    "ሽያጭ ጫማ ዋጋ 1500 ብር አዲስ አበባ 0911223344",  # duplicate across chunks
    "😀 ቀሚስ 300 ብር",
]
NAMES = [f.name for f in ENTITY_FIELDS]


@pytest.mark.parametrize("names", [NAMES, [n for n in NAMES
                                           if n not in ("tokens", "labels")]])
def test_chunked_input_matches_contiguous(names):
    flat = _extract_arrow_batch(pa.array(TEXTS, type=pa.string()), names,
                                _extract_batch_rules)
    chunked = _extract_arrow_batch(
        pa.chunked_array([TEXTS[:3], TEXTS[3:6], TEXTS[6:]], type=pa.string()),
        names, _extract_batch_rules)
    assert isinstance(chunked, pa.StructArray)
    assert chunked.type == flat.type
    assert chunked.to_pylist() == flat.to_pylist()

    for text, row in zip(TEXTS, flat.to_pylist()):
        clean = tp.preprocess_text(text)
        rec = lb.extract_message(clean)
        for name in names:
            want = clean if name == "preprocessed_text" else rec[name]
            assert row[name] == want, (text, name)


def test_preprocess_memo_spans_batches():
    """The raw→clean memo outlives one Arrow batch: a second batch of the
    same texts is served from it, with the same result."""
    texts = pa.array(TEXTS, type=pa.string())
    first = _extract_arrow_batch(texts, NAMES, _extract_batch_rules)
    hits = _preprocess_cached.cache_info().hits
    second = _extract_arrow_batch(texts, NAMES, _extract_batch_rules)
    assert _preprocess_cached.cache_info().hits - hits == len(set(TEXTS))
    assert second.to_pylist() == first.to_pylist()


@pytest.mark.parametrize("backend", ["rules_jvm", "spacy", ""])
def test_unknown_backend_rejected_before_any_job(spark, backend):
    df = spark.createDataFrame([(1, "ዋጋ 500 ብር")], "message_id long, content string")
    sc = spark.sparkContext
    group = f"extract-backend-check-{backend}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=r"'rules', 'hf', 'numpy'"):
            extract_entities(df, backend=backend)
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup(group)
