"""The rules backend's arrow_udf batch kernel (operators/extract.py
``_extract_arrow_batch``) on both shapes the Arrow runtime can hand it: a
contiguous ``pa.Array`` and a multi-chunk ``pa.ChunkedArray`` (whose
``dictionary_encode`` result has no single ``indices`` array). Both must
give the same StructArray, equal per row to the per-text kernel chain."""

import pandas as pd
import pyarrow as pa
import pytest

from amharic_ecommerce_data_extractor_spark.kernels import labeler as lb
from amharic_ecommerce_data_extractor_spark.kernels import textprep as tp
from amharic_ecommerce_data_extractor_spark.operators.extract import (
    ENTITY_FIELDS,
    _extract_arrow_batch,
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
    flat = _extract_arrow_batch(pa.array(TEXTS, type=pa.string()), names, True)
    chunked = _extract_arrow_batch(
        pa.chunked_array([TEXTS[:3], TEXTS[3:6], TEXTS[6:]], type=pa.string()),
        names, True)
    assert isinstance(chunked, pa.StructArray)
    assert chunked.type == flat.type
    assert chunked.to_pylist() == flat.to_pylist()

    for text, row in zip(TEXTS, flat.to_pylist()):
        clean = tp.preprocess_series(pd.Series([text], dtype=object))[0]
        rec = lb.extract_message(clean, with_contact_rule=True)
        for name in names:
            want = clean if name == "preprocessed_text" else rec[name]
            assert row[name] == want, (text, name)
