"""Bit-identity pins for the Arrow hash kernels (kernels/hashing.py).

* The vectorized XXH64 against the pure-Python oracle ``tests/pyxxh64.py``
  on the ``test_xxh64_primitive`` strings and byte lengths, including the
  31/32/33-byte stripe boundaries.
* ``operators.dedup.winnowing_fingerprints`` (the winnowing kernel) against
  the interpreted Spark-expression formulation in ``tests/hash_spec.py``,
  for both hash families, row for row: the fixed edge-case documents, the
  seeded random corpus, a corpus whose lengths straddle the spec's
  ``max_chars`` chunk boundaries, null / empty / exactly-k / emoji texts,
  and string ids.
"""

import random

import numpy as np
import pyarrow as pa
import pytest

from amharic_ecommerce_data_extractor_spark.kernels.hashing import winnow_batch, xxh64
from amharic_ecommerce_data_extractor_spark.operators import dedup as dd
from pyxxh64 import spark_xxhash64
from test_dedup import WINNOW_DOCS, random_winnow_docs
from test_xxh64_primitive import FUZZ_STRINGS
from tests import hash_spec as spec

HASH_FNS = ("md5", "xxhash64")


def _chunk_boundary_docs():
    """Lengths around the chunk sizes 12/13/60/64 of the spec's chunked
    path, with tie runs across every boundary."""
    rng = random.Random(7)
    alphabet = "abcde ፩፪ብር .!x"
    docs = [(i, "".join(rng.choice(alphabet) for _ in range(n)))
            for i, n in enumerate([0, 3, 5, 11, 12, 59, 60, 61, 62, 119, 120,
                                   121, 180, 300, 301])]
    return docs + [(900, "a" * 200), (901, "ab" * 150)]


EDGE_DOCS = [
    (0, None), (1, ""), (2, "abcd"), (3, "abcde"), (4, "ሱቅ ዋጋ"),
    (5, "🛍️🛍️🛍️"), (6, "emoji 🛍️ test with 🛍️ twice 🛍️"),
    (7, "😀😀😀😀😀😀😀😀😀😀😀😀😀😀"), (8, "   \t\n   "),
]

CORPORA = {
    "winnow_docs": WINNOW_DOCS,
    "random": random_winnow_docs(),
    "edge": EDGE_DOCS,
}


def _rows(fps):
    return sorted(tuple(r) for r in fps.collect())


def test_xxh64_matches_pyxxh64():
    values = [s.encode("utf-8") for s in FUZZ_STRINGS]
    values += [(bytes(range(256)) * 4)[:n]
               for n in (0, 1, 4, 7, 8, 9, 31, 32, 33, 64, 100)]
    offsets = np.concatenate(([0], np.cumsum([len(v) for v in values])))
    data = np.frombuffer(b"".join(values), dtype=np.uint8)
    got = xxh64(data, offsets)
    assert [int(h) for h in got] == [spark_xxhash64(v) for v in values]


@pytest.mark.parametrize("hash_fn", HASH_FNS)
@pytest.mark.parametrize("corpus", sorted(CORPORA))
def test_winnowing_kernel_equals_spark_spec(spark, corpus, hash_fn):
    df = spark.createDataFrame(CORPORA[corpus], "doc_id long, text string")
    got = _rows(dd.winnowing_fingerprints(df, hash_fn=hash_fn))
    assert got == _rows(spec.winnowing_fingerprints(df, hash_fn=hash_fn))
    assert got, "corpus selects nothing"


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_winnowing_kernel_equals_unchunked_and_chunked_spec(spark, hash_fn):
    df = spark.createDataFrame(_chunk_boundary_docs(), "doc_id long, text string")
    got = _rows(dd.winnowing_fingerprints(df, hash_fn=hash_fn))
    for max_chars in (8192, None, 12, 13, 60, 64):
        assert got == _rows(spec.winnowing_fingerprints(
            df, hash_fn=hash_fn, max_chars=max_chars)), max_chars


@pytest.mark.parametrize("hash_fn", HASH_FNS)
def test_winnowing_kernel_string_ids_keep_type(spark, hash_fn):
    docs = [(f"doc-{i}", t) for i, t in WINNOW_DOCS] + [("ገጽ", "ሱቅ ዋጋ 1000 ብር")]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    fps = dd.winnowing_fingerprints(df, hash_fn=hash_fn)
    assert fps.schema["id"].dataType.simpleString() == "string"
    assert _rows(fps) == _rows(spec.winnowing_fingerprints(df, hash_fn=hash_fn))


def test_winnow_batch_reads_sliced_and_chunked_arrays():
    texts = [t for _, t in _chunk_boundary_docs()] + [None, "ሱቅ ዋጋ 1000 ብር"]
    whole = winnow_batch(pa.array(texts), 5, 8, "xxhash64").to_pylist()
    sliced = winnow_batch(pa.array(texts).slice(3, 10), 5, 8, "xxhash64")
    assert sliced.to_pylist() == whole[3:13]
    chunked = pa.chunked_array([pa.array(texts[:7]), pa.array(texts[7:])])
    assert winnow_batch(chunked, 5, 8, "xxhash64").to_pylist() == whole
