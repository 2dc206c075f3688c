"""Arrow-batch hash kernels: text hashes computed once per distinct input of
a batch and vectorized in numpy, in place of per-row folds in interpreted
Spark lambdas.

* ``xxh64`` — Spark's ``xxhash64`` of byte strings (XXH64, seed 42),
  vectorized over ``uint64`` lanes; ``tests/pyxxh64.py`` is its oracle.
* ``md5_prefix60`` — the first 60 bits of md5, the cross-engine hash of
  ``operators.linking.md5_prefix60`` (one ``hashlib`` call per string).
* ``winnow_batch`` — the MOSS winnowing selections of a batch of texts
  (``operators.dedup.winnowing_fingerprints``).

``tests/hash_spec.py`` holds the Spark-expression winnowing that
``winnow_batch`` is pinned against.
"""

from __future__ import annotations

import hashlib

import numpy as np

WINNOW_MOD = 2147483647       # k-gram hash modulus (2^31 - 1)
# position packing width: a Spark string holds < 2^31 chars, so every 1-based
# position fits (POS_W - 1 - pos stays non-negative), and the packed maximum
# (2^31 - 2) * 2^32 + 2^32 - 1 stays below the signed-64 ceiling
POS_W = 1 << 32

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SPARK_SEED = 42


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, lane):
    return _rotl(acc + lane * _P2, 31) * _P1


def _lanes(mat, i: int, width: int):
    """Little-endian unsigned words of ``width`` bytes at byte ``i`` of every
    row of a uint8 matrix, as uint64."""
    dt = "<u8" if width == 8 else "<u4"
    return np.ascontiguousarray(mat[:, i:i + width]).view(dt)[:, 0].astype(np.uint64)


def _xxh64_fixed(mat):
    """XXH64 of every row of an (n, length) uint8 matrix: the control flow of
    the algorithm depends only on the length, so it runs once per length
    with each step vectorized over the rows."""
    n, length = mat.shape
    i = 0
    s = np.uint64(_SPARK_SEED)
    with np.errstate(over="ignore"):
        if length >= 32:
            v1 = np.full(n, s + _P1 + _P2, dtype=np.uint64)
            v2 = np.full(n, s + _P2, dtype=np.uint64)
            v3 = np.full(n, s, dtype=np.uint64)
            v4 = np.full(n, s - _P1, dtype=np.uint64)
            while i + 32 <= length:
                v1 = _round(v1, _lanes(mat, i, 8))
                v2 = _round(v2, _lanes(mat, i + 8, 8))
                v3 = _round(v3, _lanes(mat, i + 16, 8))
                v4 = _round(v4, _lanes(mat, i + 24, 8))
                i += 32
            h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
            for v in (v1, v2, v3, v4):
                h = (h ^ _round(np.uint64(0), v)) * _P1 + _P4
        else:
            h = np.full(n, s + _P5, dtype=np.uint64)
        h = h + np.uint64(length)
        while i + 8 <= length:
            h = _rotl(h ^ _round(np.uint64(0), _lanes(mat, i, 8)), 27) * _P1 + _P4
            i += 8
        if i + 4 <= length:
            h = _rotl(h ^ (_lanes(mat, i, 4) * _P1), 23) * _P2 + _P3
            i += 4
        while i < length:
            h = _rotl(h ^ (mat[:, i].astype(np.uint64) * _P5), 11) * _P1
            i += 1
        h = h ^ (h >> np.uint64(33))
        h = h * _P2
        h = h ^ (h >> np.uint64(29))
        h = h * _P3
        h = h ^ (h >> np.uint64(32))
    return h


def xxh64(data, offsets):
    """Spark's ``xxhash64`` (signed int64) of the byte strings
    ``data[offsets[i]:offsets[i + 1]]``: one vectorized pass per distinct
    length."""
    offsets = np.asarray(offsets, dtype=np.int64)
    lengths = np.diff(offsets)
    out = np.empty(len(lengths), dtype=np.uint64)
    for length in np.unique(lengths):
        rows = np.flatnonzero(lengths == length)
        mat = data[offsets[rows, None] + np.arange(length, dtype=np.int64)]
        out[rows] = _xxh64_fixed(mat.reshape(len(rows), int(length)))
    return out.view(np.int64)


def md5_prefix60(strings) -> np.ndarray:
    """The first 15 hex digits of md5 of each byte string as int64: one
    ``hashlib`` call per string."""
    digests = b"".join(hashlib.md5(s).digest()[:8] for s in strings)
    return (np.frombuffer(digests, dtype=">u8") >> np.uint64(4)).astype(np.int64)


def _buffers(arr):
    """(bytes, value byte offsets from 0) of an Arrow string or binary
    array, nulls read as empty values."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.fill_null(b"" if pa.types.is_binary(arr.type) else "")
    _, obuf, dbuf = arr.buffers()
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    offs = np.frombuffer(obuf, dtype=np.int64 if large else np.int32)
    offs = offs[arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    data = (np.frombuffer(dbuf, dtype=np.uint8)[offs[0]:offs[-1]]
            if dbuf is not None else np.empty(0, dtype=np.uint8))
    return data, offs - offs[0]


def _ranges(starts, counts):
    """Concatenation of ``arange(s, s + c)`` for each (s, c)."""
    total = int(counts.sum())
    shift = np.repeat(starts - np.concatenate(([0], np.cumsum(counts)[:-1])), counts)
    return np.arange(total, dtype=np.int64) + shift


def winnow_batch(texts, k: int, w: int, hash_fn: str):
    """Per text of an Arrow string batch, the distinct packed winnowing
    selections ``hash * 2^32 + (2^32 - 1 - pos)`` (pos the 1-based char
    position of the k-gram), in window order, as a ``list<int64>`` array.

    Each character k-gram's hash is ``md5_prefix60 % WINNOW_MOD`` or
    ``pmod(xxhash64, WINNOW_MOD)``; every window of w consecutive k-grams
    selects its minimum packed value, which is the minimum hash at its
    rightmost position; a text with fewer than w k-grams forms the one
    truncated window; texts shorter than k (and nulls) select nothing.

    The batch is worked on as one byte buffer: char k-grams are byte ranges
    between UTF-8 lead bytes, gathered into one binary array whose distinct
    values are hashed once each, so the cost is O(total length) per batch.
    A selected value is the strict minimum of a contiguous run of windows
    (packed values are unique within a text), so dropping repeats of the
    previous window's value leaves each text's distinct selections."""
    import pyarrow as pa
    import pyarrow.compute as pc

    data, offs = _buffers(texts)
    n = len(offs) - 1
    is_lead = (data & 0xC0) != 0x80                         # UTF-8 char starts
    char_at = np.concatenate(([0], np.cumsum(is_lead)))     # chars before byte
    char_lo = char_at[offs[:-1]]
    nchars = char_at[offs[1:]] - char_lo
    cstart = np.append(np.flatnonzero(is_lead), len(data))  # + end sentinel

    npos = np.maximum(nchars - (k - 1), 0)
    gram_char = _ranges(char_lo, npos)                      # first char of each gram
    gram_lo = cstart[gram_char]
    gram_len = cstart[gram_char + k] - gram_lo
    gram_offs = np.concatenate(([0], np.cumsum(gram_len)))
    grams = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(gram_char),
        [None, pa.py_buffer(gram_offs), pa.py_buffer(data[_ranges(gram_lo, gram_len)])])
    enc = pc.dictionary_encode(grams)
    uniq = enc.dictionary
    if hash_fn == "md5":
        h = md5_prefix60(uniq.to_pylist()) % WINNOW_MOD
    else:
        h = np.mod(xxh64(*_buffers(uniq)), WINNOW_MOD)
    codes = enc.indices.to_numpy(zero_copy_only=False)

    row_lo = np.concatenate(([0], np.cumsum(npos)))        # first gram of each text
    row_of = np.repeat(np.arange(n), npos)
    pos = np.arange(len(codes), dtype=np.int64) - row_lo[row_of] + 1
    packed = h[codes] * POS_W + (POS_W - 1 - pos)

    # window starts: 1 .. max(1, npos - w + 1) of every text with a gram
    starts = np.flatnonzero(pos <= np.maximum(npos - (w - 1), 1)[row_of])
    row_hi = row_lo[1:][row_of[starts]]
    best = packed[starts]
    for t in range(1, w):
        nxt = starts + t
        inside = nxt < row_hi
        np.minimum(best, packed[np.where(inside, nxt, starts)], out=best)
    srow = row_of[starts]
    new = np.ones(len(best), dtype=bool)
    new[1:] = (best[1:] != best[:-1]) | (srow[1:] != srow[:-1])
    counts = np.bincount(srow[new], minlength=n)
    list_offs = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(list_offs, type=pa.int32()),
                                    pa.array(best[new], type=pa.int64()))
