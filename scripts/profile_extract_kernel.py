#!/usr/bin/env python
"""Single-process profile of the extract stage's per-batch work: the
shipped ``arrow_udf`` body, ``operators.extract._extract_arrow_batch``, with
the rules record function (know where the core-seconds go before changing
anything).

Usage: python scripts/profile_extract_kernel.py [n_rows]

The synthetic corpus is cut into ``pa.array`` batches of
``session.ARROW_BATCH_ROWS`` (the session's ``arrow.maxRecordsPerBatch``) and
run through the shell in 5 cold/warm pairs:
  cold — the preprocess and record memos cleared first (a fresh worker)
  warm — the same batches again, memos full (a reused worker)
One pass swings by a third from run to run on a shared 4-core machine, so
the script prints the median and the min–max of the 5 passes of each kind.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amharic_ecommerce_data_extractor_spark.data.synthetic import (  # noqa: E402
    generate_messages_pandas,
)
from amharic_ecommerce_data_extractor_spark.kernels import labeler as lb  # noqa: E402
from amharic_ecommerce_data_extractor_spark.operators import extract as ex  # noqa: E402
from amharic_ecommerce_data_extractor_spark.session import ARROW_BATCH_ROWS  # noqa: E402

PAIRS = 5


def t(label, fn, *a, **k):
    t0 = time.perf_counter()
    r = fn(*a, **k)
    dt = time.perf_counter() - t0
    print(f"{label::<28} {dt:8.3f} s")
    return r, dt


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    (pdf, _) = t("gen", generate_messages_pandas, n_rows=n, n_vendors=50)
    texts = pdf["content"].tolist()
    batches = [pa.array(texts[i:i + ARROW_BATCH_ROWS], type=pa.string())
               for i in range(0, n, ARROW_BATCH_ROWS)]
    n_distinct = len(set(texts))
    print(f"rows={n} distinct={n_distinct} batches={len(batches)}")

    names = [f.name for f in ex.ENTITY_FIELDS]

    def run():
        return [ex._extract_arrow_batch(b, names, ex._extract_batch_rules)
                for b in batches]

    passes = {"cold": [], "warm": []}
    for _ in range(PAIRS):
        ex._preprocess_cached.cache_clear()
        lb.extract_message_cached.cache_clear()
        passes["cold"].append(t("shell (cold memos)", run)[1])
        passes["warm"].append(t("shell (warm memos)", run)[1])

    for lbl, dts in passes.items():
        us = [1e6 * d / n_distinct for d in dts]
        med = statistics.median(dts)
        print(f"  {lbl}: {1e6 * med / n:7.1f} us/row  "
              f"{1e6 * med / n_distinct:7.1f} us/distinct text "
              f"(min {min(us):.1f}, max {max(us):.1f})  "
              f"{n / med:9.0f} rows/s/core  [median of {PAIRS}]")


if __name__ == "__main__":
    main()
