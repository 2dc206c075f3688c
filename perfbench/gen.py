"""Seeded input corpus for the kg_batch workload.

The corpus has the pipeline's message schema (``data.synthetic.MESSAGE_SCHEMA``)
and is written as one parquet file, so the pipeline only ever receives
generated parquet through ``input_path``. It is the program's own generator
(``generate_messages_pandas``): mixed Amharic/English posts, repeated
templates, about half the rows from one mega-vendor. The same seed always
gives byte-identical rows.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the pipeline CLI's default corpus size (``--messages 5000``)
N_MESSAGES = 5000


def messages(seed: int) -> pd.DataFrame:
    from amharic_ecommerce_data_extractor_spark.data import synthetic

    # n_vendors as the pipeline's own synthetic ingest sets it
    return synthetic.generate_messages_pandas(
        n_rows=N_MESSAGES, n_vendors=max(20, N_MESSAGES // 200), seed=seed)


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    from pyspark.sql.pandas.types import to_arrow_schema

    from amharic_ecommerce_data_extractor_spark.data.synthetic import MESSAGE_SCHEMA

    table = pa.Table.from_pandas(pdf, schema=to_arrow_schema(MESSAGE_SCHEMA),
                                 preserve_index=False)
    pq.write_table(table, path)
