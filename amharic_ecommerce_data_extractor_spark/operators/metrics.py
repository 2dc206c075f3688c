"""Distributed NER evaluation metrics (reference M5 — seqeval semantics,
``ner_trainer.py:26-65`` — rebuilt as aggregations instead of a driver loop).

* token_confusion: (true_label, predicted_label, n) counts via one groupBy.
* span_prf: entity-level precision/recall/F1 per entity type — spans are
  (sid, type, start, end) sets from BIO arrays; P/R from an inner join of
  predicted vs gold span sets (exact-match criterion, like seqeval default).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..kernels.labeler import bio_spans

_SPAN_SCHEMA = T.StructType([
    T.StructField("sid", T.LongType(), False),
    T.StructField("etype", T.StringType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
])


def spans_table(df: DataFrame, id_col: str, labels_col: str) -> DataFrame:
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    row_type = pa.struct(to_arrow_schema(_SPAN_SCHEMA))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield pa.RecordBatch.from_struct_array(pa.array(
                [(int(sid), etype, s, e)
                 for sid, labels in zip(b.column(0).to_pylist(), b.column(1).to_pylist())
                 for etype, s, e in bio_spans(labels or [])], row_type))

    return df.select(F.col(id_col), F.col(labels_col)).mapInArrow(run, _SPAN_SCHEMA)


def token_confusion(pred: DataFrame, gold: DataFrame,
                    keys=("sid", "pos")) -> DataFrame:
    """pred/gold: (sid, pos, label) token rows → confusion counts."""
    p = pred.select(*keys, F.col("label").alias("predicted"))
    g = gold.select(*keys, F.col("label").alias("true"))
    return (g.join(p, on=list(keys), how="full")
            .select(F.coalesce("true", F.lit("O")).alias("true"),
                    F.coalesce("predicted", F.lit("O")).alias("predicted"))
            .groupBy("true", "predicted").agg(F.count("*").alias("n")))


def span_prf(pred_spans: DataFrame, gold_spans: DataFrame) -> DataFrame:
    """Per-type + macro precision/recall/F1 on exact span match."""
    hit = pred_spans.join(gold_spans, on=["sid", "etype", "start", "end"]) \
        .groupBy("etype").agg(F.count("*").alias("tp"))
    np_ = pred_spans.groupBy("etype").agg(F.count("*").alias("n_pred"))
    ng = gold_spans.groupBy("etype").agg(F.count("*").alias("n_gold"))
    per = (ng.join(np_, "etype", "full").join(hit, "etype", "left")
           .select("etype",
                   F.coalesce("tp", F.lit(0)).alias("tp"),
                   F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
                   F.coalesce("n_gold", F.lit(0)).alias("n_gold")))
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(F.lit(0.0))
    rec = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(F.lit(0.0))
    per = per.select("etype", F.round(prec, 6).alias("precision"),
                     F.round(rec, 6).alias("recall"), "tp", "n_pred", "n_gold")
    f1 = F.when((F.col("precision") + F.col("recall")) > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall"))).otherwise(F.lit(0.0))
    return per.withColumn("f1", F.round(f1, 6))
