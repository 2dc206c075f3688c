"""Salted skew operators: results must equal the naive implementations on a
deliberately skewed dataset (80% of rows on one key)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from amharic_ecommerce_data_extractor_spark.operators import skew
from tests.plan_probes import skew_profile


@pytest.fixture(scope="module")
def skewed(spark):
    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 5 != 0, F.lit("mega")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 7).cast("string"))).alias("key"),
        F.col("id").alias("row_id"),
        (F.xxhash64("id") % 1000).alias("score"),
        (F.col("id") % 50).cast("string").alias("val"),
    ).cache()
    df.count()
    return df


def test_skew_profile(spark, skewed):
    prof = skew_profile(skewed, "key", top_n=1).collect()[0]
    assert prof["key"] == "mega" and prof["share"] >= 0.75


def test_salted_topk_equals_window(spark, skewed):
    naive_w = Window.partitionBy("key").orderBy(F.desc("score"), F.asc("row_id"))
    naive = {(r["key"], r["rnk"]): r["row_id"] for r in
             skewed.withColumn("rnk", F.row_number().over(naive_w))
             .where(F.col("rnk") <= 5).collect()}
    salted = {(r["key"], r["rnk"]): r["row_id"] for r in
              skew.salted_topk(skewed, "key", "score", 5, "row_id").collect()}
    assert salted == naive


def test_salted_collect_set_equals_naive(spark, skewed):
    naive = {r["key"]: sorted(r["s"]) for r in
             skewed.groupBy("key").agg(F.collect_set("val").alias("s")).collect()}
    salted = {r["key"]: list(r["val_set"]) for r in
              skew.salted_collect_set(skewed, "key", "val").collect()}
    assert salted == naive
