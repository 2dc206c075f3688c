"""Bucketed co-located joins: the write-once-shuffle-never-again table
layout (the ``DedupIndex`` tables' ``bucketBy(N, key).sortBy(key)``
catalog writes). Pins the property that justifies the layout: a join of two
same-N bucketed tables plans WITHOUT a shuffle exchange, and values equal
the plain-join answer."""

import pytest
from pyspark.sql import functions as F

from tests.plan_probes import is_shuffle_free_join


@pytest.fixture()
def no_broadcast(spark):
    """Force SMJ so the exchange (or its absence) is what we measure."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_is_shuffle_free_and_value_equal(spark, no_broadcast):
    meta = spark.range(2000).select(
        F.col("id").alias("message_id"),
        (F.col("id") % 37).alias("vendor_id"),
        (F.col("id") * 3 % 1000).alias("views"))
    ents = spark.range(0, 2000, 2).select(
        F.col("id").alias("message_id"),
        F.array(F.concat(F.lit("p"), F.col("id") % 5)).alias("products"))
    meta.write.mode("overwrite").bucketBy(8, "message_id") \
        .sortBy("message_id").saveAsTable("t_meta_b")
    ents.write.mode("overwrite").bucketBy(8, "message_id") \
        .sortBy("message_id").saveAsTable("t_ents_b")
    try:
        bj = spark.table("t_meta_b").join(
            spark.table("t_ents_b"), "message_id")
        assert is_shuffle_free_join(bj), \
            bj._jdf.queryExecution().executedPlan().toString()
        got = sorted((r.message_id, r.views, tuple(r.products))
                     for r in bj.collect())
        want = sorted((r.message_id, r.views, tuple(r.products))
                      for r in meta.join(ents, "message_id").collect())
        assert got == want and len(got) == 1000

        # the plain (unbucketed) twin DOES shuffle — the absence above is a
        # property of the layout, not of the checker
        pj = meta.join(ents, "message_id")
        pj.collect()
        assert not is_shuffle_free_join(pj)

        # an exchange introduced ABOVE the join (groupBy on a non-bucket
        # key) must not flip the verdict — only the join's inputs count
        down = bj.groupBy("vendor_id").agg(F.count("*").alias("n"))
        down.collect()
        assert is_shuffle_free_join(down), \
            down._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_meta_b")
        spark.sql("DROP TABLE IF EXISTS t_ents_b")


def test_bucketed_groupby_skips_exchange(spark, no_broadcast):
    ev = spark.range(5000).select(
        (F.col("id") % 97).alias("user_id"), F.col("id").alias("v"))
    ev.write.mode("overwrite").bucketBy(8, "user_id").saveAsTable("t_ev_b")
    try:
        agg = spark.table("t_ev_b").groupBy("user_id") \
            .agg(F.sum("v").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        got = {(r.user_id, r.s) for r in agg.collect()}
        want = {(r.user_id, r.s)
                for r in ev.groupBy("user_id").agg(F.sum("v").alias("s")).collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ev_b")
