"""Vendor scorecard — distributed rebuild of the reference's per-vendor
Python loop (``vendor_scorecard.py:75-124``) with the NOTEBOOK-03 semantics
(cells 13/18/21), which are the only executable ones (the src module crashes;
SURVEY.md Appendix A).

Semantics pinned against the pandas oracle in tests:
* total_posts       = count(*)
* avg_views_per_post= mean(views) with nulls coerced to 0 at ingest
                      (run_pipeline.py:94 coercion)
* range_days        = floor((max_ts - min_ts) in full 24h periods) + 1
                      (notebook cell 13; pandas timedelta .days semantics)
* posts_per_week    = total if range_days <= 0 else total / (range_days / 7)
* avg_price_etb     = mean over all numeric prices of all posts (null if none)
* top post          = argmax(views), first-occurrence tie-break ≙ lowest
                      message_id (pandas idxmax order); top_product = its
                      first product else 'N/A'; top_product_price = its first
                      numeric price else null
* lending_score_0_100 = 100 * (0.4·norm(avg_views) + 0.4·norm(posts_per_week)
                        + 0.2·norm(avg_price fillna 0)), min-max normalized
                        over vendors, max==min → 0.0   (notebook cell 18)

Scale design: everything is an algebraic aggregate — per-message price
sums/counts are computed BEFORE the groupBy so the vendor aggregation is one
partial-aggregated (map-side combined) shuffle even under mega-vendor skew;
the argmax is max_by over a struct (also algebraic), NOT a window sort. The
global min/max for normalization is a single-partition window over the tiny
vendor table (avoids a stats-aggregate diamond that would recompute the
upstream extraction twice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

_WEIGHTS = {"avg_views_per_post": 0.4, "posts_per_week": 0.4, "avg_price_filled": 0.2}


def vendor_scorecard(extracted: DataFrame, vendor_col: str = "repo") -> DataFrame:
    """One row per vendor with the metrics above, ordered by lending score
    (descending), then vendor."""
    per_msg = extracted.select(
        F.col(vendor_col).alias("vendor"),
        "message_id",
        F.coalesce(F.col("views"), F.lit(0)).alias("views"),
        F.col("message_date").alias("ts"),
        "products",
        "price_values",
        F.aggregate("price_values", F.lit(0.0), lambda a, x: a + x).alias("price_sum"),
        F.size("price_values").alias("price_cnt"),
    )

    agg = per_msg.groupBy("vendor").agg(
        F.count("*").alias("total_posts"),
        F.avg("views").alias("avg_views_per_post"),
        F.min("ts").alias("first_post"),
        F.max("ts").alias("last_post"),
        F.sum("price_sum").alias("price_sum"),
        F.sum("price_cnt").alias("price_cnt"),
        # argmax(views) with pandas-idxmax tie-break (lowest message_id wins):
        # max_by on (views, -message_id) — algebraic, skew-safe, no window sort
        F.expr(
            "max_by(struct(products, price_values), struct(views, -message_id))"
        ).alias("top_post"),
    )

    # pandas `(max-min).days` floors full 24h periods — NOT calendar-date
    # datediff; reproduce via epoch-seconds floor to match notebook cell 13
    range_days = F.floor(
        (F.col("last_post").cast("double") - F.col("first_post").cast("double")) / 86400.0
    ) + F.lit(1)
    scorecard = agg.select(
        "vendor",
        "total_posts",
        "avg_views_per_post",
        F.when(range_days <= 0, F.col("total_posts").cast("double"))
         .otherwise(F.col("total_posts") / (range_days / F.lit(7.0)))
         .alias("posts_per_week"),
        F.when(F.col("price_cnt") > 0, F.col("price_sum") / F.col("price_cnt"))
         .alias("avg_price_etb"),
        F.coalesce(F.try_element_at("top_post.products", F.lit(1)), F.lit("N/A")).alias("top_product"),
        F.try_element_at("top_post.price_values", F.lit(1)).alias("top_product_price"),
    ).withColumn("avg_price_filled", F.coalesce("avg_price_etb", F.lit(0.0)))

    # global min/max over an unpartitioned window: the vendor table is tiny
    # (|vendors| << |messages|), so one single-partition pass is cheap, and
    # unlike a stats aggregate joined back it does not recompute the
    # upstream (on the fused path, the Python extraction) twice
    w_all = Window.partitionBy()
    score = F.lit(0.0)
    for m, w in _WEIGHTS.items():
        lo, hi = F.min(m).over(w_all), F.max(m).over(w_all)
        norm = F.when(hi == lo, F.lit(0.0)).otherwise((F.col(m) - lo) / (hi - lo))
        score = score + norm * F.lit(w)

    return (
        scorecard.withColumn("lending_score_0_100", score * 100.0)
        .select("vendor", "total_posts", "avg_views_per_post", "posts_per_week",
                "avg_price_etb", "top_product", "top_product_price",
                "lending_score_0_100")
        .orderBy(F.desc("lending_score_0_100"), F.asc("vendor"))
    )
