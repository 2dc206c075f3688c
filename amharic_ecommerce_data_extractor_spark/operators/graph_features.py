"""Vendor features computed over the canonical knowledge graph (north-star:
scorecard features as window aggregations over the canonical graph).

Input: the canonicalized triple table (subj, pred, obj, message_id,
confidence). Outputs one row per vendor with a ``sells`` edge:

* catalog breadth   — distinct canonical products sold
* geo presence      — distinct canonical locations
* contactability    — distinct contact points
* price positioning — median/avg of the vendor's products' canonical prices
                      (each distinct product once, not weighted by mentions)
* product_rank      — dense rank of vendors by catalog breadth (window)
* share_of_market   — vendor's product mentions / all product mentions

One shape: each partial aggregate is computed once and shared. The
``sells`` edges are grouped once by (vendor, product) with a mention count;
that table, joined to the per-product price, gives breadth, mentions and
both price stats in one vendor groupBy. ``located_in`` and ``contact`` share
one vendor groupBy. The two windows run over the vendor-level table only
(|vendors| rows), never over message-sized data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def vendor_graph_features(canon_triples: DataFrame) -> DataFrame:
    t, pred = canon_triples, F.col("pred")
    prices = (t.where(pred == "priced_at")
              .groupBy(F.col("subj").alias("product"))
              .agg(F.round(F.avg(F.col("obj").try_cast("double")), 6).alias("_price")))
    # a null product is a mention but not a product: count(product) skips it
    catalog = (t.where(pred == "sells")
               .groupBy(F.col("subj").alias("vendor"), F.col("obj").alias("product"))
               .agg(F.count(F.lit(1)).alias("_mentions"))
               .join(prices, "product", "left")
               .groupBy("vendor")
               .agg(F.count("product").alias("n_products"),
                    F.sum("_mentions").alias("n_product_mentions"),
                    F.round(F.avg("_price"), 6).alias("avg_price"),
                    F.round(F.percentile("_price", 0.5), 6).alias("median_price")))
    reach = (t.where(pred.isin("located_in", "contact"))
             .groupBy(F.col("subj").alias("vendor"))
             .agg(F.countDistinct(F.when(pred == "located_in", F.col("obj")))
                  .alias("n_locations"),
                  F.countDistinct(F.when(pred == "contact", F.col("obj")))
                  .alias("n_contacts")))
    w_rank = Window.orderBy(F.desc("n_products"), F.asc("vendor"))
    return (catalog.join(reach, "vendor", "left")
            .na.fill({"n_locations": 0, "n_contacts": 0})
            .select("vendor", "n_products", "n_product_mentions", "n_locations",
                    "n_contacts", "avg_price", "median_price",
                    F.dense_rank().over(w_rank).alias("product_rank"),
                    F.round(F.col("n_product_mentions")
                            / F.sum("n_product_mentions").over(Window.partitionBy()), 6)
                    .alias("share_of_mentions")))
