"""Driver-contract query registry: each entry is a Spark DataFrame program
plus (where SQL-expressible) a DuckDB ANSI-SQL twin over the same parquet
tables. Together they pin the SURVEY.md §2 operator inventory: scans,
filters, projections, text functions, joins, aggregations, windows, top-k,
set ops, dedup, similarity search and the scorecard semantics.

Conventions (driver compares row-count + schema + order-insensitive
value-hash, with columns sorted by name):
* every computed column is aliased identically on both sides;
* every double-valued output is wrapped in round(x, 6) on both sides so
  floating-point summation-order noise cannot flip the hash;
* deterministic ORDER BY + LIMIT for every top-k.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Aggregations over the fact table (reference A2/A3/D3 analogues; TPC-H Q1
# shape exercises partial aggregation / whole-stage codegen)
# ---------------------------------------------------------------------------

@_q("q01_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                                        AS sum_qty,
       round(sum(l_extendedprice), 4)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q01(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-01")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@_q("q02_revenue_by_segment", """
SELECT c_mktsegment,
       round(sum(o_totalprice), 2) AS revenue,
       count(*)                    AS n_orders,
       count(DISTINCT o_custkey)   AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def q02(spark, sf_dir):
    # equi join with a broadcast-able dimension (reference J1 analogue)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count("*").alias("n_orders"),
             F.countDistinct("o_custkey").alias("n_customers"))
    )


@_q("q03_top_brands_by_revenue", """
SELECT p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY revenue DESC, p_brand ASC
LIMIT 10
""")
def q03(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count("*").alias("n_items"))
        .orderBy(F.desc("revenue"), F.asc("p_brand"))
        .limit(10)
    )


@_q("q04_supplier_nation_rollup", """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
""")
def q04(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count("*").alias("n_items"))
    )


# ---------------------------------------------------------------------------
# Scorecard semantics on the events table (A2-A6, A4 argmax, D2 date span)
# ---------------------------------------------------------------------------

_EVENT_SCORECARD_SQL = """
WITH agg AS (
  SELECT user_id,
         count(*)                 AS total_events,
         round(avg(value), 6)     AS avg_value,
         min(ts)                  AS first_ts,
         max(ts)                  AS last_ts,
         floor(date_diff('second', min(ts), max(ts)) / 86400.0) + 1 AS range_days
  FROM events GROUP BY user_id
), top AS (
  SELECT user_id, event_type AS top_event_type
  FROM (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        FROM events)
  WHERE rn = 1
)
SELECT agg.user_id, total_events, avg_value,
       round(CASE WHEN range_days <= 0 THEN total_events
                  ELSE total_events / (range_days / 7.0) END, 6) AS events_per_week,
       top_event_type
FROM agg JOIN top ON agg.user_id = top.user_id
"""


@_q("q05_event_scorecard", _EVENT_SCORECARD_SQL)
def q05(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("total_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        # argmax(value) tie-broken by lowest event_id — algebraic, no window
        F.expr("max_by(event_type, struct(value, -event_id))").alias("top_event_type"),
    )
    # parquet timestamps load as TIMESTAMP_NTZ in Spark 4: hop via TIMESTAMP
    # (session tz is pinned UTC) before the epoch-seconds cast
    range_days = F.floor(
        (F.col("last_ts").cast("timestamp").cast("double")
         - F.col("first_ts").cast("timestamp").cast("double")) / 86400.0
    ) + F.lit(1)
    return agg.select(
        "user_id", "total_events", "avg_value",
        F.round(
            F.when(range_days <= 0, F.col("total_events").cast("double"))
            .otherwise(F.col("total_events") / (range_days / F.lit(7.0))), 6
        ).alias("events_per_week"),
        "top_event_type",
    )


@_q("q06_user_lending_score", f"""
WITH sc AS ({_EVENT_SCORECARD_SQL}),
stats AS (
  SELECT min(avg_value) AS min_v, max(avg_value) AS max_v,
         min(events_per_week) AS min_w, max(events_per_week) AS max_w
  FROM sc)
SELECT user_id,
       round(100 * (0.5 * CASE WHEN max_v = min_v THEN 0.0
                               ELSE (avg_value - min_v) / (max_v - min_v) END
                  + 0.5 * CASE WHEN max_w = min_w THEN 0.0
                               ELSE (events_per_week - min_w) / (max_w - min_w) END), 6)
         AS lending_score
FROM sc CROSS JOIN stats
""")
def q06(spark, sf_dir):
    sc = q05(spark, sf_dir)
    stats = sc.agg(F.min("avg_value").alias("min_v"), F.max("avg_value").alias("max_v"),
                   F.min("events_per_week").alias("min_w"), F.max("events_per_week").alias("max_w"))
    j = sc.crossJoin(F.broadcast(stats))
    norm_v = F.when(F.col("max_v") == F.col("min_v"), F.lit(0.0)).otherwise(
        (F.col("avg_value") - F.col("min_v")) / (F.col("max_v") - F.col("min_v")))
    norm_w = F.when(F.col("max_w") == F.col("min_w"), F.lit(0.0)).otherwise(
        (F.col("events_per_week") - F.col("min_w")) / (F.col("max_w") - F.col("min_w")))
    return j.select("user_id",
                    F.round(100 * (0.5 * norm_v + 0.5 * norm_w), 6).alias("lending_score"))


# ---------------------------------------------------------------------------
# Calendar aggregations (A11/A12), distinct counts (A7), value counts (A8/A10)
# ---------------------------------------------------------------------------

@_q("q07_daily_event_counts", """
SELECT CAST(ts AS DATE) AS day, count(*) AS n
FROM events GROUP BY 1
""")
def q07(spark, sf_dir):
    return _t(spark, sf_dir, "events").groupBy(
        F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))


@_q("q08_dow_histogram", """
SELECT dayname(ts) AS dow, count(*) AS n FROM events GROUP BY 1
""")
def q08(spark, sf_dir):
    from .operators.eda import dow_histogram

    return dow_histogram(_t(spark, sf_dir, "events"), "ts")


@_q("q09_distinct_users_by_type", """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
""")
def q09(spark, sf_dir):
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events"))


@_q("q10_docs_by_source", """
SELECT source, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY source ORDER BY n_docs DESC, source ASC
""")
def q10(spark, sf_dir):
    return (_t(spark, sf_dir, "documents").groupBy("source")
            .agg(F.count("*").alias("n_docs"), F.round(F.avg("n_chars"), 6).alias("avg_chars"))
            .orderBy(F.desc("n_docs"), F.asc("source")))


# ---------------------------------------------------------------------------
# Text statistics & EDA (A13-A17, T4/T7 regex chain, language-id heuristic)
# ---------------------------------------------------------------------------

@_q("q11_text_stats", """
SELECT lang, count(*) AS n_docs,
       round(avg(length(text)), 6) AS avg_len,
       round(avg(len(string_split_regex(trim(text), '\\s+'))), 6) AS avg_words,
       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
FROM documents GROUP BY lang
""")
def q11(spark, sf_dir):
    # no spread(): the per-row expressions are cheap and feed a 5-group
    # aggregate, so the repartition shuffle costs more than it spreads
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.length("text")), 6).alias("avg_len"),
        F.round(F.avg(F.size(F.split(F.trim(F.col("text")), r"\s+"))), 6).alias("avg_words"),
        F.sum(F.when(F.length(F.trim(F.col("text"))) == 0, 1).otherwise(0)).alias("n_empty"),
    )


@_q("q12_vocab_size", """
SELECT lang, count(DISTINCT w) AS vocab
FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
WHERE w <> '' GROUP BY lang
""")
def q12(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.linking import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return (d.select("lang", F.explode(F.split("text", " ")).alias("w"))
            .where(F.col("w") != "")
            .groupBy("lang").agg(F.countDistinct("w").alias("vocab")))


@_q("q13_top20_words", """
SELECT w, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
WHERE w <> '' GROUP BY w ORDER BY n DESC, w ASC LIMIT 20
""")
def q13(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.linking import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return (d.select(F.explode(F.split("text", " ")).alias("w"))
            .where(F.col("w") != "")
            .groupBy("w").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("w")).limit(20))


@_q("q14_corr_qty_price", """
SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 6) AS corr_qp
FROM lineitem GROUP BY l_returnflag
""")
def q14(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"))


@_q("q15_clean_text", """
SELECT doc_id,
       trim(regexp_replace(
           regexp_replace(text, 'https?://\\S+|www\\.\\S+|@\\w+|#\\w+', ' ', 'g'),
           '\\s+', ' ', 'g')) AS clean
FROM documents
""")
def q15(spark, sf_dir):
    # reference T4+T7 as pure column expressions (JVM whole-stage codegen)
    from amharic_ecommerce_data_extractor_spark.operators.linking import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    clean = F.trim(F.regexp_replace(
        F.regexp_replace("text", r"https?://\S+|www\.\S+|@\w+|#\w+", " "),
        r"\s+", " "))
    return d.select("doc_id", clean.alias("clean"))


@_q("q16_langid_heuristic", """
SELECT lang,
       CAST(sum(CASE WHEN length(regexp_replace(lower(text), '[a-z0-9\\s.,!?;:''"-]', '', 'g'))
                     <= 0.05 * length(text)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_latin,
       count(*) AS n_docs
FROM documents GROUP BY lang
""")
def q16(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.linking import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    non_latin = F.length(F.regexp_replace(F.lower(F.col("text")), "[a-z0-9\\s.,!?;:'\"-]", ""))
    return d.groupBy("lang").agg(
        F.sum(F.when(non_latin <= 0.05 * F.length("text"), 1).otherwise(0)).alias("n_latin"),
        F.count("*").alias("n_docs"))


@_q("q17_exact_dedup_profile", """
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct,
       count(*) - count(DISTINCT md5(text)) AS n_dupes
FROM documents GROUP BY lang
""")
def q17(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dupes"))


@_q("q18_json_props", """
SELECT event_type,
       round(avg(CAST(props->>'k' AS BIGINT)), 6) AS avg_k,
       count(*) AS n
FROM events GROUP BY event_type
""")
def q18(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(F.get_json_object("props", "$.k").cast("long")), 6).alias("avg_k"),
        F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Window functions (running aggregates; reference has none but the engine
# needs them for scorecard/top-k at scale) and set ops (U1)
# ---------------------------------------------------------------------------

@_q("q19_running_value", """
SELECT event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS running_value
FROM events
""")
def q19(spark, sf_dir):
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return _t(spark, sf_dir, "events").select(
        "event_id", F.round(F.sum("value").over(w), 6).alias("running_value"))


@_q("q20_union_profile", """
SELECT lang, count(*) AS n FROM (
  SELECT lang FROM documents WHERE n_chars >= 200
  UNION ALL
  SELECT lang FROM documents WHERE length(text) < 100
) GROUP BY lang
""")
def q20(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    u = d.where(F.col("n_chars") >= 200).select("lang").unionByName(
        d.where(F.length("text") < 100).select("lang"))
    return u.groupBy("lang").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k over embeddings (baseline path)
# ---------------------------------------------------------------------------

@_q("q21_knn_bruteforce", """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding, e.embedding) AS sim
  FROM q CROSS JOIN embeddings e
  WHERE q.vec_id <> e.vec_id
)
SELECT query_id, neighbor_id, rnk FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM pairs)
WHERE rnk <= 3
""")
def q21(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.similarity import knn_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return knn_bruteforce(queries, emb, k=3).select("query_id", "neighbor_id", "rnk")


# ---------------------------------------------------------------------------
# Window top-k per group, semi/anti joins, sessionization, percentiles
# ---------------------------------------------------------------------------

@_q("q22_top3_events_per_user", """
SELECT user_id, event_id, rnk FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
  FROM events)
WHERE rnk <= 3
""")
def q22(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (_t(spark, sf_dir, "events")
            .select("user_id", "event_id", F.row_number().over(w).alias("rnk"))
            .where(F.col("rnk") <= 3))


@_q("q23_customers_without_orders", """
SELECT c_mktsegment, count(*) AS n_inactive
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
""")
def q23(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy("c_mktsegment").agg(F.count("*").alias("n_inactive")))


@_q("q24_customers_with_orders", """
SELECT c_mktsegment, count(*) AS n_active
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
""")
def q24(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .groupBy("c_mktsegment").agg(F.count("*").alias("n_active")))


@_q("q25_sessionize", """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) > 3600
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  SELECT user_id, event_id,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM marked)
SELECT user_id, session_id, count(*) AS n_events
FROM sess GROUP BY user_id, session_id
""")
def q25(spark, sf_dir):
    # gap-based sessionization (1h inactivity): lag + running sum of
    # session-start markers — the batch twin of streaming session windows
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_sec = F.col("ts").cast("timestamp").cast("double") - prev_ts.cast("timestamp").cast("double")
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(prev_ts.isNull() | (gap_sec > 3600), 1).otherwise(0).alias("is_new"))
    w2 = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sess = marked.select("user_id", "event_id", F.sum("is_new").over(w2).alias("session_id"))
    return sess.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))


@_q("q26_value_percentiles", """
SELECT event_type,
       round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS p50,
       round(CAST(quantile_cont(value, 0.95) AS DOUBLE), 6) AS p95
FROM events GROUP BY event_type
""")
def q26(spark, sf_dir):
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"))


# ---------------------------------------------------------------------------
# Dedup coverage: exact dedup over a corpus with guaranteed duplicates
# (documents unioned with itself, ids offset), plus rows-only profiles for
# the non-SQL-expressible hash structures
# ---------------------------------------------------------------------------

def _pool_sql(*extra: str) -> str:
    """The doubled corpus as the CTE ``pool(doc_id, text, *extra)``: every
    document twice, the copy's doc_id offset by 1,000,000."""
    cols = ", ".join(("text",) + extra)
    return f"""pool AS (
  SELECT doc_id, {cols} FROM documents
  UNION ALL
  SELECT doc_id + 1000000, {cols} FROM documents)"""


_POOL_SQL = _pool_sql()


def _doubled_docs(spark, sf_dir, *extra: str):
    """``_pool_sql(*extra)``'s corpus: every document twice, the copy's
    doc_id offset by 1,000,000."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", *extra)
    return d.unionByName(d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                                  "text", *extra))


@_q("q27_dedup_union_exact", f"""
WITH {_POOL_SQL},
ranked AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM pool)
SELECT count(*) AS n_kept, CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM ranked WHERE rn = 1
""")
def q27(spark, sf_dir):
    u = _doubled_docs(spark, sf_dir)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = u.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return kept.agg(F.count("*").alias("n_kept"),
                    F.sum(F.length("text")).alias("total_chars"))


# DuckDB twin of functions/textstats.quality_score, semantics-faithful past
# ASCII: Java (?U)\\w ≈ RE2 [\\p{L}\\p{N}_]; alpha density counts Latin AND
# Ethiopic (the engine's domain); whitespace tokens drop empty strings like
# the Spark filter; rounded per-doc to 6 exactly like the Spark expression.
_WORDS_SQL = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
_QUALITY_SQL = f"""round(
    0.3 * (CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.3 END)
  + 0.3 * (len(list_distinct({_WORDS_SQL}))
           / greatest(len({_WORDS_SQL}), 1))
  + 0.3 * least((length(regexp_replace(text, '[^A-Za-z\\x{{1200}}-\\x{{137F}}]', '', 'g'))
                 / greatest(length(text), 1)) * 1.25, 1.0)
  + 0.1 * (1.0 - least((length(regexp_replace(text, '[\\p{{L}}\\p{{N}}_\\s]', '', 'g'))
                        / greatest(length(text), 1)) * 4, 1.0)), 6)"""

# whitespace token count twin (ts.whitespace_token_count): empty tokens
# filtered like the Spark expression
_WS_TOKENS_SQL = "len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))"

@_q("q28_doc_quality_scores", f"""
WITH scored AS (
  SELECT lang, {_QUALITY_SQL} AS q
  FROM documents)
SELECT lang, round(avg(q), 4) AS avg_quality, count(*) AS n
FROM scored GROUP BY lang
""")
def q28(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.functions.textstats import quality_score
    from amharic_ecommerce_data_extractor_spark.operators.linking import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return (d.select("lang", quality_score(F.col("text")).alias("q"))
            .groupBy("lang").agg(F.round(F.avg("q"), 4).alias("avg_quality"),
                                 F.count("*").alias("n")))


def _simhash_sql(source: str) -> str:
    """md5 SimHash (dedup.simhash64_md5) of every doc in ``source``: the
    ``words``/``hashed``/``votes``/``sim`` CTEs, 64-char bit string ``simhash``."""
    return f"""words AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS w
  FROM {source}),
hashed AS (SELECT doc_id, md5(w) AS hx FROM words),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN CAST(floor(
                    CAST(CAST('0x' || substr(hx, CAST(b // 4 AS INT) + 1, 1) AS UBIGINT) AS DOUBLE)
                    / pow(2, 3 - (b % 4))) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM hashed CROSS JOIN (SELECT unnest(range(64)) AS b)
  GROUP BY doc_id, b),
sim AS (
  SELECT doc_id,
         string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
  FROM votes GROUP BY doc_id)"""


@_q("q29_simhash_bucket_profile", f"""
WITH {_simhash_sql("documents")}
SELECT substr(simhash, 1, 8) AS bucket, count(*) AS n
FROM sim GROUP BY bucket ORDER BY n DESC, bucket ASC LIMIT 20
""")
def q29(spark, sf_dir, hash_fn="md5"):
    # md5 (dedup.simhash64_md5) so the DuckDB twin above can recompute the
    # SimHash bit-exactly; q29p runs the production xxhash64 (dedup.simhash64)
    from amharic_ecommerce_data_extractor_spark.operators.dedup import (
        simhash64,
        simhash64_md5,
    )
    from amharic_ecommerce_data_extractor_spark.operators.linking import spread

    sh = simhash64_md5 if hash_fn == "md5" else simhash64
    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return (d.select(F.substring(sh(F.col("text")), 1, 8).alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("bucket")).limit(20))


# 64 Rademacher(md5) planes (similarity._planes plane_fn='rademacher_md5')
# and every embedding's 8 band signatures of 8 bits
_PLANES_SQL = """planes AS (
  SELECT p, list_transform(range(64), d ->
           CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)
                     AS UBIGINT) % 2 = 1
                THEN 1.0 ELSE -1.0 END) AS pv
  FROM (SELECT unnest(range(64)) AS p)),
sigs AS (
  SELECT vec_id, CAST(p // 8 AS INT) AS band,
         string_agg(CASE WHEN list_dot_product(embedding, pv) >= 0
                         THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
  FROM embeddings CROSS JOIN planes GROUP BY vec_id, band)"""


@_q("q30_knn_lsh_recall", f"""
-- full twin of the SimHash-LSH KNN recall probe: the plane family is
-- recomputed here, so exact AND approximate sides are both independently
-- derived.
WITH {_PLANES_SQL},
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                                       e.vec_id ASC) AS rnk
    FROM q CROSS JOIN embeddings e WHERE q.vec_id <> e.vec_id)
  WHERE rnk <= 5),
cand AS (
  SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS neighbor_id
  FROM sigs qs
  JOIN sigs cs ON qs.band = cs.band AND qs.sig = cs.sig
  WHERE qs.vec_id % 100 = 0 AND qs.vec_id <> cs.vec_id),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY list_cosine_similarity(eq.embedding, en.embedding) DESC,
                                       c.neighbor_id ASC) AS rnk
    FROM cand c
    JOIN embeddings eq ON eq.vec_id = c.query_id
    JOIN embeddings en ON en.vec_id = c.neighbor_id)
  WHERE rnk <= 5),
hits AS (
  SELECT exact.query_id, count(*) AS n_hits
  FROM exact JOIN approx USING (query_id, neighbor_id)
  GROUP BY exact.query_id),
n_ex AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
SELECT n_ex.query_id,
       round(coalesce(n_hits, 0) / n_exact, 4) AS recall_at_5
FROM n_ex LEFT JOIN hits ON n_ex.query_id = hits.query_id
ORDER BY n_ex.query_id
""")
def q30(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.similarity import (
        knn_bruteforce,
        knn_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = knn_bruteforce(queries, emb, k=5).select("query_id", "neighbor_id")
    approx = knn_lsh(queries, emb, k=5,
                     plane_fn="rademacher_md5").select("query_id", "neighbor_id")
    hit = exact.join(approx, on=["query_id", "neighbor_id"]).groupBy("query_id") \
        .agg(F.count("*").alias("n_hits"))
    return (exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
            .join(hit, "query_id", "left")
            .select("query_id",
                    F.round(F.coalesce("n_hits", F.lit(0)) / F.col("n_exact"), 4)
                    .alias("recall_at_5"))
            .orderBy("query_id"))


def _minhash_sql(n: int, source: str) -> str:
    """md5 MinHash-LSH (linking.minhash_signature hash_fn='md5') of every doc
    in ``source``: word ``n``-gram ``shingled`` sets, 16 ``minhash`` values
    and 8 ``banded`` keys per doc (the ``tok`` ... ``banded`` CTEs)."""
    return f"""tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words FROM {source}),
shingled AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(greatest(len(words) - {n}, 0) + 1),
           i -> array_to_string(words[(i + 1):(i + {n})], ' '))) AS shingles
  FROM tok),
seeds AS (  -- universal-hash constants: re-derivable in any engine
  SELECT seed,
         CAST('0x' || substr(md5('a' || CAST(seed AS VARCHAR)), 1, 7) AS BIGINT)
           % 1073741788 + 1 AS a,
         CAST('0x' || substr(md5('b' || CAST(seed AS VARCHAR)), 1, 7) AS BIGINT)
           % 1073741789 AS b
  FROM (SELECT unnest(range(16)) AS seed)),
minhash AS (  -- h_i(sh) = (a_i*h0 + b_i) mod P, h0 = md5-prefix mod P: md5 ONCE per shingle
  SELECT doc_id, seed, min((a * h0 + b) % 1073741789) AS mh
  FROM (SELECT doc_id,
               CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % 1073741789 AS h0
        FROM (SELECT doc_id, unnest(shingles) AS sh FROM shingled))
  CROSS JOIN seeds
  GROUP BY doc_id, seed),
banded AS (  -- 8 bands x 2 rows; band key = md5 of the csv of the band's rows
  SELECT doc_id, band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS sig
  FROM (SELECT doc_id, seed, mh, CAST(seed // 2 AS INT) AS band FROM minhash)
  GROUP BY doc_id, band)"""


def _minhash_pairs_sql(n: int, threshold: float) -> str:
    """q31/q42: verified near-dup pairs of the doubled corpus under word
    ``n``-gram MinHash-LSH at Jaccard >= ``threshold``."""
    return f"""
WITH {_POOL_SQL},
{_minhash_sql(n, "pool")},
cand AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT src, dst,
         len(list_intersect(sa.shingles, sb.shingles))
           / (len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
  FROM cand
  JOIN shingled sa ON sa.doc_id = src
  JOIN shingled sb ON sb.doc_id = dst)
SELECT count(*) AS n_pairs, round(avg(jaccard), 6) AS avg_jaccard
FROM verified WHERE jaccard >= {threshold}
"""


@_q("q31_minhash_near_dup_pairs", _minhash_pairs_sql(3, 0.9))
def q31(spark, sf_dir, hash_fn="md5"):
    # md5: the shared 60-bit md5-derived hash lets the DuckDB twin recompute
    # identical signatures/bands; q31p runs the production xxhash64
    from amharic_ecommerce_data_extractor_spark.operators.dedup import (
        minhash_duplicate_pairs,
    )

    pairs = minhash_duplicate_pairs(_doubled_docs(spark, sf_dir), threshold=0.9,
                                    hash_fn=hash_fn)
    return pairs.agg(F.count("*").alias("n_pairs"),
                     F.round(F.avg("jaccard"), 6).alias("avg_jaccard"))


# ---------------------------------------------------------------------------
# KG-construction flagship path over the deterministic synthetic corpus
# (generator is parallelism-invariant, seed-pinned — same rows everywhere).
# Rule extraction / linking are not SQL-expressible → rows-only checks.
# ---------------------------------------------------------------------------

def _synth(spark, n=2000):
    from amharic_ecommerce_data_extractor_spark.data.synthetic import generate_messages

    return generate_messages(spark, n_rows=n, n_vendors=20)


# The KG flagship queries run over the seed-pinned synthetic corpus, not the
# driver's parquet tables, so their oracles are pinned fixtures computed by
# the INDEPENDENT pandas oracle (kernels/pandas_oracle.py — reference
# notebook-03 semantics reimplemented eagerly; hashlib MinHash + union-find
# for linking) and materialized to parquet by scripts/make_oracle_fixtures.py.
# tests/test_kg_fixture_oracle.py keeps them current (regeneration equality).
import os as _os

_FIXTURES = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "tests", "fixtures", "oracle")


def _scratch_dir(prefix: str) -> str:
    """tmpfs-backed scratch for the queries that materialize a transient
    input/sink (streaming parity, the q46 index): same discipline as
    bench.py's run_kg — the measurement targets compute, not the container
    filesystem's write bandwidth. Falls back to the default tempdir."""
    import tempfile

    base = "/dev/shm" if _os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


@_q("q32_kg_triples_profile", f"""
SELECT pred, n_triples, n_subjects, n_objects
FROM read_parquet('{_FIXTURES}/q32_kg_triples_profile.parquet')
ORDER BY pred
""")
def q32(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.extract import extract_entities
    from amharic_ecommerce_data_extractor_spark.operators.triples import emit_triples

    t = emit_triples(extract_entities(_synth(spark)))
    return (t.groupBy("pred").agg(F.count("*").alias("n_triples"),
                                  F.countDistinct("subj").alias("n_subjects"),
                                  F.countDistinct("obj").alias("n_objects"))
            .orderBy("pred"))


@_q("q47_streaming_triples_profile", f"""
SELECT pred, n_triples, n_subjects, n_objects
FROM read_parquet('{_FIXTURES}/q32_kg_triples_profile.parquet')
ORDER BY pred
""")
def q47(spark, sf_dir):
    # Structured-Streaming twin of q32: the SAME seed-pinned corpus drained
    # through readStream → streaming_triples → AvailableNow parquet sink,
    # then profiled. Streaming and batch must agree exactly (the extraction/
    # triple operators are stateless), so the q32 pinned fixture IS the
    # oracle — this makes the streaming path a fully oracle-backed registry
    # entry, not a pytest-only capability.
    import shutil
    import tempfile

    from amharic_ecommerce_data_extractor_spark.streaming.stream import (
        read_message_stream,
        run_stream_once,
        streaming_triples,
    )

    workdir = _scratch_dir("q47_stream_")
    try:
        # sensible input file sizing (guide §6): un-coalesced, the 2000-row
        # corpus lands as defaultParallelism (~32) files of ~60 rows and the
        # drain pays 8 micro-batch triggers of pure fixed cost; 8 files keep
        # a multi-trigger AvailableNow drain (2 triggers at 4 files/trigger)
        # without the small-files tax
        _synth(spark).coalesce(8).write.parquet(f"{workdir}/in")
        stream = read_message_stream(spark, f"{workdir}/in",
                                     max_files_per_trigger=4)
        run_stream_once(streaming_triples(stream), f"{workdir}/out",
                        f"{workdir}/ckpt")
        t = spark.read.parquet(f"{workdir}/out")
        out = (t.groupBy("pred").agg(F.count("*").alias("n_triples"),
                                     F.countDistinct("subj").alias("n_subjects"),
                                     F.countDistinct("obj").alias("n_objects"))
               .orderBy("pred"))
        # 4 profile rows: materialize before the temp sink dir is removed
        # (harness workaround, same as q46 — not the production pattern)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@_q("q33_kg_vendor_scorecard", f"""
SELECT vendor, total_posts, avg_views_per_post, posts_per_week,
       lending_score_0_100
FROM read_parquet('{_FIXTURES}/q33_kg_vendor_scorecard.parquet')
""")
def q33(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.extract import extract_entities
    from amharic_ecommerce_data_extractor_spark.operators.scorecard import vendor_scorecard

    sc = vendor_scorecard(extract_entities(_synth(spark)))
    return sc.select("vendor", "total_posts",
                     F.round("avg_views_per_post", 6).alias("avg_views_per_post"),
                     F.round("posts_per_week", 6).alias("posts_per_week"),
                     F.round("lending_score_0_100", 6).alias("lending_score_0_100"))


@_q("q34_kg_entity_linking", f"""
SELECT type, n_surfaces, n_canonical
FROM read_parquet('{_FIXTURES}/q34_kg_entity_linking.parquet')
ORDER BY type
""")
def q34(spark, sf_dir):
    # hash_fn='md5' so the independent hashlib/union-find pandas twin
    # (kernels.pandas_oracle.canonicalize_counts) computes identical
    # signatures; the xxhash64 default stays the production path
    from amharic_ecommerce_data_extractor_spark.operators.extract import extract_entities
    from amharic_ecommerce_data_extractor_spark.operators.linking import canonicalize_surfaces
    from amharic_ecommerce_data_extractor_spark.plans.pipeline import entity_surfaces

    canon = canonicalize_surfaces(entity_surfaces(extract_entities(_synth(spark))),
                                  hash_fn="md5")
    return (canon.groupBy("type")
            .agg(F.count("*").alias("n_surfaces"),
                 F.countDistinct("canonical_id").alias("n_canonical"))
            .orderBy("type"))


@_q("q35_multimodal_features", """
-- twin of the deterministic fallback codec (operators/multimodal.py
-- _decode_image_stub): payload = utf-8 bytes of 'raw:'||text (the prefix
-- guarantees the payload can never sniff as BMP/PGM/PPM and take the REAL
-- decode path), h = sha256(payload), width = 64 + h[0] % 192,
-- height = 64 + h[1] % 192. DuckDB's sha256() hashes the VARCHAR's utf-8
-- bytes — identical to hashlib on the payload.
WITH hashed AS (
  SELECT sha256('raw:' || text) AS sha,
         CAST('0x' || substr(sha256('raw:' || text), 1, 2) AS UBIGINT) AS b0,
         CAST('0x' || substr(sha256('raw:' || text), 3, 2) AS UBIGINT) AS b1
  FROM documents)
SELECT count(*) AS n_images,
       round(avg(64 + b0 % 192), 6) AS avg_width,
       round(avg(64 + b1 % 192), 6) AS avg_height,
       count(DISTINCT sha) AS n_distinct_payloads
FROM hashed
""")
def q35(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.multimodal import (
        extract_image_features,
    )

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.lit("image/fake").alias("mime"),
        # 'raw:' prefix: never sniffs as a decodable format, so the
        # deterministic fallback path (the one the SQL twin models) is
        # guaranteed for every document
        F.encode(F.concat(F.lit("raw:"), F.col("text")), "utf-8").alias("payload"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    feats = extract_image_features(media)
    return feats.agg(
        F.count("*").alias("n_images"),
        F.round(F.avg("width"), 6).alias("avg_width"),
        F.round(F.avg("height"), 6).alias("avg_height"),
        F.countDistinct("payload_sha256").alias("n_distinct_payloads"),
    )


@_q("q36_curation_core", f"""
WITH {_pool_sql("lang", "source")},
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM pool) WHERE rn = 1
),
scored AS (
  SELECT lang,
         {_WS_TOKENS_SQL} AS n_tokens,
         {_QUALITY_SQL} AS q
  FROM deduped)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM scored
WHERE q >= 0.3 AND n_tokens BETWEEN 5 AND 1000
GROUP BY lang
""")
def q36(spark, sf_dir):
    # SQL-expressible curation core: exact dedup + quality + length filters
    from pyspark.sql.window import Window

    from amharic_ecommerce_data_extractor_spark.functions import textstats as ts

    pool = _doubled_docs(spark, sf_dir, "lang", "source")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = pool.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    scored = deduped.select(
        "lang",
        ts.whitespace_token_count(F.col("text")).alias("n_tokens"),
        ts.quality_score(F.col("text")).alias("q"))
    return (scored.where((F.col("q") >= 0.3) & F.col("n_tokens").between(5, 1000))
            .groupBy("lang").agg(F.count("*").alias("n_docs"),
                                 F.sum("n_tokens").alias("total_tokens")))




@_q("q38_token_budget", f"""
WITH scored AS (
  SELECT source,
         {_WS_TOKENS_SQL} AS ws,
         len(regexp_extract_all(text, '[\\p{{L}}\\p{{N}}_]+|[^\\p{{L}}\\p{{N}}_\\s]')) AS bpe,
         {_QUALITY_SQL} AS q
  FROM documents)
SELECT source, count(*) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS bpe_ish_tokens,
       round(avg(q), 6) AS avg_quality
FROM scored GROUP BY source
""")
def q38(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.functions import textstats as ts
    from amharic_ecommerce_data_extractor_spark.operators.curation import (
        token_budget_report,
    )
    from amharic_ecommerce_data_extractor_spark.operators.linking import spread

    d = spread(_t(spark, sf_dir, "documents"), "doc_id") \
        .withColumn("quality", ts.quality_score(F.col("text")))
    return token_budget_report(d, text_col="text", by="source")


_IVF_KNN_SQL = """
WITH
cent AS (  -- deterministic coarse quantizer: unit-normalized embeddings of
           -- the first 16 vectors, cell = rank by vec_id (matches the Spark
           -- side; fixed cell count at every scale factor)
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         list_transform(embedding,
                        x -> x / sqrt(list_dot_product(embedding, embedding))) AS cv
  FROM embeddings WHERE vec_id < 16),
assigned AS (  -- nearest cell per corpus vector (ties → larger cell, like
               -- array_max over struct(sim, cell))
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.embedding, c.cv) DESC,
                                       c.cell DESC) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1),
probes AS (  -- nprobe=4 nearest cells per query vector
  SELECT vec_id AS query_id, embedding AS q_vec, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.embedding, c.cv) DESC,
                                       c.cell DESC) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id % 100 = 0)
  WHERE rn <= 4)
SELECT query_id, neighbor_id, rnk FROM (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY list_cosine_similarity(p.q_vec, a.embedding) DESC,
                                     a.vec_id ASC) AS rnk
  FROM probes p JOIN assigned a ON p.cell = a.cell
  WHERE p.query_id <> a.vec_id)
WHERE rnk <= 5
"""


def _ivf_centroids(emb):
    """q39/q46 centroids: embeddings 0-15, unit-normalized with
    sequential-sum arithmetic (the order of the DuckDB twin's
    list_dot_product), so they are bit-identical to ``_IVF_KNN_SQL``'s."""
    import math

    cents = []
    for r in sorted(emb.where(F.col("vec_id") < 16).collect(),
                    key=lambda r: r["vec_id"]):
        v = [float(x) for x in r["embedding"]]
        nrm = math.sqrt(sum(x * x for x in v))
        cents.append([x / nrm for x in v])
    return cents


@_q("q39_knn_ivf", _IVF_KNN_SQL)
def q39(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.similarity import (
        ivf_assign,
        knn_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(emb)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return knn_ivf(queries, ivf_assign(emb, cents), cents, k=5, nprobe=4) \
        .select("query_id", "neighbor_id", "rnk")


@_q("q46_knn_ivf_indexed", _IVF_KNN_SQL)
def q46(spark, sf_dir):
    # q39 through the MATERIALIZED index: the corpus is written
    # hive-partitioned by cell, read back as knn_ivf's cells, and the
    # probes prune index partitions. The index is rebuilt on every run.
    import shutil

    from amharic_ecommerce_data_extractor_spark.operators.similarity import (
        ivf_index_write,
        knn_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(emb)
    idx = _scratch_dir("ivf_q46_")
    try:
        ivf_index_write(emb, cents, idx)
        queries = emb.where(F.col("vec_id") % 100 == 0)
        out = knn_ivf(queries, spark.read.parquet(idx), cents, k=5, nprobe=4) \
            .select("query_id", "neighbor_id", "rnk")
        # materialize the k*|Q| result rows before the temp index dir is
        # removed — a HARNESS workaround (the query must outlive its tempdir),
        # NOT the serving pattern: in production the index is a permanent
        # table and knn_ivf's DataFrame is consumed lazily
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@_q("q40_embedding_near_dup_pairs", f"""
WITH {_PLANES_SQL},
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
  WHERE a.vec_id <> b.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(eq.embedding, en.embedding) AS sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_cosine_similarity(eq.embedding, en.embedding) DESC,
                                     neighbor_id ASC) AS rnk
  FROM cand JOIN embeddings eq ON eq.vec_id = query_id
            JOIN embeddings en ON en.vec_id = neighbor_id)
SELECT count(*) AS n_pairs, round(avg(sim), 6) AS avg_sim
FROM ranked WHERE rnk <= 5 AND sim >= 0.9 AND query_id < neighbor_id
""")
def q40(spark, sf_dir, plane_fn="rademacher_md5"):
    from amharic_ecommerce_data_extractor_spark.operators.dedup import (
        embedding_duplicate_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_duplicate_pairs(emb, threshold=0.9, plane_fn=plane_fn)
    return pairs.agg(F.count("*").alias("n_pairs"),
                     F.round(F.avg("sim"), 6).alias("avg_sim"))


@_q("q41_simhash_duplicate_groups", f"""
WITH {_POOL_SQL},
{_simhash_sql("pool")},
groups AS (
  SELECT simhash, count(*) AS n_docs FROM sim GROUP BY simhash HAVING count(*) > 1)
SELECT count(*) AS n_groups,
       CAST(sum(n_docs) AS BIGINT) AS total_docs,
       max(n_docs) AS max_group
FROM groups
""")
def q41(spark, sf_dir, hash_fn="md5"):
    from amharic_ecommerce_data_extractor_spark.operators.dedup import simhash_duplicates

    groups = simhash_duplicates(_doubled_docs(spark, sf_dir), hash_fn=hash_fn)
    return groups.agg(F.count("*").alias("n_groups"),
                      F.sum("n_docs").alias("total_docs"),
                      F.max("n_docs").alias("max_group"))


@_q("q42_ngram_jaccard_pairs", _minhash_pairs_sql(2, 0.5))
def q42(spark, sf_dir, hash_fn="md5"):
    from amharic_ecommerce_data_extractor_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_doubled_docs(spark, sf_dir), n=2, threshold=0.5,
                                hash_fn=hash_fn)
    return pairs.agg(F.count("*").alias("n_pairs"),
                     F.round(F.avg("ngram_jaccard"), 6).alias("avg_jaccard"))


@_q("q43_salted_topk", """
SELECT user_id, event_id, rnk FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
  FROM events)
WHERE rnk <= 3
""")
def q43(spark, sf_dir):
    # result-identical to the naive window (q22's oracle IS the spec);
    # the operator under test is the two-phase skew-safe reduction
    from amharic_ecommerce_data_extractor_spark.operators.skew import salted_topk

    ev = _t(spark, sf_dir, "events")
    return salted_topk(ev, key="user_id", order_col="value", k=3,
                       tie_col="event_id").select("user_id", "event_id", "rnk")


@_q("q44_salted_collect_set", """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types_csv
FROM events GROUP BY user_id
""")
def q44(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.skew import salted_collect_set

    ev = _t(spark, sf_dir, "events")
    return (salted_collect_set(ev, key="user_id", value="event_type")
            .select("user_id", F.array_join("event_type_set", ",").alias("types_csv")))


# Deterministic synthetic BIO labels over the documents tokens: the label of
# (doc_id, pos) is a pure function of md5, so Spark and DuckDB derive the
# SAME corpus and the span P/R/F1 oracle recomputes seqeval-style span
# extraction independently (window functions vs the mapInPandas kernel of
# operators.metrics.spans_table).
_Q45_LABEL_SQL = """
CASE WHEN {d} <= 1 THEN 'B-PRODUCT' WHEN {d} = 2 THEN 'I-PRODUCT'
     WHEN {d} = 3 THEN 'B-LOC' WHEN {d} = 4 THEN 'I-LOC' ELSE NULL END"""


def _q45_spans_sql(which: str) -> str:
    salt = "" if which == "gold" else " || ':p'"
    d = (f"CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
         f"CAST(pos AS VARCHAR){salt}), 1, 1) AS UBIGINT)")
    label = _Q45_LABEL_SQL.format(d=d)
    return f"""
  SELECT doc_id, etype, min(pos) AS start, max(pos) + 1 AS "end" FROM (
    SELECT doc_id, pos, etype,
           sum(CASE WHEN is_start THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
    FROM (
      SELECT doc_id, pos, substr(lab, 3) AS etype,
             lab[1] = 'B' OR (lag(substr(lab, 3)) OVER (PARTITION BY doc_id ORDER BY pos)
                              IS DISTINCT FROM substr(lab, 3)) AS is_start
      FROM (SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS pos,
                   {label} AS lab
            FROM documents))
    WHERE etype IS NOT NULL)
  GROUP BY doc_id, span_id, etype"""


@_q("q45_span_prf", f"""
WITH gold AS ({_q45_spans_sql('gold')}),
pred AS ({_q45_spans_sql('pred')}),
hit AS (
  SELECT g.etype, count(*) AS tp
  FROM gold g JOIN pred p
    ON g.doc_id = p.doc_id AND g.etype = p.etype
   AND g.start = p.start AND g."end" = p."end"
  GROUP BY g.etype),
np_ AS (SELECT etype, count(*) AS n_pred FROM pred GROUP BY etype),
ng AS (SELECT etype, count(*) AS n_gold FROM gold GROUP BY etype),
per AS (
  SELECT coalesce(ng.etype, np_.etype) AS etype,
         coalesce(tp, 0) AS tp, coalesce(n_pred, 0) AS n_pred,
         coalesce(n_gold, 0) AS n_gold,
         round(CASE WHEN coalesce(n_pred, 0) > 0
                    THEN coalesce(tp, 0) / CAST(n_pred AS DOUBLE) ELSE 0.0 END, 6) AS precision,
         round(CASE WHEN coalesce(n_gold, 0) > 0
                    THEN coalesce(tp, 0) / CAST(n_gold AS DOUBLE) ELSE 0.0 END, 6) AS recall
  FROM ng FULL JOIN np_ ON ng.etype = np_.etype
  LEFT JOIN hit ON coalesce(ng.etype, np_.etype) = hit.etype)
SELECT etype, precision, recall,
       round(CASE WHEN precision + recall > 0
                  THEN 2 * precision * recall / (precision + recall)
                  ELSE 0.0 END, 6) AS f1,
       tp, n_pred, n_gold
FROM per ORDER BY etype
""")
def q45(spark, sf_dir):
    from amharic_ecommerce_data_extractor_spark.operators.metrics import (
        span_prf,
        spans_table,
    )

    from amharic_ecommerce_data_extractor_spark.operators.linking import spread

    # spread before the token explode: the md5-per-token label derivation
    # below otherwise runs inside a 1-split scan stage
    d = spread(_t(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))

    def labels_for(salt: str):
        key = F.concat_ws(":", F.col("doc_id"), F.col("pos"))
        if salt:
            key = F.concat(key, F.lit(":" + salt))
        digit = F.conv(F.substring(F.md5(key), 1, 1), 16, 10).cast("int")
        lab = (F.when(digit <= 1, "B-PRODUCT").when(digit == 2, "I-PRODUCT")
               .when(digit == 3, "B-LOC").when(digit == 4, "I-LOC").otherwise("O"))
        return (toks.select("doc_id", "pos", lab.alias("label"))
                .groupBy("doc_id")
                .agg(F.sort_array(F.collect_list(F.struct("pos", "label"))).alias("pl"))
                .select("doc_id", F.col("pl.label").alias("labels")))

    gold = spans_table(labels_for(""), "doc_id", "labels")
    pred = spans_table(labels_for("p"), "doc_id", "labels")
    return span_prf(pred, gold).orderBy("etype")


@_q("q37_curation_audit", f"""
-- full independent twin of curate(): exact dedup → md5-MinHash-LSH near-dup
-- pairs (threshold 0.8) → connected components (recursive-CTE transitive
-- closure; tractable because the near-dup graph is sparse) → quality/length
-- filters → per-source cap, reporting per-stage surviving rows.
WITH RECURSIVE
exact_kept AS (
  SELECT * FROM (
    SELECT doc_id, text, source,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
{_minhash_sql(3, "exact_kept")},
cand AS (
  -- star mode (the CC-consuming dedup default): per (band, sig) bucket the
  -- candidate edges run bucket-min -> member only — linear in bucket size,
  -- mirroring banded_candidate_pairs(pair_mode='star')
  SELECT DISTINCT hub AS src, doc_id AS dst FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) AS hub
    FROM banded)
  WHERE doc_id <> hub),
verified AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           len(list_intersect(sa.shingles, sb.shingles))
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
    FROM cand JOIN shingled sa ON sa.doc_id = src
              JOIN shingled sb ON sb.doc_id = dst)
  WHERE jaccard >= 0.8),
sym AS (SELECT src, dst FROM verified
        UNION SELECT dst, src FROM verified),
reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
  WHERE r.src <> e.dst),
reach_min AS (SELECT src AS node, min(dst) AS mn FROM reach GROUP BY src),
dedup_kept AS (
  SELECT k.doc_id, k.text, k.source FROM exact_kept k
  LEFT JOIN reach_min r ON k.doc_id = r.node
  WHERE r.mn IS NULL OR r.mn > k.doc_id),
scored AS (
  SELECT doc_id, source,
         {_WS_TOKENS_SQL} AS n_tokens,
         {_QUALITY_SQL} AS q
  FROM dedup_kept),
filtered AS (
  SELECT * FROM scored WHERE q >= 0.3 AND n_tokens BETWEEN 5 AND 100000),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY q DESC, doc_id ASC) AS src_rn
    FROM filtered) WHERE src_rn <= 100)
SELECT CAST(0 AS INT) AS stage_idx, 'input' AS stage,
       (SELECT count(*) FROM documents) AS rows_surviving
UNION ALL SELECT 1, 'dedup', (SELECT count(*) FROM dedup_kept)
UNION ALL SELECT 2, 'quality_and_length', (SELECT count(*) FROM filtered)
UNION ALL SELECT 3, 'per_source_cap', (SELECT count(*) FROM capped)
""")
def q37(spark, sf_dir, hash_fn="md5"):
    from amharic_ecommerce_data_extractor_spark.operators.curation import curate

    docs = _t(spark, sf_dir, "documents")
    curated, audit = curate(docs, min_quality=0.3, min_tokens=5,
                            per_source_cap=100, hash_fn=hash_fn)
    # audit is already driver-local; release the curated cache rather than
    # holding two corpora of blocks across the rest of the bench session
    curated.unpersist()
    return audit


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS, SIGMOD 2003) — substring-level document
# fingerprinting: rolling k-gram hash + window-minimum selection, then the
# fingerprint-overlap similarity join. Graft-new capability (reference's only
# fingerprint is the whole-text dedup key). The packed-BIGINT rightmost-min
# trick is recomputed verbatim by the DuckDB twin.
# ---------------------------------------------------------------------------

@_q("q48_winnowing_overlap_pairs", f"""
WITH {_POOL_SQL},
g AS (  -- one row per character 5-gram position; npos = n_kgrams
  SELECT doc_id, length(text) - 4 AS npos,
         unnest(range(1, length(text) - 3)) AS pos, text
  FROM pool WHERE length(text) >= 5),
h AS (  -- md5-derived 31-bit k-gram hash (cross-engine recomputable)
  SELECT doc_id, npos, pos,
         CAST('0x' || substr(md5(substr(text, CAST(pos AS INT), 5)), 1, 15) AS BIGINT)
           % 2147483647 AS hv
  FROM g),
packed AS (  -- rightmost-min-on-ties packed into one BIGINT: h*2^32 + (2^32-1-pos)
  SELECT doc_id, npos, pos, hv * 4294967296 + (4294967295 - pos) AS c FROM h),
wmin AS (
  SELECT doc_id, npos, pos,
         min(c) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m
  FROM packed),
sel AS (  -- window starts only (full windows; short docs: the one truncated window)
  SELECT DISTINCT doc_id, CAST(m // 4294967296 AS BIGINT) AS fp
  FROM wmin WHERE pos <= greatest(1, npos - 7)),
keep AS (  -- drop stop-fingerprints (document frequency > 50)
  SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50),
fpk AS (SELECT doc_id, fp FROM sel JOIN keep USING (fp)),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS n_shared
  FROM fpk a JOIN fpk b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 3)
SELECT src, dst, n_shared FROM pairs
""")
def q48(spark, sf_dir, hash_fn="md5"):
    # md5 so DuckDB recomputes identical fingerprints; the packed min /
    # window-start selection / df-cap / overlap join shapes are the
    # production ones (only the k-gram hash family differs — see q48p)
    from amharic_ecommerce_data_extractor_spark.operators.dedup import (
        fingerprint_overlap_pairs,
    )

    return fingerprint_overlap_pairs(_doubled_docs(spark, sf_dir), k=5, w=8,
                                     min_shared=3, max_df=50, hash_fn=hash_fn)


# ---------------------------------------------------------------------------
# Streaming parity queries over the driver's events table (the only streaming
# entries whose oracle is plain ANSI SQL, not a pinned fixture): the stream
# drains via Trigger.AvailableNow, the final state per key is reconstructed
# from the update-mode emissions (n_posts is strictly increasing per key, so
# max_by(·, n_posts) picks the last emission), and DuckDB recomputes the same
# totals as a batch aggregate. This makes the update-mode streaming
# aggregation (q49) and the watermarked windowed aggregation (q50)
# driver-visible, like q47 did for the stateless triple stream.
# ---------------------------------------------------------------------------

def _events_as_messages(spark, sf_dir):
    """events → the message-stream shape (repo/views/message_date) so the
    streaming scorecard operators run unchanged over driver data. floor() on
    the double value keeps the long cast exact and DuckDB-reproducible
    (double→long CAST rounds in DuckDB but truncates in Spark)."""
    return _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("repo"),
        F.floor("value").cast("long").alias("views"),
        F.col("ts").alias("message_date"))


_MSG_STREAM_SCHEMA = "repo string, views long, message_date timestamp"


@_q("q49_streaming_stateful_totals", """
SELECT CAST(user_id AS VARCHAR) AS vendor,
       count(*) AS total_posts,
       CAST(sum(coalesce(CAST(floor(value) AS BIGINT), 0)) AS BIGINT) AS total_views,
       max(ts) AS last_seen
FROM events GROUP BY user_id
""")
def q49(spark, sf_dir):
    # streaming-aggregate vendor totals (update mode), drained AvailableNow:
    # the final emission per vendor must equal the batch aggregate exactly
    import shutil
    import tempfile

    from amharic_ecommerce_data_extractor_spark.streaming.stream import (
        run_stream_once_foreach,
        stateful_vendor_totals,
    )

    workdir = _scratch_dir("q49_stream_")
    try:
        _events_as_messages(spark, sf_dir).write.parquet(f"{workdir}/in")
        stream = (spark.readStream.schema(_MSG_STREAM_SCHEMA)
                  .option("maxFilesPerTrigger", 4).parquet(f"{workdir}/in"))
        run_stream_once_foreach(stateful_vendor_totals(stream),
                                f"{workdir}/out", f"{workdir}/ckpt")
        out = spark.read.parquet(f"{workdir}/out")
        final = out.groupBy("vendor").agg(
            F.max("n_posts").alias("total_posts"),
            F.expr("max_by(total_views, n_posts)").alias("total_views"),
            F.expr("max_by(last_seen, n_posts)").alias("last_seen"))
        # small result set: materialize before the temp sink dir is removed
        # (harness workaround, same as q46/q47 — not the production pattern)
        rows = final.collect()
        return spark.createDataFrame(rows, final.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@_q("q50_streaming_windowed_activity", """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(user_id AS VARCHAR) AS vendor,
       count(*) AS n_posts,
       CAST(sum(coalesce(CAST(floor(value) AS BIGINT), 0)) AS BIGINT) AS views
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
""")
def q50(spark, sf_dir):
    # Watermarked event-time tumbling windows drained AvailableNow in update
    # mode. The watermark is sized far past the corpus span so no row is
    # late-dropped — batch/stream parity is exact; the oracle filters null
    # event times (dropped by any watermarked aggregation). Production sizing
    # guidance lives in streaming.stream.windowed_vendor_activity.
    import shutil
    import tempfile

    from amharic_ecommerce_data_extractor_spark.streaming.stream import (
        run_stream_once_foreach,
        windowed_vendor_activity,
    )

    workdir = _scratch_dir("q50_stream_")
    try:
        _events_as_messages(spark, sf_dir).write.parquet(f"{workdir}/in")
        stream = (spark.readStream.schema(_MSG_STREAM_SCHEMA)
                  .option("maxFilesPerTrigger", 4).parquet(f"{workdir}/in"))
        act = windowed_vendor_activity(stream, window="1 day",
                                       watermark="3650 days")
        run_stream_once_foreach(act, f"{workdir}/out", f"{workdir}/ckpt")
        out = spark.read.parquet(f"{workdir}/out")
        final = out.groupBy("window_start", "vendor").agg(
            F.max("n_posts").alias("n_posts"),
            F.expr("max_by(views, n_posts)").alias("views"))
        # materialize before the temp sink dir is removed (harness
        # workaround, same as q46/q47 — not the production pattern). Eager
        # localCheckpoint instead of collect: this result is ~10⁵ rows per
        # million events, and collect + createDataFrame round-trips every
        # row through the driver twice (measured 2.6 s of q50's 8.4 s at
        # sf1.0); the checkpoint stores the partitions executor-side and
        # severs lineage from the about-to-vanish files just as well.
        return final.localCheckpoint()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Production-hash twins (rows-only, no oracle): the md5 variants above exist
# because DuckDB can recompute them; a production user runs xxhash64 / Gauss
# planes (pure JVM arithmetic, no hex-string parsing). Each twin is its
# oracle-backed body with the production hash family — same operators, same
# inputs — so BENCH_rN.json shows both costs side by side. Not
# SQL-oracle-backed by design (xxhash64 is not reproducible in DuckDB); their
# VALUES are pinned by tests/test_prod_twins_values.py instead.
#
# REGISTRATION ORDER MATTERS: these register LAST so every oracle-backed
# query precedes them — the driver's correctness gate checks the registry in
# order, and a rows-only twin occupying an early slot would push a verifiable
# query out of the checked window (the round-3 coverage gap; VERDICT r3 §1).
# ---------------------------------------------------------------------------

SPARK_QUERIES.update({
    "q29p_simhash_bucket_profile_prod": partial(q29, hash_fn="xxhash64"),
    "q31p_minhash_near_dup_pairs_prod": partial(q31, hash_fn="xxhash64"),
    "q37p_curation_audit_prod": partial(q37, hash_fn="xxhash64"),
    "q40p_embedding_near_dup_pairs_prod": partial(q40, plane_fn="gauss"),
    "q41p_simhash_duplicate_groups_prod": partial(q41, hash_fn="xxhash64"),
    "q42p_ngram_jaccard_pairs_prod": partial(q42, hash_fn="xxhash64"),
})


@_q("q48p_winnowing_overlap_pairs_prod")
def q48p(spark, sf_dir):
    pairs = q48(spark, sf_dir, hash_fn="xxhash64")
    return pairs.agg(F.count("*").alias("n_pairs"),
                     F.round(F.avg("n_shared"), 6).alias("avg_shared"))


@_q("q51_video_frame_features")
def q51(spark, sf_dir):
    """Video-decode path (rows-only: the frame decode — RIFF AVI chunk walk
    + numpy grid features, operators/multimodal.py extract_video_frames —
    is not SQL-expressible in DuckDB). Two media populations:

    * every document's text as a non-AVI payload → the deterministic
      sha-derived fallback frames (the codec-absent production stub);
    * two driver-built uncompressed-RGB AVI clips → REAL decode (uniform
      gray frames, so the 4×4 grid means are exactly gray/255).

    Values (not just row counts) are pinned in
    tests/test_video_query.py."""
    import numpy as np

    from amharic_ecommerce_data_extractor_spark.operators.multimodal import (
        extract_video_frames,
        make_avi,
    )

    d = _t(spark, sf_dir, "documents")
    fake_media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.lit("video/fake").alias("mime"),
        F.encode(F.concat(F.lit("raw:"), F.col("text")), "utf-8").alias("payload"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    # gray level 3*i stays inside uint8 for all 61 frames; sampled frames
    # 0/30/60 then have exact grid means 0, 90/255, 180/255
    frames = [np.full((4, 6, 3), 3 * i, dtype=np.uint8) for i in range(61)]
    real_rows = [
        (9_000_001, "video", "video/avi", bytearray(make_avi(frames, 6, 4)), {}),
        (9_000_002, "video", "video/avi", bytearray(make_avi(frames[:31], 6, 4)), {}),
    ]
    real_media = spark.createDataFrame(real_rows, fake_media.schema)
    out = extract_video_frames(fake_media.unionByName(real_media), every_n=30)
    return out.agg(
        F.count("*").alias("n_frames"),
        F.countDistinct("media_id").alias("n_media"),
        F.sum(F.when(F.col("width") == 6, 1).otherwise(0)).alias("n_real_frames"),
        F.round(F.sum(F.element_at("feature", 1)), 6).alias("sum_first_feature"),
    )


@_q("q52_incremental_dedup")
def q52(spark, sf_dir):
    """Incremental dedup fold (rows-only; operators/incremental.py): the
    documents table arrives as two batches split at the median doc_id; each
    batch is deduplicated against the fingerprint index accumulated from
    the batches before it (greedy online policy — no SQL twin because the
    decision depends on MinHash signature agreement against index state,
    which ANSI SQL cannot replay; values pinned at sf0.001 by
    tests/test_incremental_query.py)."""
    from amharic_ecommerce_data_extractor_spark.operators.incremental import (
        IndexRows,
        incremental_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    mid = d.agg(F.min("doc_id") + (F.max("doc_id") - F.min("doc_id")) / 2
                ).first()[0]
    batches = [d.where(F.col("doc_id") <= mid), d.where(F.col("doc_id") > mid)]
    idx, out = None, []
    for i, b in enumerate(batches, start=1):
        kept, adds = incremental_dedup(b, idx)
        # no checkpoint on `kept`: only its count is consumed, and the
        # operator already materializes the representative rows behind its
        # own barrier — a checkpoint here stored every full-width batch row
        # (text included) to count them. The adds tables keep theirs: each
        # feeds the next batch's index joins AND the audit count.
        adds = IndexRows(*(getattr(adds, a).localCheckpoint()
                           for a in ("exact", "sigs", "bands")))
        out.append((i, b.count(), kept.count(), adds.bands.count()))
        idx = adds if idx is None else idx.union(adds)
    return spark.createDataFrame(out, "batch int, n_in long, n_kept long, n_band_rows long")
