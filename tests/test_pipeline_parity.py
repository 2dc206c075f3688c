"""End-to-end parity: Spark pipeline vs the pinned pandas oracle
(notebook-03 semantics). This is the P/R ≥ 0.95 gate from BASELINE.md —
the implementations agree exactly on the deterministic rule backend.
"""

import math

import pytest

from amharic_ecommerce_data_extractor_spark.data.synthetic import (
    generate_messages,
    generate_messages_pandas,
)
from amharic_ecommerce_data_extractor_spark.kernels import pandas_oracle as oracle
from amharic_ecommerce_data_extractor_spark.operators.extract import (
    extract_entities,
    predictions_table,
)
from amharic_ecommerce_data_extractor_spark.operators.scorecard import vendor_scorecard
from amharic_ecommerce_data_extractor_spark.operators.triples import emit_triples

N_ROWS = 600


@pytest.fixture(scope="module")
def corpora(spark):
    sdf = generate_messages(spark, n_rows=N_ROWS, n_vendors=12)
    pdf = generate_messages_pandas(n_rows=N_ROWS, n_vendors=12)
    return sdf, pdf


def test_generator_is_parallelism_invariant(spark, corpora):
    sdf, pdf = corpora
    got = sdf.toPandas().sort_values("message_id").reset_index(drop=True)
    want = pdf.sort_values("message_id").reset_index(drop=True)
    assert got["content"].tolist() == want["content"].tolist()
    assert got["repo"].tolist() == want["repo"].tolist()
    assert got["content_sha256"].tolist() == want["content_sha256"].tolist()
    # different partitioning, same rows
    got2 = (
        generate_messages(spark, n_rows=N_ROWS, n_vendors=12, partitions=3)
        .toPandas().sort_values("message_id").reset_index(drop=True)
    )
    assert got2["content"].tolist() == want["content"].tolist()


def test_sha256_invariant_preserved(spark, corpora):
    sdf, _ = corpora
    from pyspark.sql import functions as F

    ext = extract_entities(sdf)
    bad = ext.where(
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256) != F.col("content_sha256")
    ).count()
    assert bad == 0


def test_triple_parity(spark, corpora):
    sdf, pdf = corpora
    got_df = emit_triples(extract_entities(sdf)).toPandas()
    want_df = oracle.emit_triples(oracle.extract_frame(pdf))
    got = set(map(tuple, got_df[["subj", "pred", "obj", "message_id"]].itertuples(index=False)))
    want = set(map(tuple, want_df[["subj", "pred", "obj", "message_id"]].itertuples(index=False)))
    p, r = oracle.precision_recall(got, want)
    assert p >= 0.95 and r >= 0.95, (p, r, list(got - want)[:5], list(want - got)[:5])
    assert got == want  # in fact exact
    assert len(got_df) > 0


def test_scorecard_parity(spark, corpora):
    sdf, pdf = corpora
    got = vendor_scorecard(extract_entities(sdf)).toPandas().reset_index(drop=True)
    want = oracle.vendor_scorecard(oracle.extract_frame(pdf))
    assert got["vendor"].tolist() == want["vendor"].tolist()
    for col in ("total_posts", "avg_views_per_post", "posts_per_week",
                "avg_price_etb", "top_product_price", "lending_score_0_100"):
        for g, w in zip(got[col].tolist(), want[col].tolist()):
            if g is None or (isinstance(g, float) and math.isnan(g)):
                assert w is None or (isinstance(w, float) and math.isnan(w)), (col, g, w)
            else:
                assert abs(g - w) < 1e-9, (col, g, w)
    assert got["top_product"].tolist() == want["top_product"].tolist()


def test_scorecard_edge_vendors(spark, corpora):
    sdf, _ = corpora
    sc = vendor_scorecard(extract_entities(sdf)).toPandas().set_index("vendor")
    # single-post vendor: range_days=1 → posts/week = 7
    assert sc.loc["edge_single_post", "posts_per_week"] == pytest.approx(7.0)
    # tied max views: lowest message_id (5: 'blender ዋጋ 750 ብር') wins idxmax
    assert sc.loc["edge_tied_views", "top_product"] == "blender"


def test_predictions_table_shape(spark, corpora):
    sdf, pdf = corpora
    pt = predictions_table(extract_entities(sdf.limit(50)))
    rows = pt.toPandas()
    assert set(rows.columns) == {"message_id", "repo", "pos", "token",
                                 "predicted_label", "preprocessed_text"}
    # token rows reconstruct the per-message token sequence in order
    one = rows[rows.message_id == 3].sort_values("pos")
    import amharic_ecommerce_data_extractor_spark.kernels.textprep as tp
    import amharic_ecommerce_data_extractor_spark.kernels.labeler as lb
    want_tokens = lb.extract_message(tp.preprocess_text(
        pdf.loc[pdf.message_id == 3, "content"].iloc[0]))["tokens"]
    assert one["token"].tolist() == want_tokens
