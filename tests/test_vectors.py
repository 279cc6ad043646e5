"""EmbeddingSet facade: each method must agree with the corpus query
it packages on the same data, and stay generic over column names.

q172/q173/q166/q223/q184/q216/q288 are registered as calls to these
methods (the facade is the one body), so their equality tests pin that
a raw parquet read, the facade defaults and the query's registered
parameters give the query's rows; their oracle tests in test_corpus.py
pin the body itself. q54 keeps its own body (a headline query), so
test_topk_matches_q54 cross-checks two independent builds."""

import pytest
from pyspark.sql import functions as F

from dicom_metadata_extractor_serverless_datalake_spark import EmbeddingSet
from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

SF = "/root/testdata/sf0.01"


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _vs(emb):
    return EmbeddingSet(emb, label_col="label")


def test_prototypes_match_q172(spark, emb):
    got = _vs(emb).prototypes().collect()
    want = QUERIES["q172_class_prototypes"].spark_fn(spark, SF).collect()
    assert got == want


def test_outliers_match_q173(spark, emb):
    got = _vs(emb).outliers(k=3).collect()
    want = QUERIES["q173_class_outliers"].spark_fn(spark, SF).collect()
    assert [tuple(r) for r in got] == [
        (r.label, r.rk, r.vec_id, r.cosine) for r in want
    ]


def test_label_audit_matches_q166(spark, emb):
    got = _vs(emb).label_audit(anchors=100, k=5).collect()
    want = QUERIES["q166_knn_label_audit"].spark_fn(spark, SF).collect()
    assert got == want


def test_topk_matches_q54(spark, emb):
    q = emb.filter(F.col("vec_id") < 5)
    got = _vs(emb).topk_similar(q, k=10).select(
        "q_id", "vec_id", "cosine", "rank"
    ).collect()
    want = QUERIES["q54_cosine_topk"].spark_fn(spark, SF).collect()
    assert got == want


def test_generic_column_names(spark, emb):
    renamed = emb.selectExpr(
        "vec_id AS item_id", "embedding AS vec", "label AS cls"
    )
    vs = EmbeddingSet(renamed, id_col="item_id", vec_col="vec", label_col="cls")
    out = vs.outliers(k=2)
    assert out.columns == ["label", "rk", "item_id", "cosine"]
    assert out.count() > 0
    base = _vs(emb).outliers(k=2).collect()
    assert [(r.label, r.rk, r.item_id, r.cosine) for r in out.collect()] == [
        (r.label, r.rk, r.vec_id, r.cosine) for r in base
    ]


def test_unlabeled_guard(emb):
    with pytest.raises(ValueError, match="label_col"):
        EmbeddingSet(emb).prototypes()


def test_retrieval_quality_pins_to_q184(spark, emb):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    vs = EmbeddingSet(emb, label_col="label")
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(map(tuple, vs.retrieval_quality(queries, k=10).collect()))
    want = sorted(
        map(tuple, QUERIES["q184_ndcg_exact"].spark_fn(spark, "/root/testdata/sf0.01").collect())
    )
    assert got == want


def test_truncation_audit_matches_q216(spark, emb):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    got = sorted(
        tuple(r)
        for r in EmbeddingSet(emb, label_col="label").truncation_audit().collect()
    )
    want = sorted(
        tuple(r)
        for r in QUERIES["q216_matryoshka_audit"].spark_fn(
            spark, "/root/testdata/sf0.01"
        ).collect()
    )
    assert got == want


def test_truncation_audit_full_head_is_total(spark, emb):
    # head_dims = full dimension -> share is exactly 1.0 for every label
    rows = EmbeddingSet(emb, label_col="label").truncation_audit(
        head_dims=64
    ).collect()
    assert rows and all(
        r.avg_share_micros == 1_000_000
        and r.min_share_micros == 1_000_000
        and r.max_share_micros == 1_000_000
        for r in rows
    )


def test_hard_negatives_match_q223(spark, emb):
    got = _vs(emb).hard_negatives(anchors=20).collect()
    want = QUERIES["q223_hard_negatives"].spark_fn(spark, SF).collect()
    assert got == want


def test_hard_negatives_margin_sign(spark, emb):
    # every row's margin is pos_cosine - neg_cosine by definition
    for r in _vs(emb).hard_negatives(anchors=5).collect():
        assert r.margin == r.pos_cosine - r.neg_cosine
        assert r.neg_label != r.own_label


def test_projection_audit_matches_q288(spark):
    """EmbeddingSet.projection_audit == q288 on the corpus testdata
    (generic column names), and the pair count is the fixed
    sample*(sample-1)/2 grid."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES
    from dicom_metadata_extractor_serverless_datalake_spark.vectors import EmbeddingSet

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    facade = EmbeddingSet(emb).projection_audit().collect()
    q = QUERIES["q288_jl_distortion"].spark_fn(spark, "/root/testdata/sf0.01").collect()
    assert facade == q
    assert len(facade) == 128 * 127 // 2

    # column-name generic: renamed frame gives identical values
    ren = emb.selectExpr("vec_id AS item", "embedding AS vec")
    facade2 = EmbeddingSet(ren, id_col="item", vec_col="vec").projection_audit().collect()
    assert [tuple(r) for r in facade2] == [tuple(r) for r in q]
