"""Hashed TF-IDF embeddings: the real (weights-free) lexical embedder —
determinism, unit norm, JL cosine behavior, retrieval ordering."""

import math

import pytest
from pyspark.sql import functions as F

from vectordb_cloud_spark.functions.embedding import (
    hashed_tfidf_embed,
    similar_documents,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "quantum flux capacitor energy storage design"),
        (1, "quantum flux capacitor energy storage design"),      # exact dup of 0
        (2, "quantum flux capacitor array design notes"),          # near neighbor
        (3, "banana apple pear mango fruit salad recipe"),         # disjoint
        (4, "spark join order optimizer shuffle partitions"),
        (5, "join order optimizer shuffle partitions tuning"),     # near of 4
    ] + [(10 + i, f"filler document number {i} with common words") for i in range(30)]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _cos(a, b):
    return sum(x * y for x, y in zip(a, b))


def test_deterministic_unit_norm(corpus):
    e1 = {r["doc_id"]: r["embedding"] for r in hashed_tfidf_embed(corpus).collect()}
    e2 = {r["doc_id"]: r["embedding"] for r in hashed_tfidf_embed(corpus).collect()}
    assert e1 == e2
    for v in e1.values():
        assert len(v) == 64
        assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-5)


def test_identical_docs_identical_vectors(corpus):
    e = {r["doc_id"]: r["embedding"] for r in hashed_tfidf_embed(corpus).collect()}
    assert e[0] == e[1]
    assert _cos(e[0], e[1]) == pytest.approx(1.0, rel=1e-5)


def test_cosine_orders_lexical_similarity(corpus):
    e = {r["doc_id"]: r["embedding"] for r in hashed_tfidf_embed(corpus).collect()}
    near = _cos(e[0], e[2])    # 4 shared informative terms
    far = _cos(e[0], e[3])     # disjoint vocab
    assert near > far + 0.2
    assert _cos(e[4], e[5]) > _cos(e[4], e[3]) + 0.2


def test_similar_documents_retrieval(corpus):
    hits = similar_documents(corpus, query_doc_id=0, k=3).collect()
    ids = [r["doc_id"] for r in hits]
    assert ids[0] == 1          # the exact duplicate is nearest
    assert 2 in ids[:2]         # the near neighbor next
    assert 3 not in ids         # the disjoint doc is not in top-3
    assert all(r["dist"] >= -1e-6 for r in hits)  # cosine distance >= 0


def test_missing_query_doc_raises(corpus):
    with pytest.raises(ValueError, match="not found"):
        similar_documents(corpus, query_doc_id=999)


@pytest.mark.parametrize("embed", ["hashed_tfidf_embed", "hashed_tfidf_sparse"])
def test_pinned_fan_out_keeps_wide_input_partitions(spark, embed):
    """The pinned repartition before the per-doc aggregate never narrows
    the input: with twice the default parallelism in, the
    RepartitionByExpression keeps the input's partition count, and the
    plan keeps its three exchanges (the term DF count, its broadcast and
    the pinned repartition)."""
    import re

    from vectordb_cloud_spark.functions import embedding

    wide = 2 * spark.sparkContext.defaultParallelism
    docs = spark.range(0, 64, numPartitions=wide).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("common word "), F.col("id").cast("string"))
        .alias("text"))
    qe = getattr(embedding, embed)(docs)._jdf.queryExecution()
    parts = re.findall(r"RepartitionByExpression \[[^\]]*\], (\d+)",
                       qe.analyzed().toString())
    assert parts == [str(wide)]
    assert qe.executedPlan().toString().count("Exchange ") == 3
