"""Collection-level quantization (Qdrant quantization_config): codes live
in a versioned sidecar materialized lazily per committed snapshot;
search_quantized serves int8 directly (near-lossless) and binary through
the hamming+rescore path. Staleness: a write bumps the data version, the
next quantized search rebuilds."""

import os

import pytest
from pyspark.sql import functions as F

from vectordb_cloud_spark.collections import CollectionCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return CollectionCatalog(spark, str(tmp_path / "collections"))


def _seed(catalog, spark, name, quantization, n=400, dim=8):
    catalog.create(name, dim=dim, quantization=quantization)
    rows = (
        spark.range(n)
        .select(
            F.col("id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) - 500.0) / 500.0,
            ).cast("array<float>").alias("embedding"),
            F.concat(F.lit("doc "), F.col("id")).alias("text"),
            (F.col("id") % 4).alias("user_id"),
        )
    )
    catalog.upsert(name, rows)
    return rows


def _exact_topk(catalog, name, qv, k, predicate=None):
    from vectordb_cloud_spark.operators.knn import knn_search

    pts = catalog.read(name)
    if predicate is not None:
        pts = pts.filter(predicate)
    return [r["id"] for r in
            knn_search(pts, qv, k=k, tiebreak="id").select("id").collect()]


def test_scalar_quantized_search_near_exact(catalog, spark):
    _seed(catalog, spark, "c", {"scalar": {"type": "int8"}})
    qv = [0.1] * 8
    got = [r["id"] for r in catalog.search_quantized("c", qv, k=10).collect()]
    exact = _exact_topk(catalog, "c", qv, 10)
    # int8 over an 8-dim fixture: allow one rank swap at the boundary
    assert len(set(got) & set(exact)) >= 9
    # with exact rescore the result matches brute force exactly
    rescored = [r["id"] for r in
                catalog.search_quantized("c", qv, k=10, rescore=True,
                                         oversampling=8).collect()]
    assert rescored == exact


def test_binary_quantized_search_rescore(catalog, spark):
    _seed(catalog, spark, "b", {"binary": {}}, dim=64)
    qv = [(((i * 37) % 100) - 50) / 50.0 for i in range(64)]
    got = [r["id"] for r in catalog.search_quantized("b", qv, k=10).collect()]
    exact = _exact_topk(catalog, "b", qv, 10)
    assert len(set(got) & set(exact)) >= 8  # recall floor at 48x oversample


def test_quantized_search_filtered(catalog, spark):
    _seed(catalog, spark, "c", {"scalar": {"type": "int8"}})
    qv = [0.1] * 8
    pred = F.col("user_id") == 2
    got = [r["id"] for r in
           catalog.search_quantized("c", qv, k=5, predicate=pred,
                                    rescore=True, oversampling=8).collect()]
    exact = _exact_topk(catalog, "c", qv, 5, predicate=pred)
    assert got == exact
    assert all(i % 4 == 2 for i in got)


def test_sidecar_lazy_rebuild_on_write(catalog, spark):
    _seed(catalog, spark, "c", {"scalar": {"type": "int8"}})
    qv = [0.1] * 8
    catalog.search_quantized("c", qv, k=5)
    v1 = catalog.meta("c").version
    assert os.path.isdir(catalog._sidecar_dir("c", "quant", v1))
    # a write moves the snapshot; the stale sidecar is replaced on next use
    catalog.delete_where("c", F.col("id") < 5)
    v2 = catalog.meta("c").version
    assert v2 > v1
    got = [r["id"] for r in catalog.search_quantized("c", qv, k=5).collect()]
    assert all(i >= 5 for i in got)
    assert os.path.isdir(catalog._sidecar_dir("c", "quant", v2))
    assert not os.path.isdir(catalog._sidecar_dir("c", "quant", v1))  # pruned


def test_quantization_config_guards_and_info(catalog, spark):
    with pytest.raises(ValueError, match="quantization"):
        catalog.create("bad", dim=4, quantization={"rotational": {}})
    with pytest.raises(ValueError, match="int8"):
        catalog.create("bad", dim=4, quantization={"scalar": {"type": "int4"}})
    _seed(catalog, spark, "c", {"scalar": {"type": "int8"}})
    info = catalog.collection_info("c")
    assert info["config"]["quantization_config"] == {"scalar": {"type": "int8"}}
    catalog.create("plain", dim=4)
    with pytest.raises(ValueError, match="no quantization"):
        catalog.search_quantized("plain", [0.0] * 4)


def test_quantization_survives_copy_and_snapshot(catalog, spark, tmp_path):
    _seed(catalog, spark, "c", {"binary": {}}, dim=64, n=100)
    catalog.create_from("c2", "c")
    assert catalog.meta("c2").quantization == {"binary": {}}
    snap = catalog.snapshot("c", str(tmp_path / "snaps"))
    catalog.restore("c3", snap)
    assert catalog.meta("c3").quantization == {"binary": {}}
    qv = [0.3] * 64
    assert catalog.search_quantized("c3", qv, k=5).count() == 5


def test_service_exact_false_routes_through_codes(spark, tmp_path):
    """Qdrant params.exact=false end-to-end: same hits as the exact path on
    a quantized service collection, reference response shape preserved."""
    from vectordb_cloud_spark.api import VectorService

    svc = VectorService(spark, str(tmp_path / "cat"), dim=16,
                        quantization={"scalar": {"type": "int8"}})
    assert svc.insert_batch([
        {"id": i, "user_id": 7, "text": f"document about topic {i}",
         "site": "s", "lang": "en"} for i in range(30)]) == 30
    exact = [r["id"] for r in svc.search(7, "topic 3", limit=5).collect()]
    approx = svc.search(7, "topic 3", limit=5, exact=False)
    assert approx.columns == ["id", "string", "score"]
    got = [r["id"] for r in approx.collect()]
    assert len(set(got) & set(exact)) >= 4  # int8 near-lossless
    # tenant isolation holds on the quantized path too
    assert svc.search(8, "topic", limit=5, exact=False).count() == 0
    # no quantization config -> exact=False silently stays exact (Qdrant)
    svc2 = VectorService(spark, str(tmp_path / "cat2"), dim=16)
    svc2.insert(id=1, user_id=7, text="hello world", site="s", lang="en")
    assert svc2.search(7, "hello", limit=5, exact=False).count() == 1


def test_product_quantized_search_rescore(catalog, spark):
    # x16 compression at dim 8 -> m = 2 one-byte codes per vector
    _seed(catalog, spark, "p", {"product": {"compression": "x16"}},
          n=300, dim=8)
    qv = [0.2] * 8
    got = [r["id"] for r in
           catalog.search_quantized("p", qv, k=10, oversampling=8).collect()]
    exact = _exact_topk(catalog, "p", qv, 10)
    assert len(set(got) & set(exact)) >= 7  # coarse codebooks + rescore
    info = catalog.collection_info("p")
    assert info["config"]["quantization_config"] == {"product": {"compression": "x16"}}
    with pytest.raises(ValueError, match="x4..x64"):
        catalog.create("badp", dim=8, quantization={"product": {"compression": "x3"}})
    with pytest.raises(ValueError, match="divisible"):
        catalog.create("badm", dim=8, quantization={"product": {"m": 3}})
        _seed2 = spark.range(10).select(
            F.col("id"),
            F.array(*[F.lit(0.1)] * 8).cast("array<float>").alias("embedding"),
            F.lit("t").alias("text"), F.lit(0).cast("long").alias("user_id"))
        catalog.upsert("badm", _seed2)
        catalog.quantize("badm")


def test_service_exact_false_on_empty_collection(spark, tmp_path):
    """Regression (review finding): exact=False on an empty quantized
    collection returns [] like the exact path, not a build error."""
    from vectordb_cloud_spark.api import VectorService

    svc = VectorService(spark, str(tmp_path / "cat"), dim=8,
                        quantization={"scalar": {"type": "int8"}})
    assert svc.search(1, "query", limit=5, exact=False).count() == 0
