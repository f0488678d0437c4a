"""Named sparse vectors in collections (Qdrant sparse_vectors config):
paired sparse_{name}_indices/values columns validated on every write,
search_sparse = dot-product top-k with `using: <name>` semantics."""

import pytest
from pyspark.sql import functions as F

from vectordb_cloud_spark.collections import CollectionCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return CollectionCatalog(spark, str(tmp_path / "collections"))


def _rows(spark, rows):
    return spark.createDataFrame(
        rows,
        "id long, embedding array<float>, text string, user_id long, "
        "sparse_text_indices array<int>, sparse_text_values array<float>",
    )


def _seed(catalog, spark):
    catalog.create("c", dim=2, sparse_vectors={"text": {}})
    catalog.upsert("c", _rows(spark, [
        (1, [1.0, 0.0], "a", 0, [2, 7, 40], [1.0, 2.0, 0.5]),
        (2, [0.0, 1.0], "b", 0, [7, 13], [3.0, 1.0]),
        (3, [1.0, 1.0], "c", 1, [40, 99], [2.0, 2.0]),
        (4, [0.5, 0.5], "d", 1, None, None),  # point without the sparse vec
    ]))


def test_sparse_search_dot_topk(catalog, spark):
    _seed(catalog, spark)
    # query {7: 1.0, 40: 2.0}: doc1 = 2 + 1 = 3, doc2 = 3, doc3 = 4
    got = catalog.search_sparse("c", "text", [7, 40], [1.0, 2.0], k=3)
    rows = [(r["id"], r["score"]) for r in got.collect()]
    assert rows == [(3, 4.0), (1, 3.0), (2, 3.0)]
    # filtered
    flt = catalog.search_sparse("c", "text", [7, 40], [1.0, 2.0], k=3,
                                predicate=F.col("user_id") == 0)
    assert [r["id"] for r in flt.collect()] == [1, 2]
    with pytest.raises(ValueError, match="no sparse vector"):
        catalog.search_sparse("c", "image", [1], [1.0])


def test_sparse_index_sidecar_lifecycle(catalog, spark, tmp_path):
    """sparseidx.v{N}: an {"index": ...} sparse config routes
    search_sparse through the dim-bucketed inverted postings sidecar —
    same results as the scan path, lazy rebuild after a write moves the
    version, stale versions pruned (the quant.v/textidx lifecycle)."""
    import os

    catalog.create("c", dim=2, sparse_vectors={"text": {"index": {}}})
    catalog.upsert("c", _rows(spark, [
        (1, [1.0, 0.0], "a", 0, [2, 7, 40], [1.0, 2.0, 0.5]),
        (2, [0.0, 1.0], "b", 0, [7, 13], [3.0, 1.0]),
        (3, [1.0, 1.0], "c", 1, [40, 99], [2.0, 2.0]),
        (4, [0.5, 0.5], "d", 1, None, None),
    ]))
    got = catalog.search_sparse("c", "text", [7, 40], [1.0, 2.0], k=3)
    assert [(r["id"], r["score"]) for r in got.collect()] == \
        [(3, 4.0), (1, 3.0), (2, 3.0)]
    v = catalog.meta("c").version
    sdir = catalog._sidecar_dir("c", "sparseidx", v, "text")
    assert os.path.isdir(sdir)  # built lazily by the routed search
    # scan-path parity on the same collection (force the scan form)
    scan = catalog.search_sparse("c", "text", [7, 40], [1.0, 2.0], k=3,
                                 use_index=False)
    assert [(r["id"], r["score"]) for r in scan.collect()] == \
        [(3, 4.0), (1, 3.0), (2, 3.0)]
    # a predicate keeps the scan path (postings carry no payload)
    flt = catalog.search_sparse("c", "text", [7, 40], [1.0, 2.0], k=3,
                                predicate=F.col("user_id") == 0)
    assert [r["id"] for r in flt.collect()] == [1, 2]
    # write -> version advances -> sidecar rebuilt, stale one pruned,
    # the new point appears
    catalog.upsert("c", _rows(spark, [
        (5, [0.2, 0.2], "e", 0, [7], [10.0]),
    ]))
    got2 = catalog.search_sparse("c", "text", [7, 40], [1.0, 2.0], k=1)
    assert [(r["id"], r["score"]) for r in got2.collect()] == [(5, 10.0)]
    v2 = catalog.meta("c").version
    assert os.path.isdir(catalog._sidecar_dir("c", "sparseidx", v2, "text"))
    assert not os.path.isdir(sdir)  # old version pruned
    # config without "index" stays scan-path (no sidecar appears)
    catalog.create("p", dim=2, sparse_vectors={"text": {}})
    catalog.upsert("p", _rows(spark, [
        (1, [1.0, 0.0], "a", 0, [7], [1.0]),
    ]))
    catalog.search_sparse("p", "text", [7], [1.0], k=1).collect()
    assert not any(d.startswith("sparseidx.v")
                   for d in os.listdir(catalog._dir("p")))


def test_sparse_validation(catalog, spark):
    _seed(catalog, spark)
    # length mismatch
    with pytest.raises(ValueError, match="sparse vector invalid"):
        catalog.upsert("c", _rows(spark, [
            (9, [1.0, 0.0], "x", 0, [1, 2], [1.0])]))
    # unsorted indices
    with pytest.raises(ValueError, match="sparse vector invalid"):
        catalog.upsert("c", _rows(spark, [
            (9, [1.0, 0.0], "x", 0, [5, 2], [1.0, 1.0])]))
    # duplicate indices
    with pytest.raises(ValueError, match="sparse vector invalid"):
        catalog.upsert("c", _rows(spark, [
            (9, [1.0, 0.0], "x", 0, [2, 2], [1.0, 1.0])]))
    # one side null
    with pytest.raises(ValueError, match="sparse vector invalid"):
        catalog.upsert("c", _rows(spark, [
            (9, [1.0, 0.0], "x", 0, None, [1.0])]))


def test_sparse_config_carry_and_info(catalog, spark, tmp_path):
    _seed(catalog, spark)
    info = catalog.collection_info("c")
    assert info["config"]["params"]["sparse_vectors"] == {"text": {}}
    catalog.create_from("c2", "c")
    assert catalog.meta("c2").sparse_vectors == {"text": {}}
    assert catalog.search_sparse("c2", "text", [7], [1.0], k=5).count() == 2
    snap = catalog.snapshot("c", str(tmp_path / "snaps"))
    catalog.restore("c3", snap)
    assert catalog.meta("c3").sparse_vectors == {"text": {}}
    # retrieve prunes sparse columns unless with_vectors
    row = catalog.retrieve("c", [1]).first()
    assert "sparse_text_indices" not in row.asDict()
    row = catalog.retrieve("c", [1], with_vectors=True).first()
    assert list(row["sparse_text_indices"]) == [2, 7, 40]
