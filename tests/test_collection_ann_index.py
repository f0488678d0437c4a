"""Collection-attached ANN index (the hnsw_config slot): IVF or graph
config in meta, versioned ann.v{N} sidecar built lazily per committed
snapshot, search_ann serving through it. Same lifecycle contract as the
quantization sidecar (staleness rebuild, atomic publish, pruning)."""

import os

import pytest
from pyspark.sql import functions as F

from vectordb_cloud_spark.collections import CollectionCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return CollectionCatalog(spark, str(tmp_path / "collections"))


def _seed(catalog, spark, name, ann_index, n=500, dim=8):
    # pin the conf the KMeans build is sensitive to: the session is shared
    # across the suite and another test's conf change can shift the
    # aggregation layout enough to move centroids (observed: the partial-
    # probe recall below wobbling 4-6/10 in full-suite runs only)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    catalog.create(name, dim=dim, ann_index=ann_index)
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


def _exact(catalog, name, qv, k, predicate=None):
    from vectordb_cloud_spark.operators.knn import knn_search

    pts = catalog.read(name)
    if predicate is not None:
        pts = pts.filter(predicate)
    return [r["id"] for r in
            knn_search(pts, qv, k=k, tiebreak="id").select("id").collect()]


def test_ivf_index_config_full_probe_exact(catalog, spark):
    # nprobe == k_centroids: the pruned search degenerates to brute force,
    # pinning the whole pipeline's arithmetic
    _seed(catalog, spark, "c", {"ivf": {"k_centroids": 4, "nprobe": 4}})
    qv = [0.1] * 8
    got = catalog.search_ann("c", qv, k=10)
    assert got.columns == ["id", "dist"]
    assert [r["id"] for r in got.collect()] == _exact(catalog, "c", qv, 10)


def test_ivf_partial_probe_recall_and_filters(catalog, spark):
    """The partial probe is EXACT within its probed inverted lists: replay
    the centroid routing from the sidecar's params and require search_ann
    to equal a brute-force top-k restricted to the probed partitions.
    (A fixed recall-vs-global-exact threshold proved flaky — uniform-
    random data + KMeans outcomes that shift with the shared session's
    file/partition layout wobbled the overlap 3-6/10 across full-suite
    runs; exactness-within-probes is deterministic AND a stronger claim.
    Production-shaped recall is gated in test_recall_report.py.)"""
    import json

    from vectordb_cloud_spark.operators.ann import route_probe_ids
    from vectordb_cloud_spark.operators.knn import knn_search

    _seed(catalog, spark, "c", {"ivf": {"k_centroids": 8, "nprobe": 4}})
    qv = [0.1] * 8
    got = [(r["id"], round(r["dist"], 9)) for r in
           catalog.search_ann("c", qv, k=10).collect()]
    adir = catalog._sidecar_dir("c", "ann", catalog.meta("c").version)
    with open(os.path.join(adir, "params.json")) as f:
        centers = [(int(i), list(c)) for i, c in json.load(f)["centers"]]
    probe = route_probe_ids(centers, qv, 4)
    layout = spark.read.parquet(os.path.join(adir, "ivf"))
    want_df = knn_search(layout.filter(F.col("centroid_id").isin(probe)),
                         qv, k=10, tiebreak="id")
    want = [(r["id"], round(r["dist"], 9)) for r in want_df.collect()]
    assert got == want
    # sanity: the probe really pruned (some exact-global hits missing is
    # the expected lossy-ANN behavior, not an error) and overlap is nonzero
    exact = _exact(catalog, "c", qv, 10)
    assert len(set(i for i, _ in got) & set(exact)) >= 1
    pred = F.col("user_id") == 1
    flt = [r["id"] for r in
           catalog.search_ann("c", qv, k=5, predicate=pred).collect()]
    assert flt and all(i % 4 == 1 for i in flt)


def test_graph_index_config(catalog, spark):
    _seed(catalog, spark, "g", {"graph": {"degree": 8, "beam": 32}}, n=300)
    qv = [0.1] * 8
    got = [r["id"] for r in catalog.search_ann("g", qv, k=10).collect()]
    exact = _exact(catalog, "g", qv, 10)
    assert len(set(got) & set(exact)) >= 5  # beam search on a tiny corpus


def test_graph_selective_filter_full_scan_fallback(catalog, spark):
    """r13 planner rule through the catalog (VERDICT r12 #3): a selective
    predicate on a GRAPH-indexed collection serves the exact filtered
    top-k (full_scan_threshold adaptive probe) instead of post-filtered
    navigation; a tiny configured threshold restores the post-filter
    path. Qdrant's filterable-HNSW planner makes the same switch."""
    _seed(catalog, spark, "g", {"graph": {"degree": 8, "beam": 16,
                                          "max_hops": 3}}, n=500)
    qv = [0.1] * 8
    pred = F.pmod(F.col("id"), F.lit(50)) == 0  # 10 of 500 match
    got = [(r["id"], round(r["dist"], 9)) for r in
           catalog.search_ann("g", qv, k=5, predicate=pred).collect()]
    from vectordb_cloud_spark.operators.knn import knn_search

    want = [(r["id"], round(r["dist"], 9)) for r in
            knn_search(catalog.read("g").filter(pred), qv, k=5,
                       tiebreak="id").select("id", "dist").collect()]
    assert got == want  # exact under the default 10k threshold
    # config knob: threshold below the match count -> post-filter path
    # (may return fewer/worse matches, but only matching ids)
    catalog.create("g2", dim=8,
                   ann_index={"graph": {"degree": 8, "beam": 16,
                                        "max_hops": 3,
                                        "full_scan_threshold": 4}})
    rows = catalog.read("g").select("id", "embedding", "text", "user_id")
    catalog.upsert("g2", rows)
    got2 = [r["id"] for r in
            catalog.search_ann("g2", qv, k=5, predicate=pred).collect()]
    assert all(i % 50 == 0 for i in got2)
    import json as _json

    adir = catalog.build_ann_index("g2")
    with open(os.path.join(adir, "params.json")) as f:
        params = _json.load(f)
    assert params["full_scan_threshold"] == 4
    # ADVICE r13: the build-time corpus count rides the sidecar so the
    # filtered planner never re-scans for the snapshot-invariant N
    assert params["n_total"] == 500


def test_ann_sidecar_lazy_rebuild_and_pruning(catalog, spark):
    _seed(catalog, spark, "c", {"ivf": {"k_centroids": 4, "nprobe": 4}})
    qv = [0.1] * 8
    catalog.search_ann("c", qv, k=5)
    v1 = catalog.meta("c").version
    assert os.path.isdir(catalog._sidecar_dir("c", "ann", v1))
    catalog.delete_where("c", F.col("id") < 100)
    got = [r["id"] for r in catalog.search_ann("c", qv, k=5).collect()]
    assert all(i >= 100 for i in got)
    v2 = catalog.meta("c").version
    assert os.path.isdir(catalog._sidecar_dir("c", "ann", v2))
    assert not os.path.isdir(catalog._sidecar_dir("c", "ann", v1))


def test_ann_config_guards_and_service(catalog, spark, tmp_path):
    with pytest.raises(ValueError, match="ann_index"):
        catalog.create("bad", dim=4, ann_index={"hnsw": {}})
    _seed(catalog, spark, "c", {"ivf": {"k_centroids": 4, "nprobe": 4}})
    info = catalog.collection_info("c")
    assert info["config"]["ann_index"] == {"ivf": {"k_centroids": 4, "nprobe": 4}}
    catalog.create_from("c2", "c")
    assert catalog.meta("c2").ann_index == {"ivf": {"k_centroids": 4, "nprobe": 4}}

    from vectordb_cloud_spark.api import VectorService

    svc = VectorService(spark, str(tmp_path / "cat"), dim=16,
                        ann_index={"ivf": {"k_centroids": 2, "nprobe": 2}})
    svc.insert_batch([{"id": i, "user_id": 3, "text": f"topic {i}",
                       "site": "s", "lang": "en"} for i in range(20)])
    exact = [r["id"] for r in svc.search(3, "topic 4", limit=5).collect()]
    got = [r["id"] for r in
           svc.search(3, "topic 4", limit=5, exact=False).collect()]
    assert got == exact  # full probe == exact, through the service


def test_ivf_sq_composed_when_both_configs(catalog, spark):
    """ann_index ivf + scalar quantization -> the composed IVF×SQ sidecar:
    full probe + generous oversample must reproduce exact brute force."""
    import os

    catalog.create("x", dim=8,
                   ann_index={"ivf": {"k_centroids": 4, "nprobe": 4,
                                      "oversample": 8}},
                   quantization={"scalar": {"type": "int8"}})
    rows = (
        spark.range(400)
        .select(
            F.col("id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) - 500.0) / 500.0,
            ).cast("array<float>").alias("embedding"),
            F.concat(F.lit("doc "), F.col("id")).alias("text"),
            (F.col("id") % 4).alias("user_id"),
        )
    )
    catalog.upsert("x", rows)
    qv = [0.1] * 8
    adir = catalog.build_ann_index("x")
    assert os.path.isdir(os.path.join(adir, "ivf_sq"))
    got = [r["id"] for r in catalog.search_ann("x", qv, k=10).collect()]
    assert got == _exact(catalog, "x", qv, 10)


def test_ivf_sq_small_tenant_filter_not_starved(catalog, spark):
    """Regression (review finding): the composed IVF×SQ sidecar keeps
    payload columns, so a selective tenant predicate prunes the CANDIDATE
    scan — a small tenant gets its own top-k, not scraps of the global
    candidate set."""
    catalog.create("x", dim=8,
                   ann_index={"ivf": {"k_centroids": 4, "nprobe": 4,
                                      "oversample": 4}},
                   quantization={"scalar": {"type": "int8"}})
    rows = (
        spark.range(2000)
        .select(
            F.col("id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) - 500.0) / 500.0,
            ).cast("array<float>").alias("embedding"),
            F.concat(F.lit("doc "), F.col("id")).alias("text"),
            (F.col("id") % 100).alias("user_id"),  # 100 tenants of 20 rows
        )
    )
    catalog.upsert("x", rows)
    qv = [0.1] * 8
    pred = F.col("user_id") == 42
    got = [r["id"] for r in
           catalog.search_ann("x", qv, k=5, predicate=pred).collect()]
    exact = _exact(catalog, "x", qv, 5, predicate=pred)
    assert got == exact  # full probe + tenant-pruned candidates == exact


def test_graph_index_coarse_sample_seeding(catalog, spark):
    """r11: the graph sidecar persists a deterministic mod-sample table
    beside the adjacency, and search seeds each query from its nearest
    sample members instead of the global medoids (the 1M-row navigability
    fix, through the collection lifecycle). Fallback: an empty stratum /
    a legacy sidecar without the table keeps the medoid seeds."""
    import shutil

    _seed(catalog, spark, "gc", {"graph": {"degree": 8, "beam": 32,
                                           "coarse_mod": 7, "n_entry": 4}},
          n=300)
    qv = [0.1] * 8
    got = [r["id"] for r in catalog.search_ann("gc", qv, k=10).collect()]
    exact = _exact(catalog, "gc", qv, 10)
    assert len(set(got) & set(exact)) >= 5
    adir = catalog._sidecar_dir("gc", "ann", catalog.meta("gc").version)
    cdir = os.path.join(adir, "coarse_sample")
    assert os.path.isdir(cdir)
    ids = [r["id"] for r in spark.read.parquet(cdir).collect()]
    assert ids and all(i % 7 == 0 for i in ids)
    # legacy sidecar (no sample table): search still serves via medoids
    shutil.rmtree(cdir)
    got2 = [r["id"] for r in catalog.search_ann("gc", qv, k=10).collect()]
    assert len(got2) == 10


def _graph_params(catalog, name):
    import json as _json

    adir = catalog._sidecar_dir(name, "ann", catalog.meta(name).version)
    with open(os.path.join(adir, "params.json")) as f:
        return adir, _json.load(f)


def test_graph_sidecar_incremental_append(catalog, spark):
    """r14 (VERDICT r13 #3): a write to a graph-indexed collection no
    longer forces a full sidecar rebuild — the next search appends the
    write's delta through the PERSISTED blocking (knn_graph_append),
    refreshes the coarse-sample stratum, and search finds the new
    vectors. appended_rows > 0 is the incremental path's signature
    (a full rebuild resets it to 0)."""
    _seed(catalog, spark, "gi", {"graph": {"degree": 8, "beam": 16,
                                           "max_hops": 3}}, n=400)
    qv = [0.1] * 8
    catalog.search_ann("gi", qv, k=5)  # builds the v1 sidecar
    adir1, p1 = _graph_params(catalog, "gi")
    assert p1["appended_rows"] == 0 and p1["full_build_n"] == 400
    assert os.path.isfile(os.path.join(adir1, "blocking.json"))
    # append 20 NEW points cloning existing vectors (ids 400..419 copy
    # ids 0..19's embeddings), so each new point has exact-dup neighbors
    base = catalog.read("gi").drop("__bucket")
    clones = base.filter(F.col("id") < 20).select(
        (F.col("id") + 400).alias("id"), "embedding", "text", "user_id")
    catalog.upsert("gi", clones)
    tgt = [float(x) for x in
           base.filter(F.col("id") == 5).first()["embedding"]]
    got = [r["id"] for r in catalog.search_ann("gi", tgt, k=5).collect()]
    adir2, p2 = _graph_params(catalog, "gi")
    assert p2["appended_rows"] == 20  # incremental, not a rebuild
    assert p2["full_build_n"] == 400 and p2["n_total"] == 420
    assert p2["entry_ids"] == p1["entry_ids"]  # carried, not refit
    assert 405 in got and 5 in got  # the appended clone is navigable
    # recall against exact stays reasonable after the append
    exact = _exact(catalog, "gi", qv, 10)
    got_q = [r["id"] for r in catalog.search_ann("gi", qv, k=10).collect()]
    assert len(set(got_q) & set(exact)) >= 5
    # coarse sample stratum refreshed incrementally: new ids at
    # id % coarse_mod == 0 joined the sample
    cdir = os.path.join(adir2, "coarse_sample")
    ids = {r["id"] for r in spark.read.parquet(cdir).collect()}
    assert all(i % 31 == 0 for i in ids)
    assert ids & {403 + 31 * 0} or 403 not in ids  # 403 % 31 == 0
    assert {i for i in range(400, 420) if i % 31 == 0} <= ids


def test_graph_sidecar_incremental_update_and_delete(catalog, spark):
    """Changed vectors ride the append path (old edges dropped, node
    re-linked); small deletes ride it too (r14: edges/routing/sample
    rows pruned, no rebuild — HNSW's tombstone decay, bounded by the
    churn budget); a tiny incremental_budget forces the rebuild."""
    _seed(catalog, spark, "gu", {"graph": {"degree": 8, "beam": 16,
                                           "max_hops": 3}}, n=400)
    qv = [0.1] * 8
    catalog.search_ann("gu", qv, k=5)
    base = catalog.read("gu").drop("__bucket")
    # move id 7 onto id 200's exact vector: the re-link must make it an
    # exact-dup neighbor of 200 (a far-outlier move can legitimately be
    # dropped by the members' top-degree re-selection — HNSW's own
    # reachability decay — so the test moves WITHIN the data)
    tgt = [float(x) for x in
           base.filter(F.col("id") == 200).first()["embedding"]]
    moved = base.filter(F.col("id") == 7).select(
        "id", F.array(*[F.lit(x) for x in tgt]).cast("array<float>")
        .alias("embedding"), "text", "user_id")
    catalog.upsert("gu", moved)
    got = {r["id"]: r["dist"] for r in
           catalog.search_ann("gu", tgt, k=5).collect()}
    _, p2 = _graph_params(catalog, "gu")
    assert p2["appended_rows"] == 1  # one changed id, append path
    assert got.get(200, 1.0) < 1e-6
    assert got.get(7, 1.0) < 1e-6  # the moved node re-linked + navigable
    # small delete -> INCREMENTAL (r14): edges pruned, params carried,
    # the deleted id can never surface (base-table probes skip it)
    catalog.delete_where("gu", F.col("id") == 399)
    got399 = [r["id"] for r in catalog.search_ann(
        "gu", [0.1] * 8, k=10).collect()]
    _, p3 = _graph_params(catalog, "gu")
    assert p3["deleted_rows"] == 1 and p3["appended_rows"] == 1
    assert p3["full_build_n"] == 400  # no rebuild happened
    assert p3["n_total"] == 399  # caller recounts the live snapshot
    assert 399 not in got399
    adir3, _ = _graph_params(catalog, "gu")
    adj = spark.read.parquet(os.path.join(adir3, "graph"))
    assert adj.filter((F.col("src") == 399) | (F.col("dst") == 399)) \
        .count() == 0  # edges pruned on both endpoints
    # budget opt-out: a collection configured with a zero budget always
    # rebuilds (appended_rows stays 0)
    catalog.create("gb", dim=8, ann_index={"graph": {
        "degree": 8, "beam": 16, "max_hops": 3, "incremental_budget": 0}})
    rows = catalog.read("gu").drop("__bucket")
    catalog.upsert("gb", rows)
    catalog.search_ann("gb", qv, k=5)
    clones = rows.filter(F.col("id") < 5).select(
        (F.col("id") + 1000).alias("id"), "embedding", "text", "user_id")
    catalog.upsert("gb", clones)
    catalog.search_ann("gb", qv, k=5)
    _, pb = _graph_params(catalog, "gb")
    assert pb["appended_rows"] == 0


def test_ivf_filtered_sample_audit_catches_correlated_filter(catalog, spark):
    """r14 (VERDICT r13 #5): the sample audit, IVF edition. A filter
    selecting a whole far-away cluster (geometry-correlated) has its
    matching set OUTSIDE the probed centroid at nprobe=1, so the raw
    pushed-down search comes back starved; the audit's 1/mod matching
    scan detects the miss and upgrades the query to the exact filtered
    top-k. audit_sample_mod=None restores the raw behavior (proving the
    audit is the thing that fixed it)."""
    from vectordb_cloud_spark.operators.knn import knn_search

    spark.conf.set("spark.sql.shuffle.partitions", "32")
    center = F.when(F.col("id") < 500, F.lit(0.5)).otherwise(F.lit(-0.8))
    rows = spark.range(600).select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: center
            + (F.pmod(F.xxhash64(F.col("id"), i), F.lit(200)) - 100.0)
            / 1000.0,
        ).cast("array<float>").alias("embedding"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
        (F.col("id") % 4).alias("user_id"),
    )
    catalog.create("iva", dim=8, ann_index={"ivf": {
        "k_centroids": 4, "nprobe": 1, "full_scan_threshold": 4}})
    catalog.upsert("iva", rows)
    qv = [0.5] * 8
    pred = F.col("id") >= 500  # 100 matches > fst=4, ALL in the far cluster
    got = [(r["id"], round(r["dist"], 9)) for r in
           catalog.search_ann("iva", qv, k=5, predicate=pred).collect()]
    want = [(r["id"], round(r["dist"], 9)) for r in
            knn_search(catalog.read("iva").filter(pred), qv, k=5,
                       tiebreak="id").select("id", "dist").collect()]
    assert got == want  # audit upgraded the starved probe to exact
    # audit disabled: the raw pushed-down probe misses the matching
    # cluster entirely (the failure mode the audit exists for)
    catalog.create("ivn", dim=8, ann_index={"ivf": {
        "k_centroids": 4, "nprobe": 1, "full_scan_threshold": 4,
        "audit_sample_mod": None}})
    catalog.upsert("ivn", rows)
    raw = catalog.search_ann("ivn", qv, k=5, predicate=pred).collect()
    assert len(raw) < 5


def test_early_stop_oracle_replay(spark, sf_dir, tmp_path):
    """The collection_ann_incremental_topk oracle replays
    graph_beam_search's driver loop INCLUDING its early-stop branches
    (queries._gann_oracle_sql gates each hop on the prior hop's
    frontier-nonempty AND improved flags). The registry fixture's dials
    happen to run all hops, so this test pins the gates at dials where
    the loop measurably STOPS: the gated SQL must match search_ann
    exactly, and the UNGATED fixed-hop unroll must differ — proving the
    gates are load-bearing, not decorative. The sidecar under test went
    through an incremental write epoch (same shape as the registry
    fixture)."""
    import json as _json

    import duckdb

    from vectordb_cloud_spark import queries as qmod

    spark.conf.set("spark.sql.shuffle.partitions", "32")
    cat = CollectionCatalog(spark, str(tmp_path / "gstop"))
    cat.create("g", dim=64, n_buckets=4,
               ann_index={"graph": {"degree": 4, "beam": 4,
                                    "max_hops": 8, "n_entry": 2}})
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pts = emb.select(F.col("vec_id").alias("id"), "embedding",
                     (F.col("vec_id") % 50).alias("user_id"))
    cat.upsert("g", pts.filter(F.col("id") % 10 != 0))
    cat.build_ann_index("g")
    cat.upsert("g", pts.filter(F.col("id") % 10 == 0))
    adir = cat.build_ann_index("g")
    with open(os.path.join(adir, "params.json")) as f:
        params = _json.load(f)
    assert params["appended_rows"] > 0  # the incremental epoch engaged
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')")
    vecs = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in emb.filter(F.col("vec_id") < 15).collect()}
    # which query trips the early stop in a result-visible way depends on
    # the built graph (environment-sensitive), so probe ids until one
    # shows the gate is load-bearing — asserting the gated replay matches
    # search_ann on EVERY probed id along the way
    gate_mattered = False
    for qid in sorted(vecs):
        got = [(int(r["id"]), float(r["dist"]))
               for r in cat.search_ann("g", vecs[qid], k=10).collect()]
        kw = dict(adj_glob=os.path.join(adir, "graph", "*.parquet"),
                  cs_glob=os.path.join(adir, "coarse_sample", "*.parquet"),
                  beam=4, max_hops=8, n_entry=2,
                  query_where=f"vec_id = {qid}")
        gated = [(int(i), float(d)) for i, d in
                 con.execute(qmod._gann_oracle_sql(**kw)).fetchall()]
        assert [i for i, _ in gated] == [i for i, _ in got], f"qid={qid}"
        assert all(abs(dg - round(ds, 6)) < 1e-9
                   for (_, ds), (_, dg) in zip(got, gated)), f"qid={qid}"
        ungated = [(int(i), float(d)) for i, d in
                   con.execute(qmod._gann_oracle_sql(gated=False, **kw))
                   .fetchall()]
        if ungated != gated:
            gate_mattered = True  # the fixed-hop unroll diverged: the
            break                 # stop branches changed this answer
    # if NO probed query distinguishes gated from ungated, the dials no
    # longer exercise the early stop and the test has gone vacuous
    assert gate_mattered


def test_ivf_sidecar_incremental_append(catalog, spark):
    """r14: the IVF twin of the graph incremental path — a pure-append
    write epoch keeps the trained centroids and routes only the delta
    (ivf_append into a hardlinked layout copy), no KMeans refit, no
    rewrite of existing inverted-list files. At nprobe == k_centroids
    the pruned search degenerates to brute force, so post-append search
    must equal exact over the grown corpus — the appended rows are in
    the layout and nothing was lost."""
    _seed(catalog, spark, "ia", {"ivf": {"k_centroids": 4, "nprobe": 4}},
          n=400)
    qv = [0.1] * 8
    catalog.search_ann("ia", qv, k=5)  # builds the v1 sidecar
    adir1, p1 = _graph_params(catalog, "ia")
    assert p1["kind"] == "ivf" and p1.get("appended_rows", 0) == 0
    old_layout = {
        d: set(os.listdir(os.path.join(adir1, "ivf", d)))
        for d in os.listdir(os.path.join(adir1, "ivf"))
        if d.startswith("centroid_id=")
    }
    base = catalog.read("ia").drop("__bucket")
    clones = base.filter(F.col("id") < 20).select(
        (F.col("id") + 400).alias("id"), "embedding", "text", "user_id")
    catalog.upsert("ia", clones)
    tgt = [float(x) for x in
           base.filter(F.col("id") == 5).first()["embedding"]]
    got = [r["id"] for r in catalog.search_ann("ia", tgt, k=5).collect()]
    adir2, p2 = _graph_params(catalog, "ia")
    assert p2["appended_rows"] == 20  # incremental, not a rebuild
    assert p2["centers"] == p1["centers"]  # kept, not refit
    assert 405 in got and 5 in got  # the appended clone is served
    # full probe == exact over the grown corpus: nothing lost, nothing
    # stale
    got_q = [r["id"] for r in catalog.search_ann("ia", qv, k=10).collect()]
    assert got_q == _exact(catalog, "ia", qv, 10)
    # every OLD inverted-list file survives byte-identical (hardlinked),
    # the delta only ADDED files
    for d, files in old_layout.items():
        assert files <= set(os.listdir(os.path.join(adir2, "ivf", d)))


def test_ivf_sidecar_incremental_fallbacks(catalog, spark):
    """In-place updates, deletes, and drift past incremental_budget all
    fall back to the full rebuild (immutable inverted-list files would
    hold stale rows; centroids drift as data grows)."""
    _seed(catalog, spark, "iu", {"ivf": {"k_centroids": 4, "nprobe": 4}},
          n=400)
    qv = [0.1] * 8
    catalog.search_ann("iu", qv, k=5)
    base = catalog.read("iu").drop("__bucket")
    # in-place vector update -> rebuild (appended_rows stays 0)
    tgt = [float(x) for x in
           base.filter(F.col("id") == 200).first()["embedding"]]
    moved = base.filter(F.col("id") == 7).select(
        "id", F.array(*[F.lit(x) for x in tgt]).cast("array<float>")
        .alias("embedding"), "text", "user_id")
    catalog.upsert("iu", moved)
    got = {r["id"]: r["dist"] for r in
           catalog.search_ann("iu", tgt, k=5).collect()}
    _, p2 = _graph_params(catalog, "iu")
    assert p2.get("appended_rows", 0) == 0  # rebuild, and correct:
    assert got.get(7, 1.0) < 1e-6  # the moved vector is served fresh
    # small delete -> TOMBSTONE (r14): layout files untouched, the id
    # anti-joined out at query time; full probe stays == exact over the
    # shrunk corpus
    tgt399 = [float(x) for x in
              catalog.read("iu").filter(F.col("id") == 399)
              .first()["embedding"]]
    catalog.delete_where("iu", F.col("id") == 399)
    got = [r["id"] for r in catalog.search_ann("iu", tgt399, k=5).collect()]
    adir3, p3 = _graph_params(catalog, "iu")
    assert p3["deleted_rows"] == 1
    assert p3.get("appended_rows", 0) == 0  # no appends this epoch
    assert 399 not in got
    assert got == _exact(catalog, "iu", tgt399, 5)
    assert os.path.isdir(os.path.join(adir3, "tombstones"))
    # re-insert brings the id back to life (tombstone subtracted)
    back = catalog.read("iu").drop("__bucket").filter(F.col("id") == 100) \
        .select(F.lit(399).alias("id"),
                F.array(*[F.lit(x) for x in tgt399]).cast("array<float>")
                .alias("embedding"), "text", "user_id")
    catalog.upsert("iu", back)
    got2 = [r["id"] for r in catalog.search_ann("iu", tgt399, k=3).collect()]
    _, p4 = _graph_params(catalog, "iu")
    assert p4["appended_rows"] == 1 and p4["deleted_rows"] == 1
    assert got2[0] == 399  # exact-match re-insert serves again
    # budget zero -> always rebuild
    catalog.create("ib", dim=8, ann_index={"ivf": {
        "k_centroids": 4, "nprobe": 4, "incremental_budget": 0}})
    rows = catalog.read("iu").drop("__bucket")
    catalog.upsert("ib", rows)
    catalog.search_ann("ib", qv, k=5)
    clones = rows.filter(F.col("id") < 5).select(
        (F.col("id") + 1000).alias("id"), "embedding", "text", "user_id")
    catalog.upsert("ib", clones)
    catalog.search_ann("ib", qv, k=5)
    _, pb = _graph_params(catalog, "ib")
    assert pb.get("appended_rows", 0) == 0


def test_ivf_sq_sidecar_incremental_append(catalog, spark):
    """The composed IVF×SQ layout appends too: the delta is encoded with
    the sidecar's FROZEN mins/maxs and routed through the kept
    centroids; the exact rescore serves appended points correctly even
    though their codes saturate at the old affine range's edges."""
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    catalog.create("isq", dim=8,
                   ann_index={"ivf": {"k_centroids": 4, "nprobe": 4}},
                   quantization={"scalar": {"type": "int8"}})
    rows = (
        spark.range(400)
        .select(
            F.col("id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000))
                           - 500.0) / 500.0,
            ).cast("array<float>").alias("embedding"),
            F.concat(F.lit("doc "), F.col("id")).alias("text"),
            (F.col("id") % 4).alias("user_id"),
        )
    )
    catalog.upsert("isq", rows)
    qv = [0.1] * 8
    catalog.search_ann("isq", qv, k=5)
    adir1, p1 = _graph_params(catalog, "isq")
    assert p1["kind"] == "ivf_sq"
    base = catalog.read("isq").drop("__bucket")
    clones = base.filter(F.col("id") < 20).select(
        (F.col("id") + 400).alias("id"), "embedding", "text", "user_id")
    catalog.upsert("isq", clones)
    tgt = [float(x) for x in
           base.filter(F.col("id") == 5).first()["embedding"]]
    got = [r["id"] for r in catalog.search_ann("isq", tgt, k=5).collect()]
    adir2, p2 = _graph_params(catalog, "isq")
    assert p2["appended_rows"] == 20
    assert p2["mins"] == p1["mins"] and p2["maxs"] == p1["maxs"]  # frozen
    assert 405 in got and 5 in got


def test_concurrent_lazy_builds_publish_one_sidecar(catalog, spark,
                                                    monkeypatch):
    """Two readers lazily building the same version's sidecar at once (the
    HTTP service's threadpool after a write) each build into a private
    stage; the first publish wins and the other serves the winner's dir —
    neither raises, and the published layout holds each row once."""
    import threading

    from vectordb_cloud_spark.operators import ann

    _seed(catalog, spark, "race", {"ivf": {"k_centroids": 4, "nprobe": 4}},
          n=40)
    barrier = threading.Barrier(2, timeout=300)
    real_build = ann.ivf_build

    def lined_up(*args, **kwargs):
        barrier.wait()  # both builders are past the freshness check
        return real_build(*args, **kwargs)

    monkeypatch.setattr(ann, "ivf_build", lined_up)
    dirs, errors = [], []

    def build():
        try:
            dirs.append(catalog.build_ann_index("race"))
        except Exception as e:  # reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(dirs) == 2 and dirs[0] == dirs[1]
    assert spark.read.parquet(os.path.join(dirs[0], "ivf")).count() == 40
    assert not [d for d in os.listdir(os.path.dirname(dirs[0]))
                if d.startswith("staging.")]
    qv = [0.1] * 8  # nprobe == k_centroids: the probe is exact
    got = [r["id"] for r in catalog.search_ann("race", qv, k=5).collect()]
    assert got == _exact(catalog, "race", qv, 5) and len(set(got)) == 5


def test_sidecar_rebuild_for_another_vector_column(catalog, spark):
    """One ann.v{N} dir serves one vector column: a search on another
    column replaces it at the same version, and the coarse-sample handle
    memoized under the replaced dir must go with it. Each answer equals
    a fresh catalog's over the same root."""
    def vec(seed):
        return F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: (F.pmod(F.xxhash64(F.col("id"), i, F.lit(seed)),
                              F.lit(1000)) - 500.0) / 500.0,
        ).cast("array<float>")

    catalog.create("nv", dim=8, vectors={"a": 8},
                   ann_index={"graph": {"degree": 8, "beam": 16,
                                        "coarse_mod": 3}})
    catalog.upsert("nv", spark.range(150).select(
        "id", vec(1).alias("embedding"), vec(2).alias("vec_a"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
        (F.col("id") % 4).alias("user_id")))
    qv = [0.1] * 8

    def top(cat, col):
        return [(r["id"], round(r["dist"], 9)) for r in
                cat.search_ann("nv", qv, k=5, vector_col=col).collect()]

    for col in ("embedding", "vec_a", "embedding"):
        got = top(catalog, col)
        assert len(got) == 5
        assert got == top(CollectionCatalog(spark, catalog.root), col)
