"""Graph ANN (NSW-style kNN graph + beam search): structure, persistence,
and recall vs exact — the same gate the LSH/IVF/PQ families get."""

import pytest
from pyspark.sql import functions as F

from vectordb_cloud_spark.operators.ann import brute_force_topk, recall_at_k
from vectordb_cloud_spark.operators.graph_ann import (
    graph_beam_search,
    graph_widened_search,
    knn_graph_build,
    knn_graph_persist,
)
from vectordb_cloud_spark.operators.knn import planned_topk


@pytest.fixture(scope="module")
def graph(spark, embeddings):
    return knn_graph_build(embeddings, degree=8, refine_rounds=1).cache()


def _planned(points, graph, qv, k, filters, full_scan_threshold,
             audit_sample_mod=31, filtered_beam_cap=None, n_total=None,
             **nav):
    """Graph search behind the shared filtered-ANN planner, the way
    ``CollectionCatalog.search_ann`` serves a graph sidecar."""
    return planned_topk(
        points, filters, qv, k,
        lambda m: graph_widened_search(points, graph, qv, m, k=k,
                                       cap=filtered_beam_cap,
                                       n_total=n_total, filters=filters,
                                       **nav),
        full_scan_threshold, audit_sample_mod)


def test_graph_degree_bound_and_no_self_loops(graph, embeddings):
    n = embeddings.count()
    per_src = graph.groupBy("src").agg(F.count("*").alias("d")).collect()
    assert all(r["d"] <= 8 for r in per_src)
    assert len(per_src) > 0.9 * n  # LSH candidates cover ~every node
    assert graph.filter(F.col("src") == F.col("dst")).count() == 0


def test_refinement_round_does_not_worsen_edges(spark, embeddings):
    g0 = knn_graph_build(embeddings, degree=8, refine_rounds=0)
    g1 = knn_graph_build(embeddings, degree=8, refine_rounds=1)
    # NN-descent re-selects from a superset of candidates: the mean kept
    # edge distance can only improve (or tie) per node
    m0 = g0.agg(F.avg("dist")).first()[0]
    m1 = g1.agg(F.avg("dist")).first()[0]
    assert m1 <= m0 + 1e-9


def test_beam_search_recall_vs_exact(spark, embeddings, graph):
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = brute_force_topk(embeddings, qv, k=10)
    got = graph_beam_search(embeddings, graph, qv, k=10, beam=16, max_hops=4)
    assert got.count() == 10
    assert recall_at_k(got, exact, "vec_id") >= 0.6


def test_beam_search_over_persisted_graph(spark, embeddings, graph, tmp_path):
    path = str(tmp_path / "knn_graph")
    knn_graph_persist(graph, path)
    reloaded = spark.read.parquet(path)
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 3).first()["embedding"]]
    a = graph_beam_search(embeddings, graph, qv, k=5).collect()
    b = graph_beam_search(embeddings, reloaded, qv, k=5).collect()
    assert [(r["vec_id"], round(r["dist"], 9)) for r in a] == [
        (r["vec_id"], round(r["dist"], 9)) for r in b
    ]


def test_wider_beam_does_not_reduce_recall(spark, embeddings, graph):
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 7).first()["embedding"]]
    exact = brute_force_topk(embeddings, qv, k=10)
    narrow = graph_beam_search(embeddings, graph, qv, k=10, beam=4, max_hops=4)
    wide = graph_beam_search(embeddings, graph, qv, k=10, beam=32, max_hops=4)
    r_narrow = recall_at_k(narrow, exact, "vec_id")
    r_wide = recall_at_k(wide, exact, "vec_id")
    assert r_wide >= r_narrow


def test_graph_append_incremental(spark, embeddings):
    from vectordb_cloud_spark.operators.graph_ann import (
        knn_graph_append,
        knn_graph_build_sharded,
    )

    base = embeddings.filter(F.col("vec_id") < 400)
    new = embeddings.filter(F.col("vec_id") >= 400)
    g0, centers_multi = knn_graph_build_sharded(
        base, degree=8, refine_rounds=1, with_blocking=True)
    g0 = g0.cache()
    g1 = knn_graph_append(embeddings, new, g0, centers_multi, degree=8).cache()

    n_new = new.count()
    # every appended node got edges; degree bound holds everywhere
    new_srcs = {r["src"] for r in g1.select("src").distinct().collect()}
    appended = {r["vec_id"] for r in new.select("vec_id").collect()}
    assert len(appended & new_srcs) >= 0.9 * n_new
    per_src = g1.groupBy("src").agg(F.count("*").alias("d")).collect()
    assert all(r["d"] <= 8 for r in per_src)
    assert g1.filter(F.col("src") == F.col("dst")).count() == 0

    # beam search over the appended graph can reach appended nodes
    qv = [float(x) for x in new.limit(1).first()["embedding"]]
    got = graph_beam_search(embeddings, g1, qv, k=5, beam=16, max_hops=4)
    ids = [r["vec_id"] for r in got.collect()]
    assert any(i >= 400 for i in ids)

    # nodes in untouched blocks keep their exact edge lists
    from collections import Counter
    old_edges = Counter((r["src"], r["dst"]) for r in g0.collect())
    new_edges = Counter((r["src"], r["dst"]) for r in g1.collect())
    # old edges can only disappear on nodes that received incoming edges
    incoming = {s for (s, d) in new_edges if d >= 400 or s >= 400}
    for (s, d) in old_edges:
        if s not in incoming:
            assert (s, d) in new_edges


def test_graph_append_banded_fast_path_matches_reroute(spark, embeddings):
    """r14: appending through the PERSISTED (id, block) routing table
    (the builder's return_banded) must produce the identical adjacency
    to the legacy corpus re-route — the banded table IS the routing, just
    materialized."""
    from vectordb_cloud_spark.operators.graph_ann import (
        knn_graph_append,
        knn_graph_build_sharded,
    )

    base = embeddings.filter(F.col("vec_id") < 400)
    new = embeddings.filter(F.col("vec_id") >= 400)
    g0, blocking, banded = knn_graph_build_sharded(
        base, degree=8, refine_rounds=1, with_blocking=True,
        return_banded=True)
    g0, banded = g0.cache(), banded.cache()
    slow = knn_graph_append(embeddings, new, g0, blocking, degree=8)
    fast = knn_graph_append(embeddings, new, g0, blocking, degree=8,
                            banded=banded)
    want = {(r["src"], r["dst"], round(r["dist"], 9))
            for r in slow.collect()}
    got = {(r["src"], r["dst"], round(r["dist"], 9))
           for r in fast.collect()}
    assert got == want and got


def test_filtered_beam_search(spark, embeddings, graph):
    """Metadata predicate composes with graph search (reference's filtered
    search on the graph family): only matching ids come back, and against
    the filtered exact baseline the overlap is real."""
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = graph_beam_search(embeddings, graph, qv, k=5, beam=32, max_hops=6,
                            filters=F.col("label") == 2)
    rows = got.collect()
    labels = {
        r["label"]
        for r in embeddings.filter(
            F.col("vec_id").isin([x["vec_id"] for x in rows])
        ).collect()
    }
    assert labels <= {2}
    assert 0 < len(rows) <= 5
    exact = brute_force_topk(embeddings, qv, k=5, filters=F.col("label") == 2)
    assert recall_at_k(got, exact, "vec_id") >= 0.2


def test_full_scan_threshold_planner_crossover(spark, embeddings, graph):
    """The r13 planner rule (VERDICT r12 #3, Qdrant's full_scan_threshold):
    a filter matching at most `threshold` points is served by ONE exact
    adaptive probe — recall 1.0 by construction — while a denser filter
    keeps the navigate-then-post-filter path. Pins the crossover on both
    sides of the threshold."""
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    sparse_pred = F.pmod(F.col("vec_id"), F.lit(50)) == 0  # 10 of 500
    exact = brute_force_topk(embeddings, qv, k=5, filters=sparse_pred)
    planned = _planned(embeddings, graph, qv, k=5, beam=16,
                       max_hops=4, filters=sparse_pred,
                       full_scan_threshold=100)
    # below threshold: EXACT filtered top-k, ids and distances identical
    assert [(r["vec_id"], round(r["dist"], 9)) for r in planned.collect()] \
        == [(r["vec_id"], round(r["dist"], 9)) for r in exact.collect()]
    # above threshold (500 matches > 100): the probe declines and the
    # beam path serves — identical to the planner-less call (audit off
    # to pin the pure navigation parity; the audit may legitimately
    # upgrade an imperfect beam result to exact)
    dense_pred = F.col("vec_id") >= 0
    beam_only = graph_beam_search(embeddings, graph, qv, k=5, beam=16,
                                  max_hops=4, filters=dense_pred)
    planned_dense = _planned(embeddings, graph, qv, k=5, beam=16,
                             max_hops=4, filters=dense_pred,
                             full_scan_threshold=100,
                             audit_sample_mod=None)
    assert [r["vec_id"] for r in planned_dense.collect()] \
        == [r["vec_id"] for r in beam_only.collect()]
    # a filter matching NOTHING under the threshold returns empty, not
    # an error
    none_pred = F.col("vec_id") < 0
    assert _planned(embeddings, graph, qv, k=5, beam=16,
                    max_hops=4, filters=none_pred,
                    full_scan_threshold=100).count() == 0
    # middle band (matches > threshold, needed beam <= cap): navigation
    # runs with the beam WIDENED to 2kN/m — only matching ids return,
    # and recall against the filtered exact baseline holds where the
    # registry-beam post-filter collapses (RECALL.md r13 series)
    half_pred = F.pmod(F.col("vec_id"), F.lit(2)) == 0  # 250 of 500
    exact_half = brute_force_topk(embeddings, qv, k=5, filters=half_pred)
    widened = _planned(embeddings, graph, qv, k=5, beam=16,
                       max_hops=4, filters=half_pred,
                       full_scan_threshold=100)
    rows = widened.collect()
    assert len(rows) == 5 and all(r["vec_id"] % 2 == 0 for r in rows)
    assert recall_at_k(widened, exact_half, "vec_id") >= 0.6
    # needed beam above the cap: exact filtered top-k serves (identical
    # to brute force, not merely overlapping)
    capped = _planned(embeddings, graph, qv, k=5, beam=16,
                      max_hops=4, filters=half_pred,
                      full_scan_threshold=100,
                      filtered_beam_cap=8)
    assert [(r["vec_id"], round(r["dist"], 9)) for r in capped.collect()] \
        == [(r["vec_id"], round(r["dist"], 9)) for r in exact_half.collect()]


def test_planner_uses_supplied_n_total(spark, embeddings, graph):
    """ADVICE r13: callers with a persisted sidecar pass the build-time
    corpus count; the planner must USE it (not silently re-count). A
    correct n_total reproduces the counted plan; an inflated one pushes
    needed=2kN/m past the cap, flipping the middle band to exact."""
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    half_pred = F.pmod(F.col("vec_id"), F.lit(2)) == 0  # 250 of 500
    counted = _planned(embeddings, graph, qv, k=5, beam=16,
                       max_hops=4, filters=half_pred,
                       full_scan_threshold=100,
                       audit_sample_mod=None)
    supplied = _planned(embeddings, graph, qv, k=5, beam=16,
                        max_hops=4, filters=half_pred,
                        full_scan_threshold=100,
                        audit_sample_mod=None, n_total=500)
    assert [(r["vec_id"], round(r["dist"], 9)) for r in supplied.collect()] \
        == [(r["vec_id"], round(r["dist"], 9)) for r in counted.collect()]
    # inflated N: needed = 2*5*10^9/250 >> default cap -> exact path,
    # identical to brute force — proves n_total feeds the decision
    exact = brute_force_topk(embeddings, qv, k=5, filters=half_pred)
    inflated = _planned(embeddings, graph, qv, k=5, beam=16,
                        max_hops=4, filters=half_pred,
                        full_scan_threshold=100,
                        audit_sample_mod=None, n_total=10**9)
    assert [(r["vec_id"], round(r["dist"], 9)) for r in inflated.collect()] \
        == [(r["vec_id"], round(r["dist"], 9)) for r in exact.collect()]


def test_filtered_audit_catches_correlated_filter(spark):
    """The r13 sample audit: a filter selecting a region far from the
    query defeats distance-driven navigation (the graph has no cross
    links from the query's region to the matching one), but the
    matching-sample probe detects the miss and the exact filtered
    top-k serves instead. With the audit disabled the miss ships."""
    import numpy as np

    rows = []
    rng = np.random.RandomState(7)
    for i in range(200):  # cluster A near the origin — never matches
        rows.append((i, (rng.rand(8) * 0.5).tolist()))
    for i in range(200, 400):  # cluster B far away — all matches
        rows.append((i, (rng.rand(8) * 0.5 + 50.0).tolist()))
    pts = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    graph = knn_graph_build(pts, degree=6, refine_rounds=0)
    qv = [0.25] * 8  # inside cluster A
    pred = F.col("vec_id") >= 200  # 200 matches > threshold 50
    seeds = [0, 1, 2, 3]  # force navigation to start inside A
    exact = brute_force_topk(pts.filter(pred), qv, k=5)
    audited = _planned(pts, graph, qv, k=5, beam=16, max_hops=3,
                       filters=pred, entry_ids=seeds,
                       full_scan_threshold=50,
                       audit_sample_mod=5)
    assert [(r["vec_id"], round(r["dist"], 9)) for r in audited.collect()] \
        == [(r["vec_id"], round(r["dist"], 9)) for r in exact.collect()]
    # audit off: navigation never reaches cluster B (A's kNN edges stay
    # inside A), so the unaudited result misses some/all of the true
    # filtered top-k — the documented correlated failure
    raw = _planned(pts, graph, qv, k=5, beam=16, max_hops=3,
                   filters=pred, entry_ids=seeds,
                   full_scan_threshold=50, audit_sample_mod=None)
    got = [r["vec_id"] for r in raw.collect()]
    want = [r["vec_id"] for r in exact.collect()]
    assert got != want


def test_planner_zero_limit_on_graph_route(spark):
    """A zero limit through the navigated band (matches above the
    threshold) answers empty: the audit's k <= 0 guard covers the graph
    route too, which once indexed the worst of an empty result."""
    import numpy as np

    rng = np.random.RandomState(3)
    pts = spark.createDataFrame(
        [(i, rng.rand(8).tolist()) for i in range(60)],
        "vec_id long, embedding array<double>")
    graph = knn_graph_build(pts, degree=6, refine_rounds=0)
    qv = [0.5] * 8
    pred = F.col("vec_id") >= 0  # 60 matches > threshold 1
    assert _planned(pts, graph, qv, k=0, filters=pred,
                    full_scan_threshold=1).collect() == []
    assert _planned(pts, graph, qv, k=3, filters=pred,
                    full_scan_threshold=1).count() == 3


def test_filtered_beam_search_matches_unfiltered_when_filter_is_true(
        spark, embeddings, graph):
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 7).first()["embedding"]]
    a = graph_beam_search(embeddings, graph, qv, k=5).collect()
    b = graph_beam_search(embeddings, graph, qv, k=5,
                          filters=F.lit(True)).collect()
    assert [(r["vec_id"], round(r["dist"], 9)) for r in a] == [
        (r["vec_id"], round(r["dist"], 9)) for r in b
    ]


def test_explicit_empty_entry_ids_returns_empty(spark, embeddings, graph):
    """entry_ids=[] means 'nowhere to start' (e.g. a filtered entry
    selection matched nothing) and returns the empty frame; only
    entry_ids=None falls back to the default smallest-id seeds
    (ADVICE r9)."""
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = graph_beam_search(embeddings, graph, qv, k=5, entry_ids=[])
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["vec_id", "dist"]
    fallback = graph_beam_search(embeddings, graph, qv, k=5, entry_ids=None)
    assert fallback.count() > 0


def test_graph_knn_join_batch_recall(spark, embeddings, graph):
    """Batch beam search: k rows per query, exact distances, recall vs the
    per-query exact baseline — the graph twin of ivf_knn_join's gate."""
    from vectordb_cloud_spark.operators.graph_ann import graph_knn_join

    queries = embeddings.filter(F.col("vec_id").isin([0, 7, 42])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = graph_knn_join(embeddings, graph, queries, k=5, beam=16, max_hops=4)
    rows = got.collect()
    assert len(rows) == 15  # 5 per query
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 7, 42}
    total_recall = 0.0
    for qid, hits in per_q.items():
        qv = [float(x) for x in
              embeddings.filter(F.col("vec_id") == qid).first()["embedding"]]
        exact = brute_force_topk(embeddings, qv, k=5)
        approx = spark.createDataFrame(
            [(r["vec_id"],) for r in hits], "vec_id long")
        total_recall += recall_at_k(approx, exact, "vec_id")
        # distances are exact L2 (each query finds itself at dist 0)
        assert min(r["dist"] for r in hits) < 1e-9
    assert total_recall / 3 >= 0.6


def test_graph_knn_join_matches_reasonable_single_query(spark, embeddings,
                                                        graph):
    """Single-query beam search and the batch join explore the same graph
    with the same parameters; their result sets should overlap heavily
    (not required identical: the driver loop early-stops, the batch form
    runs fixed hops)."""
    from vectordb_cloud_spark.operators.graph_ann import graph_knn_join

    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 7).first()["embedding"]]
    single = {r["vec_id"] for r in graph_beam_search(
        embeddings, graph, qv, k=10, beam=16, max_hops=4).collect()}
    queries = embeddings.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), "embedding")
    batch = {r["vec_id"] for r in graph_knn_join(
        embeddings, graph, queries, k=10, beam=16, max_hops=4).collect()}
    assert len(single & batch) >= 7


def test_sharded_build_parity_and_shards_engaged(spark, embeddings, graph):
    """knn_graph_build_sharded with the shard term FORCED on (max_cells
    small enough that n/block_rows exceeds it) must reach recall parity
    with the unsharded build — the NN-descent rounds repair the coarser
    shard-sliced init (VERDICT r6 #3's done-criterion)."""
    from vectordb_cloud_spark.operators.graph_ann import (
        graph_knn_join,
        knn_graph_build_sharded,
    )

    g_s, (centers_multi, n_shards, salts) = knn_graph_build_sharded(
        embeddings, degree=8, refine_rounds=2, max_cells=2,
        with_blocking=True,
    )
    assert n_shards >= 2  # the shard term actually engaged
    assert len(salts) == len(centers_multi)
    # degree bound + no self loops, same structural contract as unsharded
    assert g_s.filter(F.col("src") == F.col("dst")).count() == 0
    assert g_s.groupBy("src").count().agg(F.max("count")).first()[0] <= 8

    qids = [0, 7, 42, 99, 123]
    queries = embeddings.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def mean_recall(g):
        got = graph_knn_join(embeddings, g, queries, k=10, beam=16,
                             max_hops=4).collect()
        per_q = {}
        for r in got:
            per_q.setdefault(r["query_id"], set()).add(r["vec_id"])
        tot = 0.0
        for qid in qids:
            qv = [float(x) for x in embeddings.filter(
                F.col("vec_id") == qid).first()["embedding"]]
            exact = {r["vec_id"]
                     for r in brute_force_topk(embeddings, qv, k=10).collect()}
            tot += len(exact & per_q.get(qid, set())) / 10
        return tot / len(qids)

    r_unsharded = mean_recall(graph)
    r_sharded = mean_recall(g_s)
    assert r_sharded >= r_unsharded - 0.1  # parity within small-corpus noise


def test_sharded_degenerates_to_single_shard_when_small(spark, embeddings):
    """Default max_cells at this corpus size needs no shard term at all."""
    from vectordb_cloud_spark.operators.graph_ann import knn_graph_build_sharded

    _, (_, n_shards, _) = knn_graph_build_sharded(
        embeddings, degree=4, refine_rounds=0, with_blocking=True
    )
    assert n_shards == 1


def test_sharded_build_deterministic(spark, embeddings):
    from vectordb_cloud_spark.operators.graph_ann import knn_graph_build_sharded

    a = knn_graph_build_sharded(embeddings, degree=4, refine_rounds=1,
                                max_cells=2)
    b = knn_graph_build_sharded(embeddings, degree=4, refine_rounds=1,
                                max_cells=2)
    ea = sorted((r["src"], r["dst"]) for r in a.collect())
    eb = sorted((r["src"], r["dst"]) for r in b.collect())
    assert ea == eb


def test_block_local_edges_splits_skewed_blocks(spark, embeddings):
    """A block bigger than max_block_rows is re-split by the hash sub-key:
    every Arrow batch stays bounded and edges still come out for ~all
    nodes (the skew guard for hot k-means cells)."""
    from vectordb_cloud_spark.operators.graph_ann import _block_local_edges

    n = embeddings.count()
    banded = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
        F.lit(0).alias("block"),  # everything in ONE hot block
    )
    edges = _block_local_edges(banded, degree=4, max_block_rows=64)
    srcs = edges.select("src").distinct().count()
    assert srcs == n  # every node got edges despite the forced split
    per = edges.groupBy("src").count().agg(F.max("count")).first()[0]
    assert per <= 4


def test_graph_append_onto_sharded_build(spark, embeddings):
    """knn_graph_append accepts the sharded build's blocking tuple: the
    batch routes through the SAME shard×cell key the graph was built
    from, so appended nodes become reachable without a rebuild."""
    from vectordb_cloud_spark.operators.graph_ann import (
        knn_graph_append,
        knn_graph_build_sharded,
    )

    base = embeddings.filter(F.col("vec_id") < 400)
    new = embeddings.filter(F.col("vec_id") >= 400)
    g0, blocking = knn_graph_build_sharded(
        base, degree=8, refine_rounds=1, max_cells=2, with_blocking=True
    )
    assert blocking[1] >= 2  # shard term engaged
    g1 = knn_graph_append(embeddings, new, g0, blocking, degree=8).cache()

    n_new = new.count()
    new_srcs = {r["src"] for r in g1.select("src").distinct().collect()}
    appended = {r["vec_id"] for r in new.select("vec_id").collect()}
    assert len(appended & new_srcs) >= 0.9 * n_new
    per_src = g1.groupBy("src").agg(F.count("*").alias("d")).collect()
    assert all(r["d"] <= 8 for r in per_src)

    qv = [float(x) for x in new.limit(1).first()["embedding"]]
    got = graph_beam_search(embeddings, g1, qv, k=5, beam=16, max_hops=4)
    assert any(r["vec_id"] >= 400 for r in got.collect())


def test_bucketed_adjacency_prunes_and_matches(spark, embeddings, graph,
                                               tmp_path):
    """src-bucketed adjacency: a beam's `src IN (...)` probe selects only
    the beam's buckets, and search results match the plain layout."""
    from vectordb_cloud_spark.operators.graph_ann import (
        knn_graph_persist_bucketed,
    )

    path = str(tmp_path / "graph_bucketed")
    knn_graph_persist_bucketed(graph, "graph_adj_test", path, n_buckets=16)
    adj = spark.table("graph_adj_test")

    # filter-only plans need autoBucketedScan OFF for bucket pruning to
    # engage (the documented conf caveat on knn_graph_persist_bucketed)
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        probe = adj.filter(F.col("src").isin([0, 1, 2, 3]))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan
        import re
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m and int(m.group(1)) <= 4 and int(m.group(2)) == 16
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")

    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 3).first()["embedding"]]
    a = graph_beam_search(embeddings, graph, qv, k=5).collect()
    b = graph_beam_search(embeddings, adj, qv, k=5).collect()
    assert [(r["vec_id"], round(r["dist"], 9)) for r in a] == [
        (r["vec_id"], round(r["dist"], 9)) for r in b
    ]
    spark.sql("DROP TABLE IF EXISTS graph_adj_test")


def test_graph_knn_join_sliced_matches_unsliced(spark, embeddings, graph):
    """Slicing is pure routing: same per-query results as one batch call
    (fixed hops, same graph, same parameters)."""
    from vectordb_cloud_spark.operators.graph_ann import (
        graph_knn_join,
        graph_knn_join_sliced,
    )

    queries = embeddings.filter(F.col("vec_id").isin([0, 7, 42, 99])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    whole = graph_knn_join(embeddings, graph, queries, k=5, beam=16,
                           max_hops=4)
    sliced = graph_knn_join_sliced(embeddings, graph, queries, slice_rows=2,
                                   k=5, beam=16, max_hops=4)
    a = sorted((r["query_id"], r["vec_id"], round(r["dist"], 9))
               for r in whole.collect())
    b = sorted((r["query_id"], r["vec_id"], round(r["dist"], 9))
               for r in sliced.collect())
    assert a == b


def test_graph_coarse_entry_ids_seed_beam_search(spark, embeddings):
    """Two-level entry selection (r11): coarse entries come from the
    deterministic mod-sample nearest to the QUERY, so beam search starts
    next to the target instead of at a global medoid. On the small
    fixture both seedings must agree with exact top-k; the coarse ids
    themselves must come from the sample stratum."""
    from vectordb_cloud_spark.operators.ann import brute_force_topk
    from vectordb_cloud_spark.operators.graph_ann import (
        graph_beam_search,
        graph_coarse_entry_ids,
        knn_graph_build,
    )

    qv = [float(x) for x in embeddings.orderBy("vec_id").first()["embedding"]]
    entries = graph_coarse_entry_ids(embeddings, qv, n_entry=4,
                                     sample_mod=7)
    assert entries and all(i % 7 == 0 for i in entries)
    graph = knn_graph_build(embeddings, degree=8, refine_rounds=1)
    hits = graph_beam_search(embeddings, graph, qv, k=5, beam=24,
                             max_hops=4, entry_ids=entries)
    exact = {r["vec_id"] for r in
             brute_force_topk(embeddings, qv, k=5).collect()}
    got = {r["vec_id"] for r in hits.collect()}
    assert len(got & exact) >= 4  # near-exact on the small fixture


def test_graph_coarse_entry_ids_empty_stratum_returns_none(spark, embeddings):
    """An id space with NO multiple of sample_mod must yield None (the
    default-seeds signal), never [] — graph_beam_search treats an explicit
    empty list as 'nowhere to start' and would silently return zero hits
    (r11 review)."""
    from vectordb_cloud_spark.operators.graph_ann import (
        graph_beam_search,
        graph_coarse_entry_ids,
        knn_graph_build,
    )

    qv = [float(x) for x in embeddings.orderBy("vec_id").first()["embedding"]]
    no_stratum = embeddings.filter(F.col("vec_id") % 1_000_003 != 0)
    entries = graph_coarse_entry_ids(no_stratum, qv, n_entry=4,
                                     sample_mod=1_000_003)
    assert entries is None
    # and the beam search still serves through the default entry selection
    graph = knn_graph_build(embeddings, degree=8, refine_rounds=1)
    hits = graph_beam_search(embeddings, graph, qv, k=5, beam=24,
                             max_hops=4, entry_ids=entries)
    assert hits.count() == 5


def test_knn_join_dispatch_budgets_frontier_and_rejects_dup_qids(
        spark, embeddings, graph, monkeypatch):
    """r15 dispatch rule: the driver loop only takes workloads whose
    queries x beam frontier fits the budget AND whose qids are unique —
    everything else runs the distributed loop (whose per-hop state never
    lands on the driver)."""
    import vectordb_cloud_spark.operators.graph_ann as ga

    calls = []
    real = ga._graph_knn_join_driver

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(ga, "_graph_knn_join_driver", spy)
    queries = embeddings.filter(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # within budget: driver path
    within = ga.graph_knn_join(embeddings, graph, queries, k=3, beam=8,
                               max_hops=2)
    assert within.count() == 6 and len(calls) == 1
    # wide beam blows the frontier budget -> distributed loop, same rows
    calls.clear()
    wide = ga.graph_knn_join(embeddings, graph, queries, k=3, beam=8,
                             max_hops=2, max_driver_frontier=8)
    assert len(calls) == 0
    assert {(r["query_id"], r["vec_id"], round(r["dist"], 9))
            for r in wide.collect()} == {
        (r["query_id"], r["vec_id"], round(r["dist"], 9))
        for r in within.collect()}
    # duplicate qids -> distributed loop (driver dicts would merge them)
    calls.clear()
    dup = queries.unionByName(queries.limit(1))
    out = ga.graph_knn_join(embeddings, graph, dup, k=3, beam=8, max_hops=2)
    out.collect()
    assert len(calls) == 0
