"""Recall@k measurement for every ANN family, as a driver-visible artifact.

Recall gates have lived in tests since round 3 (tests/test_ann.py,
test_pq.py, test_graph_ann.py), but the per-round driver artifacts
(BENCH_r{N}.json) only recorded latency — an ANN change that got faster by
silently dropping recall would pass every gate the driver sees (VERDICT r5
item 6). ``ann_recall_report`` closes that hole: it measures recall@k
against exact brute force for each approximate family, averaged over
``n_queries`` fixture vectors, using the SAME index artifacts and
parameters the registry queries use (fixtures.py ``lsh_model`` /
``ivf_index`` / ``pq_index``), so the number describes the exact
configuration being benchmarked.

Consumed by bench.py (emits a ``recall`` dict next to ``queries`` in the
one-line JSON), tools/recall_check.py (writes RECALL.md), and
tests/test_recall_report.py (asserts floors, so a recall regression fails
CI before it ever reaches a bench artifact).

Reference parity note: the reference delegates search quality entirely to
Qdrant's HNSW defaults (/root/reference/search.py:43) and never measures
recall; measuring it is part of owning the index families ourselves.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# Registry-matching knobs (see queries.py ann_ivf_topk / pq_adc_topk):
IVF_K_CENTROIDS = 192  # r9: the real pruning geometry (VERDICT r8 #3) — k≈4√n on this near-uniform fixture (finer lists raise recall at a FIXED scan fraction: k=64→0.74, 128→0.79, 192→0.87 at 25% scanned, 32 queries, sf0.1)
IVF_NPROBE = 48  # k/4: 75% of partitions pruned at recall 0.872 — vs r8's k=8/nprobe=4, which hit 0.812 only by scanning HALF the index
GRAPH_DEGREE = 12  # r7: degree 8 -> 12 measured +0.14 recall at identical build time (denser graph = fewer dead-end hops)
GRAPH_BEAM = 48  # beam width is the recall dial: 32->0.75, 48->0.94 at sf0.1 with medoid entries (per-hop cost is scheduling, not rows)
GRAPH_MAX_HOPS = 4
GRAPH_ENTRIES = 16  # medoid entry points (graph_entry_points) — r7: +0.09 recall over smallest-id seeds at the same beam
BQ_OVERSAMPLE = 48  # 64-dim codes are coarse: rescore recall 16->0.73, 32->0.85, 48->0.94 at sf0.1 (Qdrant documents the same oversample-for-BQ practice)
PQ_RERANK_OVERSAMPLE = 4  # with M=16/K=256 codebooks: 0.988 at sf0.1

# Floors for the --million series (tools/recall_check.py --million and
# tests/test_recall_report.py parse-the-artifact check). Set from the r11
# measurement (IVF 1.000, graph+coarse-entries 1.000) minus a drift
# margin — recall here is deterministic (fixed corpus, fixed queries).
# ann_graph_medoid_1m carries NO floor: it is the documented negative
# result (flat-graph navigability loss on a clumped 1M corpus, 0.000).
MILLION_RECALL_FLOORS = {"ann_ivf_topk_1m": 0.9, "ann_graph_coarse_1m": 0.9,
                         "collection_graph_1m": 0.9}

# Floors for the --filtered series (filtered_graph_recall_report),
# UNCORRELATED predicates: the `planned` rows ride the three-way
# filtered planner — ~1%/~0.1% of 1M fall at/under (or, hash-noise
# above threshold, past the beam cap — either way) the exact route, so
# those are 1.0 BY CONSTRUCTION (a miss means the planner rule broke,
# not that a dial drifted). The 10% row navigates with the beam widened
# to 2kN/m = 200; its floor comes from the r13 measurement. The
# postfilter twins carry NO floor (the documented negative — audit
# inactive without full_scan_threshold). The correlated_planned row IS
# floored: the r13 sample audit detects the navigational miss (one
# pruned 1/31 scan of the matching rows) and upgrades to the exact
# filtered top-k, so whole-cluster filters serve correctly through the
# planner; correlated_postfilter/correlated_ivf stay unfloored as the
# documented raw behaviors.
FILTERED_RECALL_FLOORS = {"planned_1_in_10": 0.9,
                          "planned_1_in_100": 0.999,
                          "planned_1_in_1000": 0.999,
                          "correlated_planned_1_in_10": 0.9,
                          # r14: the audit makes the IVF guarantee the raw
                          # pushdown only had by luck on this fixture
                          "correlated_ivf_audited_1_in_10": 0.9}


def ann_recall_report(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_queries: int = 8,
    graph=None,
    entry_ids: list[int] | None = None,
) -> dict[str, float]:
    """Average recall@``k`` vs exact for each ANN family.

    Query vectors are the first ``n_queries`` ``vec_id``s of the fixture
    embeddings table — deterministic, so round-over-round numbers are
    comparable. ``graph`` lets bench.py pass the adjacency DataFrame it
    already built; when None a graph is built here with the bench
    parameters.

    Returns ``{"lsh_knn": r, "ann_ivf_topk": r, "pq_adc_topk": r,
    "ann_graph_topk": r, "sq_adc_topk": r, "bq_hamming_rescore_topk": r,
    "pq_adc_rerank_topk": r}``
    with each r in [0, 1], rounded to 3 digits.
    """
    from vectordb_cloud_spark import fixtures as fx
    from vectordb_cloud_spark.operators.ann import (
        brute_force_topk,
        ivf_search,
        lsh_knn,
        recall_at_k,
    )
    from vectordb_cloud_spark.operators.graph_ann import (
        graph_beam_search,
        graph_entry_points,
        knn_graph_build,
    )
    from vectordb_cloud_spark.operators.pq import pq_search, pq_search_rerank
    from vectordb_cloud_spark.operators.sq import (
        bq_encode,
        bq_search,
        bq_train,
        sq_encode,
        sq_search,
        sq_train,
    )

    emb = fx.table(spark, sf_dir, "embeddings").cache()
    qrows = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n_queries)
        .collect()
    )
    queries = [[float(x) for x in r["embedding"]] for r in qrows]

    lsh_model = fx.lsh_model(spark, sf_dir)
    centers, ivf_df = fx.ivf_index(spark, sf_dir)
    codebooks, pq_path = fx.pq_index(spark, sf_dir)
    encoded = spark.read.parquet(pq_path).cache()
    if graph is None:
        graph = knn_graph_build(emb, degree=GRAPH_DEGREE, refine_rounds=1)
    graph = graph.cache()
    if entry_ids is None:
        entry_ids = graph_entry_points(emb, n_entry=GRAPH_ENTRIES)
    # the sharded-build variant of the same family, with the shard term
    # FORCED on (max_cells=8 -> S>=2 at this fixture size; at defaults it
    # only engages past ~520k rows) — measures the r8 scale path's recall
    # on the real corpus, same beam parameters and medoid seeds
    from vectordb_cloud_spark.operators.graph_ann import knn_graph_build_sharded

    graph_sharded = knn_graph_build_sharded(
        emb, degree=GRAPH_DEGREE, refine_rounds=2, max_cells=8)
    mins, maxs = sq_train(emb)
    sq_codes = sq_encode(emb, mins, maxs).select("vec_id", "sq_code").cache()
    thresholds = bq_train(emb)
    bq_codes = bq_encode(emb, thresholds).select("vec_id", "bq_code").cache()

    sums = {"lsh_knn": 0.0, "ann_ivf_topk": 0.0, "pq_adc_topk": 0.0,
            "ann_graph_topk": 0.0, "ann_graph_sharded_build": 0.0,
            "sq_adc_topk": 0.0,
            "bq_hamming_rescore_topk": 0.0, "pq_adc_rerank_topk": 0.0}
    for qv in queries:
        exact = brute_force_topk(emb, qv, k=k)
        sums["lsh_knn"] += recall_at_k(
            lsh_knn(lsh_model, emb, qv, k=k), exact, "vec_id")
        sums["ann_ivf_topk"] += recall_at_k(
            ivf_search(ivf_df, centers, qv, k=k,
                       nprobe=IVF_NPROBE, tiebreak="vec_id"),
            exact, "vec_id")
        sums["pq_adc_topk"] += recall_at_k(
            pq_search(encoded, codebooks, qv, k=k, tiebreak="vec_id"),
            exact, "vec_id")
        sums["pq_adc_rerank_topk"] += recall_at_k(
            pq_search_rerank(encoded, codebooks, emb, qv, k=k,
                             oversample=PQ_RERANK_OVERSAMPLE),
            exact, "vec_id")
        sums["ann_graph_topk"] += recall_at_k(
            graph_beam_search(emb, graph, qv, k=k, beam=GRAPH_BEAM,
                              max_hops=GRAPH_MAX_HOPS, entry_ids=entry_ids),
            exact, "vec_id")
        sums["ann_graph_sharded_build"] += recall_at_k(
            graph_beam_search(emb, graph_sharded, qv, k=k, beam=GRAPH_BEAM,
                              max_hops=GRAPH_MAX_HOPS, entry_ids=entry_ids),
            exact, "vec_id")
        sums["sq_adc_topk"] += recall_at_k(
            sq_search(sq_codes, mins, maxs, qv, k=k, tiebreak="vec_id"),
            exact, "vec_id")
        sums["bq_hamming_rescore_topk"] += recall_at_k(
            bq_search(bq_codes, emb, thresholds, qv, k=k,
                      oversample=BQ_OVERSAMPLE, tiebreak="vec_id"),
            exact, "vec_id")
    emb.unpersist()
    encoded.unpersist()
    graph.unpersist()
    sq_codes.unpersist()
    bq_codes.unpersist()
    return {name: round(s / len(queries), 3) for name, s in sums.items()}


def million_row_corpus(spark: SparkSession, sf_dir: str,
                       n_rows: int = 1_000_000):
    """Deterministic 1M-row ANN corpus: the sf embeddings fixture
    replicated with per-replica hash-derived jitter (±2.5% per
    coordinate), so replicas CLUMP around the originals — the corpus
    keeps cluster structure, the production shape for ANN evaluation. (A
    uniform-random corpus is the known worst case for navigable graphs —
    SCALE.md graph_sharded_parity note — and says nothing about recall on
    real embeddings.) Replica 0 is the untouched fixture, so fixture
    query vectors have exact on-corpus neighbors."""
    from pyspark.sql import functions as F

    from vectordb_cloud_spark import fixtures as fx

    emb0 = fx.table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n0 = emb0.count()
    reps = (n_rows + n0 - 1) // n0
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    jittered = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, i: x + (
            F.pmod(F.xxhash64(F.col("vec_id"), F.col("rep"), i),
                   F.lit(1000)).cast("double") / 1000.0 - 0.5
        ) * 0.05,
    )
    return (
        emb0.crossJoin(rep)
        .filter(F.col("vec_id") + F.col("rep") * n0 < n_rows)
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(n0)).alias("vec_id"),
            F.when(F.col("rep") == 0,
                   F.col("embedding").cast("array<double>"))
            .otherwise(jittered).cast("array<float>").alias("embedding"),
        )
        # the crossJoin of a one-file fixture read inherits ONE partition —
        # cached downstream, that serializes every evaluation (the
        # interpreted zip_with distance of IVF assignment most of all)
        # onto a single core; spread it before the cache
        .repartition(64)
    )


def million_recall_report(spark: SparkSession, sf_dir: str,
                          n_rows: int = 1_000_000, k: int = 10,
                          n_queries: int = 8) -> dict[str, float]:
    """Recall@k for IVF and graph at a 1M-row corpus (VERDICT r10 #6 —
    RECALL.md was sf0.01/sf0.1 only; the nprobe/beam dials must be shown
    to hold at meaningful scale). Ground truth is exact brute force over
    the full corpus per query. The graph uses the sharded build (the
    ≥520k-row scale path) and is measured TWICE: with the registry
    global-medoid seeds (which fail at 1M on a clumped corpus — flat kNN
    graphs lose navigability, the honest negative result) and with
    per-query coarse-entry seeds (graph_coarse_entry_ids — HNSW's upper
    layer as one bounded sample scan), which restores recall at the
    registry beam/hop dials."""
    from vectordb_cloud_spark import fixtures as fx
    from vectordb_cloud_spark.operators.ann import (
        brute_force_topk,
        ivf_build,
        ivf_search,
        recall_at_k,
    )
    from vectordb_cloud_spark.operators.graph_ann import (
        graph_beam_search,
        graph_coarse_entry_ids,
        graph_entry_points,
        knn_graph_build_sharded,
    )

    corpus = million_row_corpus(spark, sf_dir, n_rows).cache()
    corpus.count()
    emb0 = fx.table(spark, sf_dir, "embeddings")
    qrows = (emb0.select("vec_id", "embedding").orderBy("vec_id")
             .limit(n_queries).collect())
    queries = [[float(x) for x in r["embedding"]] for r in qrows]

    centers, assigned = ivf_build(corpus, k_centroids=IVF_K_CENTROIDS,
                                  sample_fraction=0.2)
    assigned = assigned.cache()
    assigned.count()
    graph = knn_graph_build_sharded(
        corpus, degree=GRAPH_DEGREE, refine_rounds=1).cache()
    graph.count()
    entry_ids = graph_entry_points(corpus, n_entry=GRAPH_ENTRIES)

    sums = {"ann_ivf_topk_1m": 0.0, "ann_graph_medoid_1m": 0.0,
            "ann_graph_coarse_1m": 0.0}
    for qv in queries:
        exact = brute_force_topk(corpus, qv, k=k)
        sums["ann_ivf_topk_1m"] += recall_at_k(
            ivf_search(assigned, centers, qv, k=k, nprobe=IVF_NPROBE,
                       tiebreak="vec_id"), exact, "vec_id")
        sums["ann_graph_medoid_1m"] += recall_at_k(
            graph_beam_search(corpus, graph, qv, k=k, beam=GRAPH_BEAM,
                              max_hops=GRAPH_MAX_HOPS,
                              entry_ids=entry_ids), exact, "vec_id")
        # empty-stratum fallback matches collections.search_ann's: the
        # medoid entry set, never graph_beam_search's smallest-id default
        # (ADVICE r11; unreachable on this fixture — id 0 is in every
        # stratum — but the benchmark should mirror the catalog path)
        coarse = graph_coarse_entry_ids(corpus, qv, n_entry=GRAPH_ENTRIES)
        sums["ann_graph_coarse_1m"] += recall_at_k(
            graph_beam_search(corpus, graph, qv, k=k, beam=GRAPH_BEAM,
                              max_hops=GRAPH_MAX_HOPS,
                              entry_ids=coarse or entry_ids),
            exact, "vec_id")
    corpus.unpersist()
    assigned.unpersist()
    graph.unpersist()
    return {name: round(s / len(queries), 3) for name, s in sums.items()}


def filtered_graph_recall_report(
    spark: SparkSession,
    sf_dir: str,
    n_rows: int = 1_000_000,
    k: int = 10,
    n_queries: int = 8,
    mods: tuple = (10, 100, 1000),
    full_scan_threshold: int = 10_000,
) -> dict[str, float]:
    """Recall@k of FILTERED graph search vs filter selectivity (VERDICT
    r12 #3): Qdrant's filterable HNSW navigates WITH the predicate; this
    engine's graph path navigates unfiltered and post-filters visited
    nodes, which must collapse once the matching set is sparse in the
    visited neighborhood. Measured on the 1M clumped corpus with
    ``vec_id % m == 0`` predicates (selectivity 1/m for m in ``mods`` —
    10% / 1% / 0.1% at the defaults), per-query coarse-entry seeds and
    registry dials, ground truth = exact brute force over the SAME
    filtered subset.

    The main series uses an UNCORRELATED predicate —
    ``xxhash64(vec_id) % m == 0`` — so matching points thin every
    cluster uniformly and the filtered top-k sit around overall rank
    ``k·N/m`` near the query. Three rows per selectivity:
    ``postfilter_1_in_<m>`` is raw navigate-then-filter
    (full_scan_threshold disabled — the honest negative),
    ``planned_1_in_<m>`` is the shipped three-way planner
    (``full_scan_threshold=10_000``: 0.1%/1% of 1M fall at/under the
    threshold and serve exact; 10% navigates with the beam widened to
    ``2kN/m`` = 200), and ``ivf_pushdown_1_in_<m>`` is the IVF family
    at the registry dials with the predicate pushed into the probed
    scan (IVF probes a REGION — ~25% of the corpus nearest the query —
    so the filtered top-k stay inside it at these selectivities).

    The ``correlated_*_1_in_10`` rows are the documented ADVERSARIAL
    case (the r13 discovery): ``vec_id % 10 == 0`` on this corpus
    selects WHOLE clusters (replica ids preserve ``orig mod 10``), so
    for 7 of 8 queries no point in the query's own cluster matches and
    the true filtered neighbors live in a far cluster that
    distance-driven navigation never approaches — no beam width fixes
    it (measured 0.125 = the 1-in-8 query whose own cluster matches).
    IVF degrades more gracefully (measured 0.875-1.000 across builds:
    its probed region is ~25% of the corpus, often wide enough to cover
    far matching clusters on this fixture — nothing guarantees it).
    The graph planner's SAMPLE AUDIT (graph_beam_search
    ``audit_sample_mod``) closes the correlated case at runtime —
    measured correlated_planned 1.000 vs raw 0.125 — and
    payload-clustered layouts (``create_payload_index`` re-clusters
    files so the exact filtered scan prunes to the matching files)
    remain the right storage answer for standing correlated filters.
    Floors for the planned series are asserted in
    tests/test_recall_report.py."""
    from pyspark.sql import functions as F

    from vectordb_cloud_spark import fixtures as fx
    from vectordb_cloud_spark.operators.ann import (
        brute_force_topk,
        ivf_build,
        ivf_search,
        recall_at_k,
    )
    from vectordb_cloud_spark.operators.graph_ann import (
        graph_beam_search,
        graph_coarse_entry_ids,
        graph_entry_points,
        knn_graph_build_sharded,
    )

    corpus = million_row_corpus(spark, sf_dir, n_rows).cache()
    corpus.count()
    emb0 = fx.table(spark, sf_dir, "embeddings")
    qrows = (emb0.select("vec_id", "embedding").orderBy("vec_id")
             .limit(n_queries).collect())
    queries = [[float(x) for x in r["embedding"]] for r in qrows]

    graph = knn_graph_build_sharded(
        corpus, degree=GRAPH_DEGREE, refine_rounds=1).cache()
    graph.count()
    entry_ids = graph_entry_points(corpus, n_entry=GRAPH_ENTRIES)
    centers, assigned = ivf_build(corpus, k_centroids=IVF_K_CENTROIDS,
                                  sample_fraction=0.2)
    assigned = assigned.cache()
    assigned.count()

    cases = [(f"_1_in_{m}",
              F.pmod(F.xxhash64(F.col("vec_id")), F.lit(int(m))) == 0)
             for m in mods]
    # the adversarial correlated case: replica ids preserve orig mod 10,
    # so this predicate selects WHOLE clusters (see docstring)
    cases.append(("correlated_1_in_10",
                  F.pmod(F.col("vec_id"), F.lit(10)) == 0))

    sums: dict[str, float] = {}
    for suffix, pred in cases:
        subset = corpus.filter(pred).cache()
        subset.count()
        if suffix.startswith("correlated"):
            post_key = "correlated_postfilter_1_in_10"
            plan_key = "correlated_planned_1_in_10"
            ivf_key = "correlated_ivf_1_in_10"
            ivf_audit_key = "correlated_ivf_audited_1_in_10"
        else:
            post_key, plan_key = f"postfilter{suffix}", f"planned{suffix}"
            ivf_key = f"ivf_pushdown{suffix}"
            ivf_audit_key = None
        sums[post_key] = sums[plan_key] = sums[ivf_key] = 0.0
        if ivf_audit_key:
            sums[ivf_audit_key] = 0.0
        for qv in queries:
            exact = brute_force_topk(subset, qv, k=k)
            coarse = graph_coarse_entry_ids(corpus, qv,
                                            n_entry=GRAPH_ENTRIES)
            seeds = coarse or entry_ids
            sums[post_key] += recall_at_k(
                graph_beam_search(corpus, graph, qv, k=k, beam=GRAPH_BEAM,
                                  max_hops=GRAPH_MAX_HOPS, filters=pred,
                                  entry_ids=seeds),
                exact, "vec_id")
            sums[plan_key] += recall_at_k(
                graph_beam_search(corpus, graph, qv, k=k, beam=GRAPH_BEAM,
                                  max_hops=GRAPH_MAX_HOPS, filters=pred,
                                  entry_ids=seeds,
                                  full_scan_threshold=full_scan_threshold),
                exact, "vec_id")
            ivf_res = ivf_search(assigned, centers, qv, k=k,
                                 nprobe=IVF_NPROBE,
                                 filters=pred, tiebreak="vec_id")
            sums[ivf_key] += recall_at_k(ivf_res, exact, "vec_id")
            if ivf_audit_key:
                # r14 (VERDICT r13 #5): the same correlated case through
                # the IVF family WITH the sample audit — the probed
                # region covering the matching clusters on this fixture
                # is luck ('nothing guarantees it'); the audit makes the
                # guarantee at one 1/31 matching scan per query
                from vectordb_cloud_spark.operators.knn import (
                    filtered_sample_audit)

                sums[ivf_audit_key] += recall_at_k(
                    filtered_sample_audit(
                        corpus, ivf_res.select("vec_id", "dist"), pred,
                        qv, k, id_col="vec_id"),
                    exact, "vec_id")
        subset.unpersist()
    corpus.unpersist()
    graph.unpersist()
    assigned.unpersist()
    return {name: round(s / len(queries), 3) for name, s in sums.items()}


def collection_graph_million_recall(spark: SparkSession, sf_dir: str,
                                    n_rows: int = 1_000_000, k: int = 10,
                                    n_queries: int = 8) -> float:
    """Recall@k of the COLLECTION graph serving stack at 1M rows — the
    lifecycle twin of million_recall_report's ann_graph_coarse_1m row:
    create with a graph ann_index config (r11 defaults: SHARDED build,
    coarse-sample sidecar + per-query seeding), bucketed upsert of the
    clumped corpus, lazy ann.v{N} build, then ``search_ann`` per query vs
    exact brute force over the collection's own files. Proves the 1M
    navigability fix holds THROUGH the catalog (sidecar params, persisted
    sample, per-query seeding), not just at operator level."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vectordb_cloud_spark import fixtures as fx
    from vectordb_cloud_spark.collections import CollectionCatalog
    from vectordb_cloud_spark.operators.ann import brute_force_topk, recall_at_k

    corpus = million_row_corpus(spark, sf_dir, n_rows)
    emb0 = fx.table(spark, sf_dir, "embeddings")
    dim = len(emb0.select("embedding").first()["embedding"])
    root = tempfile.mkdtemp(prefix="recall_collection_1m_")
    try:
        cat = CollectionCatalog(spark, root)
        cat.create("m1", dim=dim, ann_index={"graph": {
            "degree": GRAPH_DEGREE, "beam": GRAPH_BEAM,
            "max_hops": GRAPH_MAX_HOPS, "n_entry": GRAPH_ENTRIES,
            # rounds=1 matches the operator-level 1M row (the extra
            # default round buys recall the coarse seeding already
            # provides; this keeps the two rows' build costs comparable)
            "refine_rounds": 1}})
        cat.upsert("m1", corpus.select(F.col("vec_id").alias("id"),
                                       "embedding"))
        qrows = (emb0.select("vec_id", "embedding").orderBy("vec_id")
                 .limit(n_queries).collect())
        # cache the ground-truth scan: brute force runs once per query
        # (the million_recall_report pattern) — without this each of the
        # n_queries iterations re-reads the full 1M-row parquet
        base = cat.read("m1").select("id", "embedding").cache()
        base.count()
        try:
            total = 0.0
            for r in qrows:
                qv = [float(x) for x in r["embedding"]]
                exact = brute_force_topk(base, qv, k=k)
                got = cat.search_ann("m1", qv, k=k)
                total += recall_at_k(got, exact, "id")
            return round(total / max(1, len(qrows)), 3)
        finally:
            base.unpersist()
    finally:
        shutil.rmtree(root, ignore_errors=True)
