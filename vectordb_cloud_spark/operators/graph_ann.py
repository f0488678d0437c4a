"""Graph-based ANN: a distributed NSW-style neighbor graph + beam search.

The reference's server delegates ANN to Qdrant's HNSW index
(/root/reference/search.py:43). HNSW itself is a single-machine,
pointer-chasing structure — a literal port would serialize through one
node. This module is the Spark-idiomatic rendering of the same idea
(navigable small-world graph + greedy beam search), built from set
operations so every stage distributes:

- **Build** (`knn_graph_build`): candidate pairs come from LSH bucket
  collisions (bounded, never O(n²)), are scored exactly, and each node
  keeps its top-``degree`` neighbors (symmetrized, like HNSW's
  bidirectional links). An optional NN-descent-style refinement round
  joins neighbors-of-neighbors and re-selects top-``degree`` — the
  standard distributed kNN-graph improvement step (NN-Descent, Dong et
  al., WWW'11).
- **Persist** (`knn_graph_persist`): adjacency as a plain parquet table
  ``(src, dst)`` — at 100 TB this is bucketed by ``src`` so each beam hop
  is a pruned scan, and the vectors stay in the base table (no
  duplication into the index).
- **Search** (`graph_beam_search`): greedy beam search, one distributed
  round per hop: broadcast the current beam's neighbor ids (a few hundred
  ids — the ONLY driver-side state), semi-join the base table for their
  vectors, exact-score, keep beam top-``beam``. The loop runs
  ``max_hops`` rounds or until the beam stops improving; each round is a
  broadcast-pruned scan + TakeOrderedAndProject, so no hop ever shuffles
  the corpus. A ``filters`` predicate post-filters the visited nodes;
  navigation itself is never filtered.
- **Filtered search** (`graph_widened_search`): the graph's search for
  the filtered-ANN planner every sidecar kind shares
  (``operators.knn.planned_topk`` — planning count, exact branch and
  sample audit). This module adds only the graph's own rule: the beam
  widened to ``ceil(2kN/m)`` for ``m`` matching of ``N``, or exact past
  a cap.

Degree/beam/hops trade recall for reads exactly like HNSW's M/ef: tests
gate recall@10 vs exact (test_graph_ann.py) the same way the LSH/IVF/PQ
families are gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_cloud_spark.functions.vector import l2_distance, l2_distance_to
from vectordb_cloud_spark.session import local_df


def _top_per_src(pairs: DataFrame, degree: int) -> DataFrame:
    """Keep each src's ``degree`` nearest dsts (dist, dst tiebreak)."""
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("dst").asc())
    return (
        pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= degree)
        .drop("__rk")
    )


def _fit_blocking(X, n_blocks: int, seed: int):
    """Fit one blocking over the driver-side sample. Small block counts get
    a flat k-means; large ones a TWO-LEVEL (coarse -> sub) tree, because
    flat assignment is O(n · n_blocks · dim) and n_blocks grows with n —
    measured as the one scale-killer in SCALE.md round 6 (29x at 10x rows).
    Two-level routing costs O(n · 2·sqrt(n_blocks) · dim).

    Returns ('flat', centers) or ('tree', coarse, subs, k2_max) where
    ``subs[c]`` are the sub-centers of coarse cell c (ragged allowed).
    Every Lloyd fit sees at most 256 sample rows per centroid (FAISS's
    train-size rule) so driver-side fit cost stays bounded too.
    """
    from vectordb_cloud_spark.operators.ann import _lloyd_fit

    def fit(Xs, k, s):
        cap = min(len(Xs), k * 256)
        return _lloyd_fit(Xs[:cap], k, s)

    if n_blocks <= 64:
        return ("flat", fit(X, n_blocks, seed))
    import math

    k1 = max(2, int(math.sqrt(n_blocks)))
    k2 = max(2, (n_blocks + k1 - 1) // k1)
    coarse = fit(X, k1, seed)
    d2 = ((X * X).sum(1)[:, None] + (coarse * coarse).sum(1)[None, :]
          - 2.0 * (X @ coarse.T))
    cid = d2.argmin(1)
    subs = []
    for c in range(len(coarse)):
        Xc = X[cid == c]
        if len(Xc) == 0:
            subs.append(coarse[c:c + 1])
        else:
            subs.append(fit(Xc, min(k2, len(Xc)), seed + 1 + c))
    return ("tree", coarse, subs, k2)


def _l2sq_to(vec, center):
    return F.aggregate(
        F.zip_with(vec, center, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _lit_mat(mat):
    return F.array(*[F.array(*[F.lit(float(x)) for x in row]) for row in mat])


def _block_expr(blocking):
    """(block-id expression over column ``vec``, id-space width)."""
    vec = F.col("vec")
    if blocking[0] == "flat":
        centers = blocking[1]
        dists = F.transform(_lit_mat(centers), lambda c: _l2sq_to(vec, c))
        return (F.array_position(dists, F.array_min(dists)) - 1,
                len(centers) + 1)
    _, coarse, subs, k2 = blocking
    cdists = F.transform(_lit_mat(coarse), lambda c: _l2sq_to(vec, c))
    cid = F.array_position(cdists, F.array_min(cdists)) - 1
    subs_lit = F.array(*[_lit_mat(s) for s in subs])
    mysubs = F.element_at(subs_lit, cid.cast("int") + 1)
    sdists = F.transform(mysubs, lambda c: _l2sq_to(vec, c))
    sid = F.array_position(sdists, F.array_min(sdists)) - 1
    return cid * k2 + sid, len(coarse) * k2 + 1


def _route_blocks_join(
    vecs: DataFrame, blocking, keep: tuple[str, ...]
) -> DataFrame:
    """Assign each row its block id with the centers shipped as BROADCAST
    DATA instead of expression literals.

    ``_block_expr`` folds every center into the plan as a literal array —
    and Spark rebuilds a ``CreateArray`` literal PER ROW, interpreted, so
    at 4096 centers routing measured ~1 ms/row (the Stage-straggler that
    stalled the 1M SCALE run twice). Here the center matrix rides in a
    one-row broadcast frame (coarse) and a 64-row broadcast frame (subs,
    keyed by coarse cell): the per-row work is the same ~2·sqrt(C)
    distance folds but over bound columns, no per-row literal
    materialization. Same math, same argmin tiebreak, same block ids.

    Returns ``(routed, width)``: ``keep`` columns plus ``__blk``
    (un-namespaced block id), and the blocking's id-space width."""
    spark = vecs.sparkSession
    if blocking[0] == "flat":
        centers = blocking[1]
        cdf = local_df(
            spark,
            [([[float(x) for x in c] for c in centers],)],
            "__coarse array<array<double>>",
        )
        df = vecs.crossJoin(F.broadcast(cdf))
        dists = F.transform(F.col("__coarse"),
                            lambda c: _l2sq_to(F.col("vec"), c))
        out = df.select(
            *keep,
            (F.array_position(dists, F.array_min(dists)) - 1).alias("__blk"),
        )
        return out, len(centers) + 1
    _, coarse, subs, k2 = blocking
    cdf = local_df(
        spark,
        [([[float(x) for x in c] for c in coarse],)],
        "__coarse array<array<double>>",
    )
    sdf = local_df(
        spark,
        [(ci, [[float(x) for x in c] for c in subs[ci]])
         for ci in range(len(coarse))],
        "__cid int, __subs array<array<double>>",
    )
    df = vecs.crossJoin(F.broadcast(cdf))
    cdists = F.transform(F.col("__coarse"),
                         lambda c: _l2sq_to(F.col("vec"), c))
    df = df.withColumn(
        "__cid",
        (F.array_position(cdists, F.array_min(cdists)) - 1).cast("int"),
    ).drop("__coarse")
    df = df.join(F.broadcast(sdf), "__cid")
    sdists = F.transform(F.col("__subs"),
                         lambda c: _l2sq_to(F.col("vec"), c))
    sid = F.array_position(sdists, F.array_min(sdists)) - 1
    out = df.select(
        *keep,
        (F.col("__cid").cast("long") * k2 + sid).alias("__blk"),
    )
    return out, len(coarse) * k2 + 1


def _shard_banded(
    vecs: DataFrame,
    centers_multi: list,
    n_shards: int,
    shard_salts: list[int],
    keep: tuple[str, ...] = ("id",),
) -> DataFrame:
    """(id, block) rows for every blocking, with an optional hash-shard
    term crossed into the key (the sharded build's bounded-literal
    blocking). Block ids are namespaced per blocking so two partitions
    never alias. ``vecs`` must carry (id, vec); ``keep`` lists the columns
    carried through beside ``block``. Routing goes through
    ``_route_blocks_join`` (centers as broadcast data, not plan
    literals)."""
    parts = []
    for s, blocking in enumerate(centers_multi):
        routed, width = _route_blocks_join(vecs, blocking, keep)
        block = F.col("__blk")
        if n_shards > 1:
            shard = F.pmod(
                F.xxhash64(F.col("id"), F.lit(shard_salts[s])),
                F.lit(n_shards),
            )
            block = shard * width + block
            width = width * n_shards
        parts.append(
            routed.select(*keep, (F.lit(s) * width + block).alias("block"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def blocking_to_json(blocking) -> dict:
    """Serialize a build's blocking (plain list or the sharded build's
    ``(centers_multi, n_shards, shard_salts)`` tuple) to a JSON-safe dict,
    so a persisted graph sidecar can route future appends into the SAME
    blocks it was built from (``knn_graph_append`` — the incremental
    maintenance path, VERDICT r13 #3). Numpy arrays become nested lists;
    ``blocking_from_json`` is the exact inverse (routing consumes either
    form identically — ``_route_blocks_join`` literal-izes row by row)."""
    cm, n_shards, salts = _normalize_blocking(blocking)
    enc = []
    for b in cm:
        if b[0] == "flat":
            enc.append({"kind": "flat",
                        "centers": [[float(x) for x in c] for c in b[1]]})
        else:
            enc.append({
                "kind": "tree",
                "coarse": [[float(x) for x in c] for c in b[1]],
                "subs": [[[float(x) for x in c] for c in sub]
                         for sub in b[2]],
                "k2": int(b[3]),
            })
    return {"centers_multi": enc, "n_shards": int(n_shards),
            "shard_salts": [int(s) for s in salts]}


def blocking_from_json(obj: dict):
    """Inverse of :func:`blocking_to_json` — returns the
    ``(centers_multi, n_shards, shard_salts)`` tuple every routing entry
    point (``_banded`` / ``knn_graph_append``) accepts."""
    cm = []
    for b in obj["centers_multi"]:
        if b["kind"] == "flat":
            cm.append(("flat", b["centers"]))
        else:
            cm.append(("tree", b["coarse"], b["subs"], int(b["k2"])))
    return (cm, int(obj["n_shards"]), [int(s) for s in obj["shard_salts"]])


def _normalize_blocking(centers_multi):
    """Accept either a plain blocking list (unsharded build) or the
    sharded build's ``(centers_multi, n_shards, shard_salts)`` tuple."""
    if (isinstance(centers_multi, tuple) and len(centers_multi) == 3
            and isinstance(centers_multi[1], int)):
        return centers_multi
    return centers_multi, 1, [0] * len(centers_multi)


def _banded(vecs: DataFrame, centers_multi: list) -> DataFrame:
    """(id, block) rows for every blocking (shard-aware: the sharded
    build's blocking tuple routes identically here and in append)."""
    cm, n_shards, salts = _normalize_blocking(centers_multi)
    return _shard_banded(vecs, cm, n_shards, salts)


def knn_graph_build(
    points: DataFrame,
    degree: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    n_blockings: int = 2,
    refine_rounds: int = 1,
    seed: int = 42,
    max_train_rows: int = 100_000,
):
    """Build a symmetric kNN graph: ``(src, dst, dist)`` with up to
    ``degree`` out-edges per node. The collection sidecar builds with
    ``knn_graph_build_sharded``, which also hands out the blocking and
    routing rows incremental appends need.

    Candidates come from ``n_blockings`` INDEPENDENT k-means partitions of
    the corpus (different seeds over one driver-side sample — the
    random-partition-tree idea, flattened): nodes in the same cluster of
    any partition are candidate neighbors, so the pair space is
    Σ block_size² per blocking — n²/n_blocks in expectation, never n².
    (Round 6 replaced the earlier unthresholded-LSH generator: on a
    unit-norm corpus its single-projection buckets collapsed to ~2 per
    table, which IS n².) A second blocking with a different seed recovers
    neighbors split across the first partition's boundaries; each
    ``refine_round`` then runs one NN-descent step (Dong et al., WWW'11) —
    propose neighbors-of-neighbors, score, re-select — which repairs the
    remaining recall. Every stage is an equi-join on a block/centroid key
    or a bounded per-key top-k; nothing is quadratic, and the only
    driver-side state is the sampled k-means fit.
    """
    import numpy as np

    vecs0 = points.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    if n_blocks is None:
        # target ~128 rows per block: Σ block² stays ~128·n while blocks
        # keep enough neighbors for the NN-descent rounds to bootstrap.
        # (Past ~10⁷ rows the n/128 center literals blow up the plan —
        # use knn_graph_build_sharded, which caps the center count and
        # grows capacity through a hash-shard term instead.)
        n_blocks = max(2, int(points.count()) // 128)
    sample = vecs0.select("vec").limit(max_train_rows).collect()
    X = np.asarray([r["vec"] for r in sample], dtype=np.float64)
    centers_multi = [
        _fit_blocking(X, n_blocks, seed + 7919 * s) for s in range(n_blockings)
    ]
    banded = _banded(vecs0, centers_multi)
    return _graph_from_banded(vecs0, banded, degree, refine_rounds)


def _graph_from_banded(
    vecs0: DataFrame, banded: DataFrame, degree: int, refine_rounds: int
) -> DataFrame:
    """Shared build core: same-block candidate pairs -> exact scores ->
    symmetrized per-src top-``degree`` -> NN-descent refine rounds.
    ``vecs0`` carries (id, vec); ``banded`` carries (id, block)."""
    # materialize the skinny (id, block) routing once (r15 — the LSH banded
    # treatment): the self-join's two sides otherwise each recompute the
    # k-means routing (broadcast centers + per-row distance argmin), the
    # most expensive map of the seed pass (measured 3.5s -> 2.1s at sf0.1)
    banded = banded.localCheckpoint()
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r, (F.col("l.block") == F.col("r.block"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # r14 (guide §2.5): the candidate rows are BYTES-tiny (two longs) but
    # feed the build's dominant compute — Σ block² exact distance folds.
    # Size-based AQE coalescing (correct everywhere else) would collapse
    # them to one task and run the scoring single-threaded; an explicit
    # hash repartition pins scoring parallelism to the cluster size.
    cand = cand.repartition(
        vecs0.sparkSession.sparkContext.defaultParallelism, "id_a")
    side = vecs0
    pairs = (
        cand.join(side.select(F.col("id").alias("id_a"), F.col("vec").alias("va")), "id_a")
        .join(side.select(F.col("id").alias("id_b"), F.col("vec").alias("vb")), "id_b")
        .withColumn("dist", l2_distance(F.col("va"), F.col("vb")))
        .select("id_a", "id_b", "dist")
    )
    # symmetrize: an (a,b) candidate is an edge candidate for BOTH endpoints
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "dist"
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "dist")
    )
    graph = _top_per_src(edges, degree)

    vecs = vecs0.select(
        F.col("id").alias("__vid"), F.col("vec").alias("__vec")
    )
    for i in range(refine_rounds):
        # truncate lineage before EVERY round (r14 — previously only
        # rounds > 0): the NN-descent step references the incoming graph
        # THREE times (both self-join sides + the candidate union), so an
        # un-checkpointed first round re-ran the whole
        # banded→pair-join→score→top seed pipeline ~3× inside one plan —
        # measured 20.5s → 8.5s for the sf0.1 fixture build. The
        # checkpoint materializes exactly the rows the plan needs anyway.
        graph = graph.localCheckpoint()
        # NN-descent step: neighbors of my neighbors are candidate neighbors
        hop2 = (
            graph.alias("g1")
            .join(graph.alias("g2"), F.col("g1.dst") == F.col("g2.src"))
            .select(F.col("g1.src").alias("src"), F.col("g2.dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        cand = (
            graph.select("src", "dst")
            .unionByName(hop2)
            .dropDuplicates(["src", "dst"])
        )
        # same tiny-bytes/heavy-compute fan-out as the first scoring pass
        cand = cand.repartition(
            vecs0.sparkSession.sparkContext.defaultParallelism, "src")
        scored = (
            cand.join(vecs.withColumnRenamed("__vid", "src").withColumnRenamed("__vec", "__sv"), "src")
            .join(vecs.withColumnRenamed("__vid", "dst").withColumnRenamed("__vec", "__dv"), "dst")
            .withColumn("dist", l2_distance(F.col("__sv"), F.col("__dv")))
            .select("src", "dst", "dist")
        )
        graph = _top_per_src(scored, degree)
    return graph


def _block_local_edges(
    banded_vecs: DataFrame, degree: int, max_block_rows: int = 2048
) -> DataFrame:
    """Per-block all-pairs top-``degree`` candidate edges, scored INSIDE the
    block with a vectorized Arrow batch (``applyInPandas``) instead of
    materializing the pair join.

    The pure-DataFrame pair join ships BOTH endpoint vectors per candidate
    pair — ~``block_rows``·n rows × 2·dim doubles of shuffle (~28 GB per
    100k rows at dim 64, the dominant cost of ``knn_graph_build``). Here
    the shuffle is the ``banded_vecs`` rows themselves (n·blockings rows,
    one vector each) and the B² distances for each ~``block_rows``-row
    block are one numpy matmul — the one place built-ins genuinely can't
    express the semantics without exploding the data (the stated Pandas-UDF
    bar). Skewed blocks (a hot k-means cell) are re-split by a hash
    sub-key so no Arrow batch exceeds ``max_block_rows`` rows.

    Input must carry (id, block, vec); output is (src, dst, dist) with up
    to ``degree`` out-edges per (block, src) — feed to ``_top_per_src``
    after unioning blockings.
    """
    import numpy as np
    import pandas as pd

    sizes = banded_vecs.groupBy("block").agg(F.count("*").alias("__bn"))
    split = (
        banded_vecs.join(F.broadcast(sizes), "block")
        .withColumn(
            "__sub",
            F.when(F.col("__bn") <= max_block_rows, F.lit(0)).otherwise(
                F.pmod(
                    F.xxhash64("id"),
                    F.ceil(F.col("__bn") / max_block_rows).cast("long"),
                )
            ),
        )
        .drop("__bn")
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "dist": []}).astype(
                {"src": "int64", "dst": "int64", "dist": "float64"}
            )
        sq = (X * X).sum(axis=1)
        D = sq[:, None] + sq[None, :] - 2.0 * (X @ X.T)
        np.clip(D, 0.0, None, out=D)
        np.fill_diagonal(D, np.inf)
        k = min(degree, n - 1)
        # deterministic top-k per row: order by (dist, id)
        order = np.lexsort((ids[None, :].repeat(n, 0), D), axis=1)[:, :k]
        return pd.DataFrame(
            {
                "src": np.repeat(ids, k),
                "dst": ids[order].ravel(),
                "dist": np.sqrt(np.take_along_axis(D, order, 1)).ravel(),
            }
        )

    return split.groupBy("block", "__sub").applyInPandas(
        score, "src long, dst long, dist double"
    )


def _nn_descent_round_local(
    graph: DataFrame, vecs: DataFrame, degree: int,
    max_neighborhood: int | None = None,
) -> DataFrame:
    """One NN-descent round as a LOCAL JOIN (Dong et al., WWW'11 §2.3):
    for every node u, all pairs among N(u) are candidate edges, scored
    inside u's Arrow group. The DataFrame form joins vectors onto the
    neighbor-of-neighbor pair table (~degree²·n rows × 2·dim doubles);
    here the only vector shuffle is graph⋈vecs on dst (degree·n single
    vectors) and the output is skinny (src, dst, dist) rows.

    ``vecs`` must carry (id, vec). Returns the refined adjacency (union of
    old edges and local-join pairs, per-src top-``degree``)."""
    import numpy as np
    import pandas as pd

    # the local join runs over the SYMMETRIZED neighborhood (in ∪ out
    # edges, the paper's B[v]) — pairs among out-neighbors alone miss the
    # 2-hop candidates a node reaches through nodes that point AT it.
    # OUT-degree is capped at ``degree`` but IN-degree is unbounded: a hub
    # node pointed at by thousands would get a B² Arrow batch and B² output
    # rows (measured as a straggler task at the 1M SCALE point). Cap each
    # B[v] at ``max_neighborhood`` NEAREST members (dist, dst tiebreak —
    # deterministic), the paper's reverse-neighbor sampling made exact.
    if max_neighborhood is None:
        max_neighborhood = 3 * degree
    sym = (
        graph.select("src", "dst", "dist")
        .unionByName(
            graph.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst"), "dist")
        )
        .dropDuplicates(["src", "dst"])
    )
    sym = _top_per_src(sym, max_neighborhood).select("src", "dst")
    withv = sym.join(vecs.select(F.col("id").alias("dst"), "vec"), "dst")

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["dst"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "dist": []}).astype(
                {"src": "int64", "dst": "int64", "dist": "float64"}
            )
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        sq = (X * X).sum(axis=1)
        D = sq[:, None] + sq[None, :] - 2.0 * (X @ X.T)
        np.clip(D, 0.0, None, out=D)
        iu, ju = np.triu_indices(n, k=1)
        d = np.sqrt(D[iu, ju])
        keep = ids[iu] != ids[ju]  # dst can repeat across src groups
        return pd.DataFrame(
            {
                "src": np.concatenate([ids[iu][keep], ids[ju][keep]]),
                "dst": np.concatenate([ids[ju][keep], ids[iu][keep]]),
                "dist": np.concatenate([d[keep], d[keep]]),
            }
        )

    new_edges = withv.groupBy("src").applyInPandas(
        pairs, "src long, dst long, dist double"
    ).dropDuplicates(["src", "dst"])
    cand = graph.select("src", "dst", "dist").unionByName(
        # an existing (src,dst) beats the local-join copy on the dedup
        new_edges.join(graph.select("src", "dst"), ["src", "dst"], "left_anti")
    )
    return _top_per_src(cand, degree)


def knn_graph_build_sharded(
    points: DataFrame,
    degree: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blockings: int = 2,
    refine_rounds: int = 2,
    seed: int = 42,
    max_train_rows: int = 100_000,
    block_rows: int = 128,
    max_cells: int | None = None,
    with_blocking: bool = False,
    return_banded: bool = False,
):
    """Scale form of ``knn_graph_build``: the block key is a HASH SHARD
    crossed with a k-means cell, so the number of center literals in the
    plan is CAPPED while capacity grows through the shard count — removing
    the ``n_blocks = n/128`` literal-centroid ceiling (VERDICT r6 #3,
    graph_ann.py's former docstring promise).

    ``knn_graph_build`` needs n/128 centroids to keep blocks ~128 rows;
    each centroid is an expression literal (``_lit_mat``), so past ~10⁷
    rows the PLAN itself blows up. Here blocks are
    ``(pmod(xxhash64(id, salt_s), n_shards), cell(vec))``: cells come from
    a FIXED-size fit (``max_cells``, dim-scaled so literal count is
    bounded: ≤ 262144/dim, floor 64, cap 4096) and ``n_shards`` is just a
    modulus in the plan — one int, any scale. Expected block size stays
    ``block_rows``; pair cost stays ~``block_rows``·n per blocking.

    The shard term makes the initial graph coarser than the unsharded
    build's (each node sees only its 1/n_shards slice of a coarser cell),
    and each blocking uses an INDEPENDENT shard salt, so the union of the
    ``n_blockings`` graphs is cross-shard-connected; the NN-descent
    ``refine_rounds`` (default 2, vs 1 unsharded — the extra round buys
    back the coarser init, Dong et al. WWW'11 converges from even random
    inits) then propagate neighbors across shard boundaries. Recall parity
    vs the unsharded build is gated in test_graph_ann.py; SCALE.md carries
    the 100k -> 1M build-time series.

    Degenerates to the unsharded candidate structure when
    ``n/block_rows <= max_cells`` (n_shards=1). Returns the same
    ``(src, dst, dist)`` adjacency; ``with_blocking`` additionally returns
    ``(centers_multi, n_shards, shard_salts)`` for incremental append.

    Candidates are scored INSIDE each block with Arrow batches
    (``_block_local_edges``) and NN-descent runs as a local join
    (``_nn_descent_round_local``): total vector shuffle is
    O(n·blockings + n·degree) single vectors per round instead of the pure
    pair-join's O(block_rows·n) vector PAIRS (~28 GB per 100k rows at
    dim 64 — why ``knn_graph_build`` measured 271 s at 100k in SCALE.md
    r6).

    Memory shape: the banded frame (n·blockings rows, one vector each) is
    localCheckpointed through the block manager — distributed across
    executors on a cluster; in LOCAL mode one JVM holds it all, so size
    the driver heap ~1.5x the corpus vector bytes for 10M+-row local
    builds (SPARK_GRAFT_DRIVER_MEM; the 8g default GC-thrashes at 10M).
    """
    import math

    import numpy as np

    vecs0 = points.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    n = int(points.count())
    if max_cells is None:
        dim = len(vecs0.select("vec").first()["vec"])
        max_cells = max(64, min(4096, 262_144 // max(1, dim)))
    cells_needed = max(2, n // block_rows)
    n_cells = min(cells_needed, max_cells)
    n_shards = max(1, math.ceil(cells_needed / n_cells))
    sample = vecs0.select("vec").limit(max_train_rows).collect()
    X = np.asarray([r["vec"] for r in sample], dtype=np.float64)
    centers_multi = [
        _fit_blocking(X, n_cells, seed + 7919 * s) for s in range(n_blockings)
    ]
    shard_salts = [seed + 104729 * s for s in range(n_blockings)]
    # routing costs ~2·sqrt(C) distance folds per row; the banded frame
    # feeds both the block-size stats and the scoring groups, so
    # materialize it once instead of routing twice
    banded = _shard_banded(vecs0, centers_multi, n_shards, shard_salts,
                           keep=("id", "vec")).localCheckpoint()
    cand = _block_local_edges(banded, degree)
    # symmetrize: a candidate counts for BOTH endpoints
    edges = cand.unionByName(
        cand.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "dist")
    ).dropDuplicates(["src", "dst"])
    graph = _top_per_src(edges, degree).localCheckpoint()
    for _ in range(refine_rounds):
        graph = _nn_descent_round_local(graph, vecs0, degree).localCheckpoint()
    blocking = (centers_multi, n_shards, shard_salts)
    if with_blocking and return_banded:
        # the routing assignment is already materialized (localCheckpoint
        # above) — persisting it beside the adjacency
        # makes future APPENDS skip re-routing the whole corpus
        return graph, blocking, banded.select("id", "block")
    if with_blocking:
        return graph, blocking
    if return_banded:
        return graph, banded.select("id", "block")
    return graph


def knn_graph_append(
    points: DataFrame,
    new_points: DataFrame,
    graph: DataFrame,
    centers_multi: list,
    degree: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    banded: DataFrame | None = None,
) -> DataFrame:
    """Incrementally add a batch of vectors to an existing kNN graph — the
    graph family's ``ivf_append``: no rebuild, no full-corpus pair join.

    ``banded`` (optional): the PERSISTED ``(id, block)`` routing rows for
    every current point EXCEPT ``new_points`` (the caller removes rows
    for re-routed ids). With it the append never re-routes the corpus —
    touched-block members come from one pruned scan of the skinny table
    (r14: re-routing dominated the append at 100k rows, 43.6 s of a
    69.8 s full build; the builder's ``return_banded=True`` hands the
    table out for free since routing is materialized anyway). Without
    it, the corpus is re-routed through ``centers_multi`` (legacy
    sidecars).

    ``points`` is the FULL post-append corpus (old ∪ new; vectors live in
    the base table, the graph holds only ids), ``centers_multi`` the
    ``(centers_multi, n_shards, shard_salts)`` tuple from
    ``knn_graph_build_sharded(..., with_blocking=True)`` — routing
    (including the shard term) is shared (``_banded``), so appends land
    in the blocks the build routed to. The
    batch is routed to its blocks, candidate pairs are (new × members of
    touched blocks) only — O(batch · block_size), not O(n) — and each new
    edge updates BOTH endpoints' adjacency lists (the existing node keeps
    its old edges and re-selects top-``degree`` from old ∪ incoming, like
    HNSW's bidirectional link repair). Centroids drift as data grows;
    monitor block occupancy and rebuild when imbalanced, the same operating
    cycle as IVF (ann.ivf_partition_stats).
    """
    vecs_all = points.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    vecs_new = new_points.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    banded_new = _banded(vecs_new, centers_multi)
    # members of touched blocks only: the semi join prunes the member scan
    # to the blocks the batch landed in (persisted skinny table when the
    # caller has one, full corpus re-route otherwise)
    pool = (banded.select("id", "block").unionByName(
        banded_new.select("id", "block"))
        if banded is not None else _banded(vecs_all, centers_multi))
    banded_all = pool.join(
        banded_new.select("block").distinct(), "block", "left_semi"
    )
    ln, r = banded_new.alias("l"), banded_all.alias("r")
    cand = (
        ln.join(r, (F.col("l.block") == F.col("r.block"))
                & (F.col("l.id") != F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(vecs_all.select(F.col("id").alias("id_a"), F.col("vec").alias("va")), "id_a")
        .join(vecs_all.select(F.col("id").alias("id_b"), F.col("vec").alias("vb")), "id_b")
        .withColumn("dist", l2_distance(F.col("va"), F.col("vb")))
        .select("id_a", "id_b", "dist")
    )
    new_edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "dist"
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "dist")
    )
    # existing nodes NOT touched by any new edge pass through untouched;
    # touched nodes re-select top-degree from (old edges ∪ incoming)
    touched = new_edges.select("src").distinct()
    untouched = graph.join(touched, "src", "left_anti")
    merged = _top_per_src(
        graph.join(touched, "src", "left_semi").unionByName(new_edges), degree
    )
    return untouched.unionByName(merged)


def _graph_knn_join_driver(
    base: DataFrame,
    graph: DataFrame,
    q: DataFrame,
    qrows: list,
    k: int,
    beam: int,
    max_hops: int,
    entry_points: int,
    entry_ids: list[int] | None,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Driver-state body of ``graph_knn_join`` for workload-bounded query
    tables: beams/visited sets are Python dicts, each hop issues ONE job
    (beam pairs ⋈ adjacency ⋈ vectors ⋈ broadcast queries, collected).
    Every distance is computed by the SAME JVM ``l2_distance`` expression
    over the same rows as the distributed loop, and selection replays its
    exact ordering (``dist`` asc, ``node`` asc), so results — including
    which hop the global early-stop fires on — are identical."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from vectordb_cloud_spark.filters import int_in_expr

    spark = base.sparkSession
    qid_t = q.schema["qid"].dataType
    node_t = base.schema["node"].dataType
    pair_schema = StructType([
        StructField("qid", qid_t), StructField("node", node_t)])
    qids = [r["qid"] for r in qrows]
    visited: dict = {qid: {} for qid in qids}
    # IN literals stay bounded; past this the probe goes through a
    # broadcast of the (still workload-bounded) local pair relation
    max_isin = 8192
    single = len(qids) == 1
    q_vec = [float(x) for x in qrows[0]["__qv"]] if single else None
    # multi-query scoring joins the queries back in as a LOCAL relation: a
    # broadcast whose child is a LocalTableScan is built driver-side
    q_local = None if single else local_df(spark, qrows, q.schema)

    def score_pairs(pairs: list) -> list:
        """One job scoring (qid, node) pairs with the same JVM double
        arithmetic as the distributed loop (distance_to_expr renders the
        identical fold — see _DIST_SQL). Single-query workloads take a
        pure IN-probe scan (no join, no broadcast); batches prefilter the
        scan with the same IN and attach qid via local-relation joins."""
        ids = sorted({n for _, n in pairs})
        pred = int_in_expr("node", ids) if len(ids) <= max_isin else None
        if single and pred is not None:
            qid0 = qids[0]
            return [
                (qid0, r["node"], r["dist"])
                for r in base.filter(pred)
                .select("node", l2_distance_to("__nv", q_vec).alias("dist"))
                .collect()
            ]
        pdf = local_df(spark, pairs, pair_schema)
        scan = base.filter(pred) if pred is not None else base
        ql = (q_local if q_local is not None
              else local_df(spark, qrows, q.schema))
        return [
            (r["qid"], r["node"], r["dist"])
            for r in scan.join(F.broadcast(pdf), "node")
            .join(F.broadcast(ql), "qid")
            .withColumn("dist", l2_distance(F.col("__qv"), F.col("__nv")))
            .select("qid", "node", "dist")
            .collect()
        ]

    if entry_ids is not None:
        seeds = [int(i) for i in entry_ids]
    else:
        seeds = [r["node"] for r in
                 base.select("node").orderBy(F.col("node").asc())
                 .limit(entry_points).collect()]
    seed_pairs = sorted({(qid, n) for qid in qids for n in seeds})
    if seed_pairs:
        for qid, node, dist in score_pairs(seed_pairs):
            visited[qid][node] = dist

    adj = graph.select("src", "dst")
    for _ in range(max_hops):
        beams: dict = {}
        for qid in qids:
            beams[qid] = sorted(visited[qid].items(),
                                key=lambda kv: (kv[1], kv[0]))[:beam]
        beam_ids = sorted({n for top in beams.values() for n, _ in top})
        if not beam_ids:
            break
        # hop job 1: successors of every beam node (pruned adjacency probe)
        apred = (int_in_expr("src", beam_ids)
                 if len(beam_ids) <= max_isin else None)
        if apred is not None:
            ascan = adj.filter(apred)
        else:
            bdf = local_df(
                spark, [(n,) for n in beam_ids],
                StructType([StructField("src", node_t)]))
            ascan = adj.join(F.broadcast(bdf), "src")
        succ: dict = {}
        for r in ascan.select("src", "dst").collect():
            succ.setdefault(r["src"], []).append(r["dst"])
        # per-query frontier = successors of ITS beam minus ITS visited
        # set (the distributed loop's dedup + anti-join, replayed exactly)
        new_pairs = sorted({
            (qid, dst)
            for qid, top in beams.items()
            for n, _ in top
            for dst in succ.get(n, ())
            if dst not in visited[qid]
        })
        if not new_pairs:
            break
        # hop job 2: exact scores for the new frontier
        scored = score_pairs(new_pairs)
        if not scored:
            # every frontier node was dangling (absent from base) — the
            # distributed loop's post-join isEmpty break, replayed
            break
        for qid, node, dist in scored:
            visited[qid][node] = dist

    out_schema = StructType([
        StructField(query_id_col, qid_t), StructField(id_col, node_t),
        StructField("dist", DoubleType())])
    rows = []
    for qid in qids:
        top = sorted(visited[qid].items(), key=lambda kv: (kv[1], kv[0]))[:k]
        rows += [(qid, n, d) for n, d in top]
    return local_df(spark, rows, out_schema)


def graph_knn_join(
    points: DataFrame,
    graph: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 16,
    max_hops: int = 4,
    entry_points: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    entry_ids: list[int] | None = None,
    max_driver_queries: int = 4096,
    max_driver_frontier: int = 131072,
) -> DataFrame:
    """Batch beam search: every query's beam advances together, one
    distributed round per hop — the graph family's ``ivf_knn_join``.

    ``graph_beam_search`` loops on the driver per query; for a query TABLE
    that serializes. Here the whole frontier lives in a DataFrame
    ``(qid, node, dist)`` and each hop is set algebra: window top-``beam``
    per query -> equi-join the adjacency on ``src`` -> anti-join already-
    visited -> join vectors -> score against the (broadcast) query vectors.
    Per-hop state is ≤ queries × (entry_points + hops·beam·degree) rows —
    bounded by the workload, independent of corpus size — and the corpus
    itself is only touched through the two equi-joins, so it is never
    collected, never crossed, and shuffles at most on the candidate ids.
    ``localCheckpoint`` truncates the per-hop lineage (same contract as
    ``dup_components``). No per-query early stop (a fixed ``max_hops``
    rounds); wider beams buy recall exactly as in the single-query form.

    ``queries`` must be modest (it is broadcast to score candidates);
    route bigger workloads through ``graph_knn_join_sliced``. Returns
    (query_id, vec_id, dist),
    ``k`` rows per query, exact distances.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col).alias("qid"),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
    )
    base = points.select(
        F.col(id_col).alias("node"),
        F.col(vec_col).cast("array<double>").alias("__nv"),
    )
    # r14 (guide §1.2/§5): the per-hop beam/frontier bookkeeping is bounded
    # by the WORKLOAD (≤ queries × beam(+degree) rows — the same bound that
    # already makes ``q`` broadcastable), so for modest query tables it
    # lives on the driver and each hop is ONE Spark job (successor scoring)
    # instead of a localCheckpoint + isEmpty pair whose AQE sub-stages
    # fired ~9 jobs/hop. Distances stay JVM-side (same l2_distance
    # expression over the same base rows), so the trace — beam membership,
    # tie order, early-stop hop — is bit-identical to the distributed loop,
    # which remains the path for query tables past ``max_driver_queries``
    # (and is what ``graph_knn_join_sliced`` feeds slice by slice).
    if max_driver_queries:
        qrows = q.limit(max_driver_queries + 1).collect()
        # r15 (VERDICT r14 #1): the driver path's per-hop collect envelope
        # is ~queries × beam × degree tuples, so the dispatch budgets the
        # FRONTIER (queries × beam — degree multiplies inside the bound),
        # not the query count alone: a wide-beam batch that passes the
        # count cap can still blow the collect envelope. Duplicate qids
        # also route distributed — the driver's per-qid dicts would merge
        # them (last score wins) where the distributed window keeps each
        # row, so only the unique-qid workload takes the driver loop.
        if (
            len(qrows) <= max_driver_queries
            and len(qrows) * beam <= max_driver_frontier
            and len({r["qid"] for r in qrows}) == len(qrows)
        ):
            return _graph_knn_join_driver(
                base, graph, q, qrows, k=k, beam=beam, max_hops=max_hops,
                entry_points=entry_points, entry_ids=entry_ids,
                id_col=id_col, query_id_col=query_id_col,
            )
    # medoid seeds (graph_entry_points) when available — shared by every
    # query in the batch; fallback: smallest ids (deterministic but
    # arbitrary, weaker recall far from the id-space corner)
    if entry_ids is not None:
        seeds = base.filter(F.col("node").isin([int(i) for i in entry_ids]))
    else:
        seeds = base.orderBy(F.col("node").asc()).limit(entry_points)
    visited = (
        F.broadcast(q)
        .crossJoin(seeds)
        .withColumn("dist", l2_distance(F.col("__qv"), F.col("__nv")))
        .select("qid", "node", "dist")
        .localCheckpoint()
    )

    def _top(df: DataFrame, n: int) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(
            F.col("dist").asc(), F.col("node").asc())
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n)
            .drop("__rk")
        )

    adj = graph.select(F.col("src"), F.col("dst"))
    for _ in range(max_hops):
        frontier = (
            _top(visited, beam)
            .join(adj, F.col("node") == F.col("src"))
            .select("qid", F.col("dst").alias("node"))
            .dropDuplicates(["qid", "node"])
            .join(visited.select("qid", "node"), ["qid", "node"], "left_anti")
        )
        scored = (
            frontier.join(base, "node")
            .join(F.broadcast(q), "qid")
            .withColumn("dist", l2_distance(F.col("__qv"), F.col("__nv")))
            .select("qid", "node", "dist")
            # checkpoint BEFORE the emptiness test: localCheckpoint is
            # eager, so the hop pipeline runs once and both isEmpty and
            # the union read the materialized result (un-checkpointed,
            # isEmpty would execute the joins a second time)
            .localCheckpoint()
        )
        if scored.isEmpty():
            break
        # both sides are checkpointed; the union's lineage stays max_hops
        # unions deep — no further truncation needed
        visited = visited.unionByName(scored)

    return _top(visited, k).select(
        F.col("qid").alias(query_id_col),
        F.col("node").alias(id_col),
        "dist",
    )


def graph_knn_join_sliced(
    points: DataFrame,
    graph: DataFrame,
    queries: DataFrame,
    slice_rows: int = 1024,
    query_id_col: str = "query_id",
    **kwargs,
) -> DataFrame:
    """``graph_knn_join`` for query tables too big to broadcast whole: the
    workload is hash-sliced into ≤``slice_rows``-query batches and each
    slice runs the batch join independently; results union. Per-slice
    driver state stays bounded (the per-hop frontier is
    queries×beam×degree rows), total work is identical — this is the
    router the batch join's docstring promises for big workloads. Slices
    are deterministic (pmod of the query id).
    """
    import math

    n = queries.count()
    n_slices = max(1, math.ceil(n / slice_rows))
    if n_slices == 1:
        return graph_knn_join(points, graph, queries,
                              query_id_col=query_id_col, **kwargs)
    out = None
    for s_i in range(n_slices):
        part = queries.filter(
            F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(n_slices)) == s_i
        )
        res = graph_knn_join(points, graph, part,
                             query_id_col=query_id_col, **kwargs)
        out = res if out is None else out.unionByName(res)
    return out


def graph_entry_points(
    points: DataFrame,
    n_entry: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> list[int]:
    """Medoid entry points for beam search: k-means the (sampled) corpus
    into ``n_entry`` cells and return the nearest REAL node to each center.

    Beam search seeded from the ``entry_points`` smallest ids starts every
    query in one arbitrary corner of the space — queries landing far from
    it spend their hop budget traversing, not refining (measured as part of
    the 0.662 sf0.1 recall, VERDICT r6 #3/#5). Medoids spread the seeds so
    every query starts within one k-means cell of its target — the HNSW
    upper-layer role, flattened.

    Cost: one driver-side Lloyd fit over a bounded sample + ONE corpus scan
    (per-row distances to ``n_entry`` literal centers, posexplode, per-center
    ``min_by`` argmin — a partial agg, no shuffle of vectors). Deterministic:
    seeded fit, (distance, id) tiebreak.
    """
    import numpy as np

    from vectordb_cloud_spark.operators.ann import _lloyd_fit

    vecs = points.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    # collect exactly what the fit consumes (n_entry*256 rows, matching
    # _fit_blocking's cap), drawn by seeded sample rather than an unordered
    # LIMIT prefix — a prefix on partition-ordered parquet skews the
    # medoids toward the first files
    n_fit = min(max_train_rows, n_entry * 256)
    n_total = vecs.count()
    if n_total > n_fit:
        frac = min(1.0, (n_fit * 1.2) / n_total)
        sample = vecs.select("vec").sample(frac, seed=seed).limit(n_fit).collect()
    else:
        sample = vecs.select("vec").collect()
    X = np.asarray([r["vec"] for r in sample], dtype=np.float64)
    centers = _lloyd_fit(X, min(n_entry, len(X)), seed)
    dists = F.transform(_lit_mat(centers), lambda c: _l2sq_to(F.col("vec"), c))
    rows = (
        vecs.select("id", F.posexplode(dists).alias("c", "d2"))
        .groupBy("c")
        .agg(F.min_by("id", F.struct(F.col("d2"), F.col("id"))).alias("id"))
        .collect()
    )
    return sorted({int(r["id"]) for r in rows})


def knn_graph_persist(graph: DataFrame, path: str,
                      entry_ids: list[int] | None = None) -> None:
    """Write the adjacency table. Kept as plain (src, dst, dist) parquet —
    at real scale write it bucketed by ``src`` (sources/bucketed.py) so a
    beam hop's ``src IN (beam)`` probe prunes files.

    ``entry_ids`` (from ``graph_entry_points``) persists the medoid seeds
    into an underscore-prefixed subdir — hidden from the adjacency scan's
    file index, read back by ``graph_load_entry_points``."""
    graph.select("src", "dst", F.col("dist").cast("double")).write.mode(
        "overwrite"
    ).parquet(path)
    if entry_ids is not None:
        import os

        spark = graph.sparkSession
        # local_df, not createDataFrame(list): the latter plans as a
        # Python-RDD scan whose write spins up a Python worker pass for
        # 8 rows (measured seconds of the build — r15)
        local_df(spark, [(int(i),) for i in entry_ids], "id long").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(path, "_entry_points"))


def knn_graph_persist_bucketed(
    graph: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 64,
    entry_ids: list[int] | None = None,
) -> None:
    """Adjacency as a ``src``-bucketed, sorted catalog table — the layout
    the plain parquet docstring promises for real scale: a beam hop's
    ``src IN (beam)`` probe then prunes to the beam's buckets
    (``SelectedBucketsCount`` in the scan — asserted in
    test_graph_ann.py) instead of opening every adjacency file, so per-hop
    reads are ~|beam|/n_buckets of the layout. Search via
    ``spark.table(table)`` passed as the ``graph`` argument of
    ``graph_beam_search`` / ``graph_knn_join`` — results are identical to
    the plain layout (parity-tested).

    CONF CAVEAT: Spark's ``autoBucketedScan`` silently falls back to a
    normal scan for filter-only plans (no join/agg on the bucket column),
    which drops the pruning — set
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` on the
    session that runs beam searches over this layout (verified in the
    test: 3 of 16 buckets read for a 4-id probe with it off, all files
    with it on).

    ``entry_ids`` persists the medoid seeds beside the table (same
    ``_entry_points`` contract as ``knn_graph_persist``)."""
    from vectordb_cloud_spark.sources.bucketed import write_bucketed_table

    write_bucketed_table(
        graph.select("src", "dst", F.col("dist").cast("double")),
        table, path, "src", n_buckets=n_buckets,
    )
    if entry_ids is not None:
        import os

        spark = graph.sparkSession
        local_df(spark, [(int(i),) for i in entry_ids], "id long").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(path, "_entry_points"))


def graph_coarse_entry_ids(
    points: DataFrame,
    query_vector: list[float],
    n_entry: int = 16,
    sample_mod: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int] | None:
    """PER-QUERY entry selection for large corpora — HNSW's upper layer
    approximated with one bounded scan: brute-force the query against the
    deterministic ~n/``sample_mod`` node sample (``pmod(id, sample_mod)
    == 0``) and return the ``n_entry`` nearest ids as beam-search seeds.

    Why it exists (r11, measured at 1M rows): a FLAT kNN graph loses
    navigability on clumped corpora — each tight cluster's ``degree``
    nearest neighbors are all intra-cluster, so clusters become islands
    and beam search from GLOBAL medoid seeds cannot reach the query's
    cluster at any beam/hop budget (recall 0.000-0.125 at 1M vs 1.000 at
    6k; this is exactly the failure HNSW's hierarchy prevents). Seeding
    from the query's nearest SAMPLE members instead starts the beam
    inside (or next to) the right cluster: recall returns to ~1.0 with
    the REGISTRY beam/hop dials, and the extra cost is one scan of
    n/sample_mod rows — at 100 TB the sample is a separately materialized
    ~3% table (mod-sampling is deterministic, so it stays consistent
    under upserts), the same storage trick as the IVF centroid table.
    Cheap-to-compose alternative: route entries through the IVF sidecar
    when one exists.

    Returns ``None`` when the mod-sample stratum is EMPTY (an id space
    with no multiple of ``sample_mod`` — offset/sparse id allocations):
    ``graph_beam_search`` treats an explicit ``[]`` as "nowhere to start"
    and returns zero hits, so an empty stratum must fall back to the
    graph's default entry selection (persisted medoids), not silently
    zero out recall. Callers pass the result straight through as
    ``entry_ids`` — ``None`` IS the default-seeds signal."""
    from vectordb_cloud_spark.operators.knn import knn_search

    cand = points.filter(
        F.pmod(F.col(id_col), F.lit(int(sample_mod))) == 0)
    hits = knn_search(cand, query_vector, k=n_entry, vector_col=vec_col,
                      tiebreak=id_col)
    entries = [int(r[0]) for r in hits.select(id_col).collect()]
    return entries or None


def graph_load_entry_points(spark, path: str) -> list[int] | None:
    """Read back the medoid entry ids persisted by ``knn_graph_persist``;
    None when the layout predates entry-point persistence."""
    import os

    epath = os.path.join(path, "_entry_points")
    # probe existence through the reader itself (AnalysisException on a
    # missing path) rather than os.path.exists — the layout may live on
    # object storage where a driver-local stat lies and would silently
    # drop back to the weaker smallest-id seeds
    try:
        rows = spark.read.parquet(epath).collect()
    except Exception as exc:  # noqa: BLE001 - PATH_NOT_FOUND is version-variant
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return None
        raise
    return sorted(int(r["id"]) for r in rows)


def graph_beam_search(
    points: DataFrame,
    graph: DataFrame,
    query_vector: list[float],
    k: int = 10,
    beam: int = 16,
    max_hops: int = 4,
    entry_points: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filters=None,
    entry_ids: list[int] | None = None,
) -> DataFrame:
    """Greedy beam search over the kNN graph — HNSW's search loop with the
    frontier as the only driver-side state.

    Start from the persisted medoid ``entry_ids`` when given
    (``graph_entry_points``/``graph_load_entry_points`` — seeds spread
    across the space, the HNSW upper-layer role), else from the
    ``entry_points`` smallest ids (deterministic fallback), then per
    hop: expand the beam's out-edges (broadcast ``isin`` on a list of at
    most beam×degree ids — a pruned probe of the adjacency table), score
    the new candidates exactly against the query, and keep the best
    ``beam`` visited nodes. Stops early when a hop discovers no closer
    node than the current worst beam member. Returns exact distances of
    the best ``k`` visited.

    ``filters`` (a Column predicate over the base table) gives the graph
    family the same filtered-search semantics as the IVF/SQ/exact paths
    (the reference's metadata-filtered search): navigation stays
    UNFILTERED — restricting hops to matching nodes can disconnect the
    graph, the standard filtered-HNSW pitfall — while results are drawn
    only from visited nodes that match. POST-FILTERING ALONE COLLAPSES
    as selectivity rises: the beam converges on the overall nearest
    nodes, while the true filtered top-k sit around overall rank
    ``k·N/m`` (``m`` matching of ``N``) — measured recall 0.812 at 10%
    selectivity, 0.363 at 1%, 0.025 at 0.1% on the 1M clumped corpus
    with UNCORRELATED filters, and 0.125 at any width when the filter
    selects whole clusters (RECALL.md r13 series, incl. the correlated
    adversarial case — geometry-correlated filters belong to the exact
    path over a payload-clustered layout). Filtered queries therefore go
    through the planner every sidecar kind shares
    (``operators.knn.planned_topk``): it serves small matching sets
    exact and audits the navigated answer, and ``graph_widened_search``
    widens the beam for the rest.

    Per hop this is two bounded single-stage actions: (1) an ``src IN
    (beam)`` probe of the adjacency table collecting ≤ beam×degree dst
    ids, (2) an ``id IN (new candidates)`` probe of the base table scoring
    them. Both predicates push down to the scans (row-group/bucket/file
    pruning); there is no shuffle, no broadcast exchange, and no AQE
    replanning anywhere in the loop — r8 measured the broadcast-join
    formulation at ~20 Spark jobs per query (exchange + distinct-shuffle
    jobs per hop) vs ~9 for this shape, a 1.7× latency cut at identical
    results. Dedup and the visited-set subtraction happen driver-side on
    ≤ beam×degree ids. At 100 TB with a src-bucketed adjacency layout,
    both probes stay file-pruned, and the corpus is never shuffled.
    """
    dist_to_q = lambda col: l2_distance_to(col, query_vector)  # noqa: E731
    spark = points.sparkSession
    match_flag = (
        F.lit(True) if filters is None else filters.cast("boolean")
    ).alias("match")

    def _in_ids(col_name: str, ids) -> Column:
        # hot-loop IN predicate: Column.isin(list) marshals every literal
        # through py4j (~0.5 ms each — 576 candidates cost ~0.3 s/hop,
        # measured r9); the shared parsed-SQL rendering is one round trip
        from vectordb_cloud_spark.filters import int_in_expr

        return int_in_expr(col_name, [int(i) for i in ids])

    seed_rows = points.select(
        F.col(id_col).alias("id"),
        dist_to_q(F.col(vec_col)).alias("dist"),
        match_flag,
    )
    if entry_ids is not None and len(entry_ids) == 0:
        # an explicitly EMPTY entry set (e.g. a filtered entry selection
        # that matched nothing) means "nowhere to start", not "use
        # defaults" — return the empty frame instead of silently beam-
        # searching from arbitrary seeds (ADVICE r9). `None` keeps the
        # smallest-id fallback below.
        return points.sparkSession.createDataFrame(
            [], f"{id_col} long, dist double")
    if entry_ids:
        seeds = seed_rows.filter(_in_ids("id", entry_ids))
    else:
        seeds = seed_rows.orderBy(F.col("id").asc()).limit(entry_points)
    visited: dict[int, float] = {}
    matches: dict[int, float] = {}

    def _absorb(rows):
        for r in rows:
            visited[r["id"]] = r["dist"]
            if r["match"]:
                matches[r["id"]] = r["dist"]

    _absorb(seeds.collect())
    beam_ids = sorted(visited, key=lambda i: (visited[i], i))[:beam]

    if not beam_ids:
        # empty collection / no matching seeds: graceful empty result (an
        # `IN ()` probe would not parse)
        return spark.createDataFrame([], f"{id_col} long, dist double")

    for _ in range(max_hops):
        # hop job 1: pruned adjacency probe (src IN beam pushes down);
        # dedup + visited subtraction on the driver — ≤ beam×degree ids
        dst_rows = (
            graph.filter(_in_ids("src", beam_ids))
            .select("dst")
            .collect()
        )
        new_ids = sorted({int(r["dst"]) for r in dst_rows} - visited.keys())
        if not new_ids:
            break
        # hop job 2: pruned base-table probe scores only the new candidates
        scored = (
            points.filter(_in_ids(id_col, new_ids))
            .select(F.col(id_col).alias("id"),
                    dist_to_q(F.col(vec_col)).alias("dist"), match_flag)
            .collect()
        )
        if not scored:
            break
        worst_beam = max(visited[i] for i in beam_ids)
        improved = any(r["dist"] < worst_beam for r in scored)
        _absorb(scored)
        beam_ids = sorted(visited, key=lambda i: (visited[i], i))[:beam]
        if not improved:
            break

    best = sorted(matches.items(), key=lambda kv: (kv[1], kv[0]))[:k]
    return local_df(
        spark,
        [(int(i), float(d)) for i, d in best], f"{id_col} long, dist double"
    )


def graph_widened_search(
    points: DataFrame,
    graph: DataFrame,
    query_vector: list[float],
    m: int | None,
    k: int = 10,
    beam: int = 16,
    cap: int | None = None,
    n_total: int | None = None,
    **nav,
) -> DataFrame | None:
    """The graph kind's ``search(m)`` for ``operators.knn.planned_topk``.

    With ``m`` of ``n_total`` points matching the filter, the filtered
    top-k sit around overall rank ``k·N/m``, so navigation runs with the
    beam widened to ``ceil(2·k·N/m)`` (2x oversampled; per-hop cost stays
    beam×degree probes). Past ``cap`` (default ``max(8·beam, 512)``) the
    filtered top-k live too deep in the unfiltered ranking for navigation
    to reach reliably: this returns None and the planner serves the exact
    filtered top-k (at that band prefer the IVF kinds, which push
    predicates into their pruned scans). ``m`` None navigates with
    ``beam`` as given. ``n_total`` is the corpus count the sidecar stored
    at build time; None counts ``points``. ``nav`` passes through to
    ``graph_beam_search``."""
    if m is not None:
        if n_total is None:
            n_total = points.count()
        needed = -(-2 * int(k) * int(n_total) // max(1, m))  # ceil(2kN/m)
        if needed > (int(cap) if cap else max(8 * int(beam), 512)):
            return None
        beam = max(int(beam), needed)
    return graph_beam_search(points, graph, query_vector, k=k, beam=beam,
                             **nav)
