"""Approximate nearest-neighbor search — the scale path.

The reference delegates ANN to Qdrant's server-side HNSW
(/root/reference/search.py:43); Spark has no built-in HNSW, so this module
provides the two idiomatic distributed substitutes (SURVEY.md §4) — and
``operators/graph_ann.py`` adds the graph family itself (distributed
NSW-style kNN graph + beam search) for parity with what the reference's
server runs:

- **LSH** (MLlib ``BucketedRandomProjectionLSH``, L2-native): hash points
  into buckets; approx kNN / similarity join touch only colliding buckets.
- **IVF** (inverted file via KMeans): partition the collection by nearest
  centroid at build time; at query time route to the ``nprobe`` nearest
  centroids and run *exact* top-k inside those partitions only. With data
  written partitioned by ``centroid_id``, partition pruning means a query
  reads nprobe/k_centroids of the data — this is the design that survives
  100 TB (scan 1-2% of files instead of all).

Recall is validated against exact brute force in tests (knn(k) recall ≥
threshold), the same gate the ANN literature uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_cloud_spark.functions.vector import l2_distance, l2_distance_to
from vectordb_cloud_spark.operators.knn import knn_search


def _to_vector_col(df: DataFrame, array_col: str, vec_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(vec_col, array_to_vector(F.col(array_col).cast("array<double>")))


def lsh_fit(points: DataFrame, vector_col: str = "embedding",
            bucket_length: float = 2.0, num_hash_tables: int = 3):
    """Fit an L2 LSH model. Returns (model, transformed_points)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    pts = _to_vector_col(points, vector_col, "__features")
    lsh = BucketedRandomProjectionLSH(
        inputCol="__features", outputCol="__hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=42,
    )
    model = lsh.fit(pts)
    return model, model.transform(pts)


def lsh_knn(model, points: DataFrame, query_vector: list[float], k: int = 5,
            vector_col: str = "embedding") -> DataFrame:
    """Approximate top-k via LSH bucket probing (ascending L2 distCol)."""
    from pyspark.ml.linalg import Vectors

    pts = _to_vector_col(points, vector_col, "__features")
    hits = model.approxNearestNeighbors(pts, Vectors.dense(query_vector), k, distCol="dist")
    return hits.drop("__features", "__hashes")


def lsh_planes(model) -> list[list[float]]:
    """Extract a fitted BucketedRandomProjectionLSH model's random unit
    vectors (data-independent, seeded) as plain Python lists — the planes
    are what the hash IS; with them in hand, bucketing is pure column
    algebra and the MLlib transform machinery is unnecessary. Cached on
    the model object (r14): the _call_java extraction costs a py4j round
    trip per plane element and models are long-lived fixtures."""
    cached = getattr(model, "_vdb_planes", None)
    if cached is None:
        cached = [[float(x) for x in v.toArray()]
                  for v in model._call_java("randUnitVectors")]
        model._vdb_planes = cached
    return cached


def lsh_bucket_columns(vec: str, planes: list[list[float]], bucket_length: float,
                       projections_per_table: int = 1):
    """MLlib-BRP-identical bucket ids as JVM expressions:
    ``floor(dot(vec, plane) / bucketLength)``. Sequential fold in element
    order — the same double-summation order as MLlib's dot and the DuckDB
    oracle, so bucket boundaries agree bit-for-bit.

    ``projections_per_table`` > 1 AND-composes consecutive planes into one
    compound bucket per table (a string key "h1:h2:...") — the classic
    (AND g, OR b) construction MLlib's BRP lacks. One projection on a
    unit-norm corpus spreads over only ~±4/√dim, so single-projection
    buckets stop discriminating as n grows; AND-ing g projections drives a
    random pair's collision odds down multiplicatively while a near-pair
    (whose projected gap is << bucket_length) keeps most of its odds.
    """
    g = projections_per_table
    if len(planes) % g:
        raise ValueError(f"{len(planes)} planes not divisible by group {g}")
    # one parsed-SQL expression per plane (r14): the Column-builder form
    # marshalled every plane element through py4j (dim lits + array + two
    # lambdas per plane ≈ 1.4s of pure driver time at 18 planes × dim 64,
    # measured). Same expression tree after parsing — zip_with/aggregate
    # fold in element order, floats rendered by repr (exact round-trip),
    # so bucket boundaries stay bit-identical to MLlib and the oracle.
    if not isinstance(vec, str):
        raise TypeError(f"vec must be a column name, not {type(vec).__name__}")
    c = f"`{vec}`"
    floors = []
    for u in planes:
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in u) + ")"
        dot = (f"aggregate(zip_with({c}, {arr}, (a, b) -> a * b), "
               "0.0D, (acc, x) -> acc + x)")
        floors.append(
            f"CAST(FLOOR({dot} / {float(bucket_length)!r}D) AS BIGINT)")
    if g == 1:
        return [F.expr(e) for e in floors]
    return [
        F.expr("concat_ws(':', " + ", ".join(
            f"CAST({e} AS STRING)" for e in floors[t * g:(t + 1) * g]) + ")")
        for t in range(len(planes) // g)
    ]


def lsh_self_join_pairs(model, points: DataFrame, threshold: float,
                        id_col: str = "vec_id",
                        vector_col: str = "embedding",
                        projections_per_table: int = 1) -> DataFrame:
    """Self similarity join returning unordered pairs (id_a < id_b, dist).

    Produces the same pair set as ``approxSimilarityJoin(x, x, t)`` filtered
    to ``id_a < id_b`` (collision in >= 1 hash table, exact L2 verify), but
    HALVES the candidate space before the distance computation: the banded
    (id, table, bucket) self equi-join carries ``l.id < r.id`` in the join
    condition, so mirror pairs and self-pairs never materialize — MLlib's
    two-sided explode join computes a distance for every ordered pair and
    filters after (VERDICT r3 "What's wrong" #3). The join is
    ``dedup.blocked_self_pairs``: it ships only skinny (id, table, bucket)
    rows, joins vectors back per surviving candidate and returns the
    verified pairs materialised.

    The model's hyperplanes are folded in as LITERALS and the buckets
    computed with ``lsh_bucket_columns`` — one whole-stage-codegen scan, no
    MLlib transform.
    """
    from vectordb_cloud_spark.operators.dedup import blocked_self_pairs

    side = points.select(
        F.col(id_col).alias("id"),
        F.col(vector_col).cast("array<double>").alias("vec"),
    )
    buckets = lsh_bucket_columns("vec", lsh_planes(model),
                                 float(model.getBucketLength()),
                                 projections_per_table)
    banded = side.select("id", F.posexplode(F.array(*buckets)).alias("band", "bucket"))
    # strict < matches MLlib approxSimilarityJoin's keyDistance < threshold
    # filter exactly (ADVICE r4): boundary-distance pairs are excluded.
    return blocked_self_pairs(banded, side, lambda pairs: (
        pairs.withColumn("dist", l2_distance(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("dist") < threshold)
        .select("id_a", "id_b", "dist")
    ))


# ---------------------------------------------------------------------------
# IVF: KMeans centroid routing with partition-pruned exact search
# ---------------------------------------------------------------------------

def _lloyd_fit(X, k: int, seed: int, iters: int = 20):
    """Seeded Lloyd's k-means on a driver-side sample. Distances via the
    ||x||²+||c||²-2x·c expansion so memory is O(n·k), never O(n·k·d)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    centers = X[rng.choice(len(X), size=k, replace=False)].copy()
    x_sq = (X * X).sum(1)[:, None]
    for _ in range(iters):
        d2 = x_sq + (centers * centers).sum(1)[None, :] - 2.0 * (X @ centers.T)
        assign = d2.argmin(1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                centers[j] = X[mask].mean(0)
    return centers


def ivf_build(points: DataFrame, k_centroids: int = 16, vector_col: str = "embedding",
              sample_fraction: float = 1.0, seed: int = 42,
              max_train_rows: int = 200_000):
    """Build an IVF index: seeded Lloyd's k-means over a bounded sample of
    the points (collected driver-side — the FAISS-style train-on-sample
    design: centroid quality needs thousands of rows per centroid, not the
    corpus), then one narrow JVM-side pass assigns every point its nearest
    centroid id (``ivf_assign`` — no shuffle, no Python).

    At 100 TB, pass ``sample_fraction`` so fraction × rows lands near
    ``max_train_rows``; the cap is a hard guard — a larger collected sample
    is deterministically truncated, never shipped to numpy whole. (An
    MLlib KMeans fit was measured 5-10× slower here at identical quality:
    per-iteration job scheduling dominates at sane sample sizes.)

    Returns (centroids: list[(id, center)], assigned: DataFrame+centroid_id).
    Persist ``assigned`` partitioned by ``centroid_id`` to get file-level
    pruning at query time.
    """
    import numpy as np

    vec = F.col(vector_col).cast("array<double>")
    train = points.select(vec.alias("__v"))
    if sample_fraction < 1.0:
        train = train.sample(sample_fraction, seed=seed)
    sample = train.limit(max_train_rows).collect()
    X = np.asarray([r["__v"] for r in sample], dtype=np.float64)
    centers_np = _lloyd_fit(X, k_centroids, seed)
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(centers_np)]
    # fan the assignment out (r15, guide §2.5): the per-row k×dim distance
    # folds are interpreted higher-order functions and a single-file corpus
    # scans as one task (measured 2.5s single-threaded at sf0.1); no-op on
    # multi-file tables at scale. Assignment is per-row, so partitioning
    # cannot change any centroid id.
    from vectordb_cloud_spark.session import parallelize_narrow

    assigned = ivf_assign(parallelize_narrow(points), centers, vector_col)
    return centers, assigned


def route_probe_ids(centers: list, query_vector: list[float],
                    nprobe: int) -> list:
    """Driver-side centroid routing shared by every IVF-family search
    (ivf_search, ivf_sq_search): the query's ``nprobe`` nearest centroid
    ids. Stable sort — equal-distance centroids keep centroid_id order, so
    probe selection is deterministic (the DuckDB oracle mirrors this with
    ORDER BY dist, centroid_id)."""
    import math

    def _l2(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    probe = sorted(centers, key=lambda c: _l2(c[1], query_vector))[:nprobe]
    return [c[0] for c in probe]


def ivf_search(assigned: DataFrame, centers: list, query_vector: list[float],
               k: int = 5, nprobe: int = 2, vector_col: str = "embedding",
               filters=None, tiebreak: str | None = None) -> DataFrame:
    """Route the query to its ``nprobe`` nearest centroids, then exact top-k
    inside only those inverted lists.

    Centroid routing happens driver-side (centers are tiny — k_centroids
    rows); the ``centroid_id IN (...)`` predicate prunes partitions/files at
    the scan, so the exact search touches nprobe/k of the collection.
    """
    probe_ids = route_probe_ids(centers, query_vector, nprobe)
    pred = F.col("centroid_id").isin(probe_ids)
    if filters is not None:
        pred = pred & filters
    return knn_search(assigned, query_vector, k=k, vector_col=vector_col,
                      filters=pred, tiebreak=tiebreak)


def ivf_persist(assigned: DataFrame, path: str) -> None:
    """Persist an IVF-assigned collection partitioned by centroid_id — the
    on-disk layout that turns nprobe routing into FILE pruning: a query
    reads only the nprobe/k_centroids partition directories.

    Hash-distributed by centroid_id before the write (r14, guide §6): a
    narrow input otherwise funnels every partition directory through one
    task — k_centroids sequential file creates (measured 13.3s → 7.4s at
    k=192 on the sf0.1 fixture). The shuffle also guarantees one output
    file per inverted list instead of one per (input task × centroid)."""
    n = assigned.sparkSession.sparkContext.defaultParallelism
    (assigned.repartition(n, "centroid_id")
     .write.mode("overwrite").partitionBy("centroid_id").parquet(path))


def ivf_search_persisted(spark, path: str, centers: list, query_vector: list[float],
                         k: int = 5, nprobe: int = 2,
                         vector_col: str = "embedding", filters=None,
                         tiebreak: str | None = None) -> DataFrame:
    """IVF search against the partitioned layout. The ``centroid_id IN``
    predicate lands in the scan's PartitionFilters (verified in tests), so
    unprobed inverted lists are never opened."""
    assigned = spark.read.parquet(path)
    return ivf_search(assigned, centers, query_vector, k=k, nprobe=nprobe,
                      vector_col=vector_col, filters=filters, tiebreak=tiebreak)


def ivf_assign(new_points: DataFrame, centers: list,
               vector_col: str = "embedding",
               max_literal_cells: int = 1024) -> DataFrame:
    """Assign each point its nearest EXISTING centroid — the incremental
    path: no KMeans refit, no shuffle. Assignment is one narrow map:
    distances via transform+zip_with, argmin via
    array_position(array_min). Works identically on a stream.

    Small centroid sets (k×dim ≤ ``max_literal_cells``) fold in as a
    literal array; larger ones ride as DATA — a 1-row broadcast frame
    crossJoined in — because Spark rebuilds a CreateArray of literals PER
    ROW interpreted (~1 ms/row measured at 4096 cells, the r8 PQ-LUT
    lesson), which would make a √n-centroid assignment pass crawl."""
    ordered = [c for _, c in sorted(centers)]
    dim = len(ordered[0]) if ordered else 0
    vec = F.col(vector_col).cast("array<double>")
    if len(ordered) * dim <= max_literal_cells:
        centers_arr = F.array(*[
            F.array(*[F.lit(float(x)) for x in c]) for c in ordered
        ])
        df = new_points
    else:
        spark = new_points.sparkSession
        from vectordb_cloud_spark.session import local_df

        cdf = local_df(
            spark,
            [([[float(x) for x in c] for c in ordered],)],
            "__centers array<array<double>>",
        )
        df = new_points.crossJoin(F.broadcast(cdf))
        centers_arr = F.col("__centers")
    dists = F.transform(
        centers_arr,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    # ids were generated densely 0..k-1 by ivf_build; sorted() above keeps
    # array order aligned with id order so position-1 IS the centroid id
    return df.withColumn(
        "centroid_id",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    ).drop("__centers")


def ivf_append(new_points: DataFrame, centers: list, path: str,
               vector_col: str = "embedding") -> None:
    """Incremental IVF maintenance: route new vectors to their inverted
    lists and APPEND — existing partition files are never rewritten, so
    ingest cost is O(batch) while the query path (partition-pruned
    ivf_search_persisted) picks the rows up immediately. Centroids drift as
    data grows; monitor with ivf_partition_stats / ivf_needs_rebuild and
    retrain+rewrite (ivf_build + ivf_persist) when triggered — the classic
    FAISS add-then-retrain operating cycle, distributed."""
    assigned = ivf_assign(new_points, centers, vector_col)
    # a NULL or wrong-dimension vector gets a NULL centroid_id; written, it
    # would land in the HIVE default partition where no probe ever looks —
    # fail loudly instead of losing rows silently
    bad = assigned.filter(F.col("centroid_id").isNull()).limit(1).count()
    if bad:
        raise ValueError(
            "ivf_append: batch contains NULL or dimension-mismatched "
            f"vectors in {vector_col!r} (centroid assignment undefined)"
        )
    assigned.write.mode("append").partitionBy("centroid_id").parquet(path)


def ivf_compact(spark, path: str, target_rows_per_file: int = 1_000_000,
                only_centroids: list[int] | None = None) -> int:
    """Compact the small files streaming appends leave in the IVF layout.

    Each ``ivf_append`` micro-batch adds one file per touched inverted list;
    after N batches a probe opens N small files per list — the classic
    streaming small-file problem, paid on every query. This rewrites each
    inverted list to ``ceil(rows / target_rows_per_file)`` files. Listing
    and rewriting is per-partition-directory, so only the lists named in
    ``only_centroids`` (default: all) are touched and the rewrite
    parallelizes across lists; at 100 TB run it per-list from the
    imbalance/partition stats rather than wholesale. Epoch markers
    (``_epochs/``) are preserved — compaction changes layout, not content,
    so replay idempotence survives. Returns the number of lists rewritten.
    """
    import math
    import os
    import shutil

    listed = [
        d for d in os.listdir(path)
        if d.startswith("centroid_id=") and os.path.isdir(os.path.join(path, d))
    ]
    if only_centroids is not None:
        keep = {f"centroid_id={c}" for c in only_centroids}
        listed = [d for d in listed if d in keep]
    rewritten = 0
    for d in listed:
        part_dir = os.path.join(path, d)
        files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        if len(files) <= 1:
            continue
        df = spark.read.parquet(part_dir)
        n = df.count()
        n_files = max(1, math.ceil(n / target_rows_per_file))
        # staging/backup names are DOT-prefixed: Spark's file index ignores
        # hidden dirs, so a crash mid-swap never leaves a directory that
        # partition discovery would misparse as a centroid_id value. Swap is
        # rename(live -> .old) + rename(.staging -> live) + delete(.old):
        # the data always exists under some name; the only crash window
        # (between the two renames) leaves the list recoverable in .old
        # rather than silently merged or type-corrupting the layout. Run
        # compaction offline of queries — a reader mid-swap can still see a
        # missing list for an instant.
        staging = os.path.join(path, f".compact_{d}")
        backup = os.path.join(path, f".old_{d}")
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(backup, ignore_errors=True)
        df.coalesce(n_files).write.mode("overwrite").parquet(staging)
        # drop _SUCCESS/CRC clutter before the dir goes live
        for junk in ("_SUCCESS", "._SUCCESS.crc"):
            j = os.path.join(staging, junk)
            if os.path.exists(j):
                os.remove(j)
        os.rename(part_dir, backup)
        os.rename(staging, part_dir)
        shutil.rmtree(backup)
        rewritten += 1
    return rewritten


def ivf_partition_stats(spark, path: str, centers: list,
                        vector_col: str = "embedding") -> DataFrame:
    """Per-inverted-list health: row count and mean squared distance to the
    centroid (quantization error). One aggregation over the layout; at scale
    the count side is answerable from parquet footers alone."""
    df = spark.read.parquet(path)
    centers_arr = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for _, c in sorted(centers)
    ])
    vec = F.col(vector_col).cast("array<double>")
    sq = F.aggregate(
        F.zip_with(vec, F.element_at(centers_arr, F.col("centroid_id") + 1),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df.withColumn("__sq", sq)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"), F.avg("__sq").alias("mean_sq_dist"))
    )


def ivf_needs_rebuild(stats: DataFrame, max_imbalance: float = 4.0) -> bool:
    """Rebuild trigger: the largest inverted list exceeding ``max_imbalance``
    x the mean list size means nprobe routing no longer bounds scan cost
    (one hot list dominates every probe) — time to retrain. ``stats`` is
    k_centroids rows, so this is a driver-side check."""
    rows = stats.select("n").collect()
    if not rows:
        return False
    counts = [r["n"] for r in rows]
    return max(counts) > max_imbalance * (sum(counts) / len(counts))


def ivf_knn_join(
    queries: DataFrame,
    assigned: DataFrame,
    centers: list,
    k: int = 5,
    nprobe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    point_id: str = "vec_id",
    point_vec: str = "embedding",
) -> DataFrame:
    """Batch ANN join: every query row finds its approximate top-k among the
    IVF-assigned points — the scale path when BOTH sides are large (the
    brute-force ``knn_batch`` broadcast is exact but O(|Q|·|P|)).

    Plan: queries × broadcast(centers) (centers are k_centroids rows — tiny)
    -> window-rank keeps each query's ``nprobe`` nearest centroids -> the
    (query, centroid_id) routing table equi-joins the points on
    ``centroid_id`` -> exact distance + top-k per query. Every join is an
    equi-join on centroid_id; a query only ever meets the points in its
    probed inverted lists, so the pair space is nprobe/k_centroids of the
    brute-force cross product and shrinks further as k_centroids grows.
    """
    from pyspark.sql import Window

    spark = queries.sparkSession
    from vectordb_cloud_spark.session import local_df

    centers_df = local_df(
        spark,
        [(i, c) for i, c in centers], "centroid_id int, __center array<double>"
    )
    q = queries.select(F.col(query_id), F.col(query_vec).alias("__qvec"))
    routed = q.crossJoin(F.broadcast(centers_df)).withColumn(
        "__cdist",
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("__qvec").cast("array<double>"), "__center",
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    w_route = Window.partitionBy(query_id).orderBy(F.col("__cdist").asc(), F.col("centroid_id").asc())
    routing = (
        routed.withColumn("__rk", F.row_number().over(w_route))
        .filter(F.col("__rk") <= nprobe)
        .select(query_id, "__qvec", "centroid_id")
    )
    pts = assigned.select(F.col(point_id), F.col(point_vec).alias("__pvec"), "centroid_id")
    cand = routing.join(pts, "centroid_id")
    scored = cand.withColumn("dist", l2_distance(F.col("__pvec"), F.col("__qvec")))
    w_k = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col(point_id).asc())
    return (
        scored.withColumn("__rk", F.row_number().over(w_k))
        .filter(F.col("__rk") <= k)
        .select(query_id, point_id, "dist")
    )


def brute_force_topk(points: DataFrame, query_vector: list[float], k: int,
                     vector_col: str = "embedding", filters=None) -> DataFrame:
    """Exact baseline used for recall measurement."""
    return knn_search(points, query_vector, k=k, vector_col=vector_col, filters=filters)


def recall_at_k(approx: DataFrame, exact: DataFrame, id_col: str) -> float:
    """|approx ∩ exact| / k — the standard ANN quality metric."""
    a = {r[0] for r in approx.select(id_col).collect()}
    e = [r[0] for r in exact.select(id_col).collect()]
    return len(a.intersection(e)) / max(1, len(e))
