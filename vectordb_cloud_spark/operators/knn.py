"""Top-k nearest-neighbor search — the engine's centerpiece operator.

Reference semantics (/root/reference/search.py:43-48): one query vector vs
all points passing a mandatory tenant filter (+ optional site/lang equality
filters), top-k ascending by Euclidean distance, executed inside Qdrant.
Here it is a declarative Spark plan:

    scan(parquet, pushed filters, pruned columns)
      -> l2 distance column expression (JVM codegen, no UDF)
      -> ORDER BY dist LIMIT k

Catalyst compiles the ORDER BY + LIMIT into ``TakeOrderedAndProject`` — a
per-partition bounded heap + driver-side merge of k rows per partition. No
global sort, no shuffle of the full table: at 100 TB this is a single map
pass over the (filter-pruned) scan, which is the optimal exact plan.

Batched kNN (many queries at once) broadcasts the query side and window-ranks
per query — the scan side never shuffles.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

import math

from vectordb_cloud_spark.functions.vector import (cosine_similarity, distance_to_expr,
                                                   l2_distance, l2_distance_to,
                                                   lit_double_array)


# candidate sets at or below this size restrict a scan with a driver-side
# IN predicate instead of a broadcast semi join: on an id-sorted layout
# parquet min/max row-group stats prune the probe to the row groups that
# actually hold candidates, so the scan cost tracks the CANDIDATE count,
# not the corpus (SCALE.md textindex rows). Larger or non-integral sets
# keep the join (never collect unbounded ids).
ID_PUSHDOWN_MAX = 4096


def restrict_to_ids(
    points: DataFrame,
    cand: DataFrame,
    id_col: str = "id",
    max_ids: int = ID_PUSHDOWN_MAX,
) -> DataFrame:
    """Restrict ``points`` to the ids in ``cand`` (one id column): bounded
    collect (``limit(max_ids + 1)``) + one parsed SQL ``IN`` predicate for
    small integral sets (``filters.int_in_expr``), broadcast left-semi
    join otherwise. The shared primitive behind the routed-text candidate
    pushdown (collections) and the prefetch-funnel stage handoff
    (query_api)."""
    from vectordb_cloud_spark.filters import int_in_expr

    rows = cand.limit(max_ids + 1).collect()
    if len(rows) <= max_ids:
        if not rows:
            return points.filter(F.lit(False))
        pred = int_in_expr(id_col, sorted(r[0] for r in rows)) \
            if all(isinstance(r[0], int) and not isinstance(r[0], bool)
                   for r in rows) else None
        if pred is not None:
            return points.filter(pred)
    return points.join(F.broadcast(cand), id_col, "left_semi")


def knn_search(
    points: DataFrame,
    query_vector: list[float],
    k: int = 5,
    vector_col: str = "embedding",
    filters: Column | None = None,
    metric: str = "l2",
    dist_col: str = "dist",
    tiebreak: str | None = None,
) -> DataFrame:
    """Exact filtered top-k search for a single query vector.

    Mirrors GET /search (/root/reference/app.py:58-75): ``filters`` carries
    the tenant/site/lang predicate conjunction (pushed down to the parquet
    scan by Catalyst — the reference pushed these to Qdrant, search.py:37-45).
    Ascending L2, exactly the reference's EUCLID ordering.

    ``tiebreak``: optional id column appended ascending to the ordering so
    equal-distance rows at the k boundary (duplicate vectors exist in real
    corpora) return deterministically — pass the point id column whenever the
    result feeds an exact comparison.
    """
    if not query_vector:
        # zip_with null-pads the shorter side, so an empty query would
        # yield NULL distances on every metric (and the one-expr dot path
        # returned None outright, r10 review) — fail loudly instead
        raise ValueError("query_vector must be non-empty")
    df = points if filters is None else points.filter(filters)
    if metric == "l2":
        dist = l2_distance_to(vector_col, query_vector)
        order = [F.col(dist_col).asc()]
    elif metric == "cosine":
        from vectordb_cloud_spark.functions.vector import cosine_similarity_to

        dist = cosine_similarity_to(vector_col, query_vector)
        order = [F.col(dist_col).desc()]
    elif metric == "dot":
        # Qdrant Distance.DOT: similarity, descending
        from vectordb_cloud_spark.functions.vector import dot_product

        # distance_to_expr returns None when inexpressible as one SQL
        # parse (non-finite values OR an empty query vector) — fall back
        # to the Column builders, never pass None to withColumn
        _e = distance_to_expr(vector_col, query_vector, "dot")
        dist = (_e if _e is not None
                else dot_product(F.col(vector_col),
                                 lit_double_array(query_vector)))
        order = [F.col(dist_col).desc()]
    elif metric == "manhattan":
        from vectordb_cloud_spark.functions.vector import manhattan_distance_to

        dist = manhattan_distance_to(vector_col, query_vector)
        order = [F.col(dist_col).asc()]
    else:
        raise ValueError(f"unknown metric {metric!r}")
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    return df.withColumn(dist_col, dist).orderBy(*order).limit(k)


def knn_batch(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    points_vec: str = "embedding",
    queries_vec: str = "embedding",
    query_id: str = "query_id",
    metric: str = "l2",
    dist_col: str = "dist",
    exclude_self: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Exact top-k for a *batch* of query vectors.

    Plan: broadcast(queries) × points cross join -> distance expr -> window
    rank per query -> rank <= k. The big (points) side streams through
    map-side only; the broadcast replaces what would otherwise be an O(n)
    shuffle. Correct plan shape for "many small query batches vs one huge
    collection" at scale. For queries too large to broadcast, chunk the
    query side and union — never shuffle the points side.

    ``exclude_self``: name of an id column present on both sides (aliased
    q./p.) to drop the trivial self-match in self-join workloads.
    """
    q = queries.select(
        F.col(query_id),
        F.col(queries_vec).alias("__qvec"),
        *([F.col(exclude_self).alias("__qid_self")] if exclude_self else []),
    )
    joined = points.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(exclude_self) != F.col("__qid_self"))
    if metric == "l2":
        dist = l2_distance(F.col(points_vec), F.col("__qvec"))
        order = [F.col(dist_col).asc()]
    elif metric == "cosine":
        dist = cosine_similarity(F.col(points_vec), F.col("__qvec"))
        order = [F.col(dist_col).desc()]
    else:
        raise ValueError(f"unknown metric {metric!r}")
    scored = joined.withColumn(dist_col, dist)
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__qvec", "__rk", "__qid_self")
    )


def knn_join_exact(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str,
    right_id: str,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    metric: str = "l2",
) -> DataFrame:
    """All-pairs exact kNN join (each left row -> its k nearest right rows).

    Broadcast the smaller (left/query) side; for two huge sides use the LSH /
    IVF approximate paths in ``vectordb_cloud_spark.operators.ann`` instead —
    an exact all-pairs join is inherently O(|L|·|R|).
    """
    q = left.select(F.col(left_id).alias("query_id"), F.col(left_vec).alias("embedding"))
    return knn_batch(
        right.select(F.col(right_id), F.col(right_vec).alias("__pvec")),
        q,
        k=k,
        points_vec="__pvec",
        metric=metric,
    ).drop("__pvec")


def search_response(hits: DataFrame, id_col: str = "text_id", text_col: str = "text", dist_col: str = "dist") -> DataFrame:
    """Project hits to the reference's response shape
    ``[{id, string, score}]`` (/root/reference/app.py:73-74)."""
    return hits.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("string"),
        F.col(dist_col).alias("score"),
    )


def exact_rescore_topk(
    points: "DataFrame",
    candidates: "DataFrame",
    query_vector: list[float],
    k: int,
    id_col: str,
    vector_col: str = "embedding",
) -> "DataFrame":
    """Shared second stage of every two-stage ANN path (PQ rerank, BQ
    hamming, IVF-SQ): ``candidates`` is a one-column frame of ids (any
    column name) produced by a cheap first pass; it broadcasts into the
    base-table join (no driver round trip), survivors get exact L2 against
    the query, deterministic (dist, id) top-k comes back."""
    cand = candidates.select(
        F.col(candidates.columns[0]).alias("__cand")
    )
    rescored = (
        points.join(F.broadcast(cand), F.col(id_col) == F.col("__cand"))
        .withColumn("dist", l2_distance_to(vector_col, query_vector))
    )
    return (
        rescored.select(id_col, "dist")
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def facet_counts(
    points: DataFrame,
    facet_cols: list[str],
    filters: Column | None = None,
    max_values_per_facet: int = 20,
) -> DataFrame:
    """Per-facet value counts under a filter — the facet API vector engines
    expose next to search (Qdrant's /facet), relationally.

    All facets are counted in ONE pass: each row is melted to
    (facet, value) pairs via an inline array-of-structs explode (no
    ``stack``-per-column rescans), then a single partial-agg groupBy
    counts, and a per-facet window keeps the ``max_values_per_facet`` most
    frequent values (count desc, value asc — deterministic). NULLs are
    excluded, matching facet-API semantics. Returns
    (facet, value, n) ordered for display.
    """
    from pyspark.sql import Window

    if not facet_cols:
        raise ValueError("facet_cols must name at least one column")
    df = points if filters is None else points.filter(filters)
    melted = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("facet"),
                    F.col(c).cast("string").alias("value"),
                )
                for c in facet_cols
            ])
        ).alias("fv")
    ).select("fv.facet", "fv.value").filter(F.col("value").isNotNull())
    counts = melted.groupBy("facet", "value").agg(F.count("*").alias("n"))
    w = Window.partitionBy("facet").orderBy(
        F.col("n").desc(), F.col("value").asc())
    return (
        counts.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= max_values_per_facet)
        .drop("__rk")
        .orderBy("facet", F.col("n").desc(), "value")
    )


def search_with_facets(
    points: DataFrame,
    query_vector: list[float],
    facet_cols: list[str],
    k: int = 5,
    vector_col: str = "embedding",
    filters: Column | None = None,
    metric: str = "l2",
    tiebreak: str | None = None,
    max_values_per_facet: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Top-k hits plus facet counts over the SAME filtered corpus — the
    faceted-search response shape. Two scans of the filtered set (top-k +
    one-pass facet agg); cache the filtered frame upstream if both run hot.
    Returns (hits, facets)."""
    hits = knn_search(points, query_vector, k=k, vector_col=vector_col,
                      filters=filters, metric=metric, tiebreak=tiebreak)
    facets = facet_counts(points, facet_cols, filters=filters,
                          max_values_per_facet=max_values_per_facet)
    return hits, facets


def recommend(
    points: DataFrame,
    positive_ids: list,
    negative_ids: list | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    filters: Column | None = None,
    tiebreak: str | None = None,
    strategy: str = "average_vector",
    lookup_from: DataFrame | None = None,
    score_threshold: float | None = None,
) -> DataFrame:
    """Recommendation search from example points — the /recommend API with
    both Qdrant strategies. ``positive_ids``/``negative_ids`` follow
    Qdrant's RecommendInput: each element is a stored point ID or a raw
    example VECTOR (list/array) — ids are fetched with one bounded probe
    and excluded from the results; raw vectors join the example pool
    directly and exclude nothing. ``average_vector`` (default): the query
    vector is mean(positive vectors) − mean(negative vectors), then one
    ordinary exact top-k. ``best_score``: per point, score = max similarity to any
    positive; points whose best NEGATIVE beats their best positive rank
    below every clean point, ordered by how negative-like they are —
    computed as |P|+|N| fused distance folds in ONE scan, no per-example
    passes.

    Note on ``best_score`` parity: Qdrant's published formula
    (``score = best_pos if best_pos > best_neg else -(best_neg^2)``) is a
    SINGLE ordering in which a weakly-contaminated point can outrank a
    distant clean point — and on the euclidean similarity scale
    (sim = −dist ≤ 0) squaring inverts the contaminated sub-order, so a
    point sitting exactly on a negative ties with one on a positive. This
    implementation is a deliberate two-tier variant: ALL clean points rank
    first (by nearest-positive distance), then contaminated points,
    least-negative-like first. Rankings can differ from Qdrant for inputs
    where those orderings diverge.

    The example vectors are fetched with one bounded ``isin`` probe (a few
    ids, file-skippable at scale); both strategies stay a single map pass +
    TakeOrderedAndProject — compose with the ANN layouts by passing their
    probe predicate as ``filters``.

    ``lookup_from``: Qdrant's recommend lookup_from — the example ids
    resolve against a SECOND collection (same ``id_col``/``vector_col``
    naming), e.g. recommend movies from liked books. The searched
    collection's points are then NOT excluded by id (the id spaces are
    unrelated).

    ``score_threshold``: Qdrant accepts score_threshold on recommend; the
    cut here follows this engine's distance convention (published scores
    are distances, lower is better — results with ``dist > t`` are
    excluded). ``average_vector`` is a plain dense leg, so the cut is the
    ordinary monotone distance cut. ``best_score`` ranks in two tiers
    (clean points first — see the parity note above), so the threshold is
    a bound on the PRIMARY score, the clean tier's nearest-positive
    distance: clean points pass iff that distance is <= t, and
    contaminated points — which Qdrant's own formula scores as
    ``-(best_neg²)``, below any practical threshold — are always excluded
    when a threshold is given. That keeps the cut a PREFIX of the tiered
    ranking (monotone-in-rank, Qdrant's cut-then-limit semantics) instead
    of a numeric cut on the composite published score, which would
    nonsensically admit contaminated points (their published score is
    ``-best_neg <= 0``).
    """
    import math

    import numpy as np

    from vectordb_cloud_spark.functions.vector import l2_distance_to

    negative_ids = list(negative_ids or [])
    positive_ids = list(positive_ids)
    if not positive_ids:
        raise ValueError("recommend needs at least one positive example id")
    if strategy not in ("average_vector", "best_score"):
        raise ValueError(f"unknown recommend strategy {strategy!r}")
    if score_threshold is not None:
        score_threshold = float(score_threshold)
        if not math.isfinite(score_threshold):
            # NaN compares false everywhere — it would silently empty the
            # result instead of failing validation (query_points' rule)
            raise ValueError("score_threshold must be finite")
    def _split(examples):
        # Qdrant's RecommendInput takes point IDs or raw example VECTORS
        # in the same list (r12); vectors skip the fetch and the exclusion
        ids, vecs = [], []
        for x in examples:
            # numpy SCALARS (np.int64 ids from collected pipelines) expose
            # __array__ as a 0-d array — only 1-d+ objects are vectors
            if isinstance(x, (list, tuple)) or (
                    hasattr(x, "__array__") and np.ndim(x) > 0):
                vecs.append(np.asarray([float(v) for v in x],
                                       dtype=np.float64))
            else:
                ids.append(x)
        return ids, vecs

    pos_ids, pos_vecs = _split(positive_ids)
    neg_ids, neg_vecs = _split(negative_ids)
    all_ids = pos_ids + neg_ids
    example_src = points if lookup_from is None else lookup_from
    rows = (
        example_src.filter(F.col(id_col).isin(all_ids))
        .select(F.col(id_col).alias("__id"),
                F.col(vector_col).cast("array<double>").alias("__v"))
        .collect()
    ) if all_ids else []
    found = {r["__id"]: np.asarray(r["__v"], dtype=np.float64) for r in rows}
    missing = [i for i in all_ids if i not in found]
    if missing:
        # 404 at the HTTP layer, ValueError to library callers
        from vectordb_cloud_spark.errors import PointNotFoundError

        raise PointNotFoundError(
            f"example ids not found in collection: {missing}")
    pos_pool = [found[i] for i in pos_ids] + pos_vecs
    neg_pool = [found[i] for i in neg_ids] + neg_vecs
    if lookup_from is None and all_ids:
        not_example = ~F.col(id_col).isin(all_ids)
        pred = not_example if filters is None else (filters & not_example)
    else:
        pred = filters  # foreign id space / vector-only examples: nothing
        # to exclude
    if strategy == "average_vector":
        q = np.mean(pos_pool, axis=0)
        if neg_pool:
            q = q - np.mean(neg_pool, axis=0)
        out = knn_search(points, [float(x) for x in q], k=k,
                         vector_col=vector_col, filters=pred,
                         tiebreak=tiebreak)
        if score_threshold is not None:
            # dist ranks ascending — the post-top-k cut is exact
            out = out.filter(F.col("dist") <= F.lit(score_threshold))
        return out
    # best_score: similarity = -L2 distance; all example folds fuse into
    # one projection over the scan
    best_pos = F.least(*[
        l2_distance_to(F.col(vector_col), [float(x) for x in v])
        for v in pos_pool
    ]) if len(pos_pool) > 1 else l2_distance_to(
        F.col(vector_col), [float(x) for x in pos_pool[0]])
    df = points.filter(pred) if pred is not None else points
    if neg_pool:
        best_neg = F.least(*[
            l2_distance_to(F.col(vector_col), [float(x) for x in v])
            for v in neg_pool
        ]) if len(neg_pool) > 1 else l2_distance_to(
            F.col(vector_col), [float(x) for x in neg_pool[0]])
        # clean points (closer to a positive than any negative) rank by
        # their positive distance; contaminated points sort AFTER every
        # clean point, the most negative-like last. Ordering is a
        # (flag, key) pair — NOT a single offset-by-a-huge-constant float,
        # whose ULP at 1e18 (~128) would collapse all contaminated keys to
        # one value and destroy their relative order
        contaminated = best_pos >= best_neg
        key = F.when(contaminated, -best_neg).otherwise(best_pos)
        df = (
            df.withColumn("__bad", contaminated.cast("int"))
            .withColumn("__key", key)
            .withColumn("dist", F.round(key, 6))
        )
        if score_threshold is not None:
            # prefix cut on the tiered ranking (docstring): clean points
            # within the published primary-score bound; contaminated out
            df = df.filter((F.col("__bad") == 0)
                           & (F.col("dist") <= F.lit(score_threshold)))
        order = [F.col("__bad").asc(), F.col("__key").asc()]
        if tiebreak is not None:
            order.append(F.col(tiebreak).asc())
        return df.orderBy(*order).limit(k).drop("__bad", "__key")
    order = [F.col("dist").asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    df = df.withColumn("dist", F.round(best_pos, 6))
    if score_threshold is not None:  # no negatives: every point is clean
        df = df.filter(F.col("dist") <= F.lit(score_threshold))
    return df.orderBy(*order).limit(k)


def search_groups(
    points: DataFrame,
    query_vector: list[float],
    group_by: str,
    k_groups: int = 5,
    hits_per_group: int = 3,
    vector_col: str = "embedding",
    filters: Column | None = None,
    id_col: str | None = None,
    with_lookup: DataFrame | None = None,
    lookup_id_col: str | None = None,
) -> DataFrame:
    """Grouped search — the /search_groups API shape: the best
    ``hits_per_group`` hits per ``group_by`` value, for the ``k_groups``
    groups whose BEST hit is nearest. De-duplicates result lists where one
    group (a source document, a product, a site) would otherwise flood
    plain top-k.

    ``with_lookup``: Qdrant's group-by lookup — a second collection whose
    point ids are the group values; its payload columns join onto the
    result (prefixed ``lookup_``), NULL where the lookup collection has no
    such point. The lookup side is k_groups-bounded after the semi-join,
    so it broadcasts. ``lookup_id_col`` names its id column (defaults to
    the ``group_by`` name, falling back to the lookup frame's first
    column).

    One scored scan + one per-group top-n window (partitioned by group, so
    it distributes at any group cardinality); group selection is a
    per-group MIN aggregate followed by TakeOrderedAndProject down to
    ``k_groups`` rows, so the only unpartitioned window in the plan ranks
    those k_groups rows — never all groups. NULL groups are excluded.
    Returns the hit rows plus ``group_rank`` (1 = nearest group) and
    ``hit_rank`` within the group.
    """
    from pyspark.sql import Window

    df = points if filters is None else points.filter(filters)
    df = df.filter(F.col(group_by).isNotNull())
    scored = df.withColumn(
        "dist", l2_distance_to(F.col(vector_col), query_vector)
    )
    order = [F.col("dist").asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    in_group = Window.partitionBy(group_by).orderBy(*order)
    top_hits = (
        scored.withColumn("hit_rank", F.row_number().over(in_group))
        .filter(F.col("hit_rank") <= hits_per_group)
    )
    winners = (
        scored.groupBy(group_by)
        .agg(F.min("dist").alias("__best"))
        .orderBy(F.col("__best").asc(), F.col(group_by).asc())
        .limit(k_groups)
    )
    ranked_groups = winners.withColumn(
        "group_rank",
        F.row_number().over(
            Window.orderBy(F.col("__best").asc(), F.col(group_by).asc())
        ),
    ).select(group_by, "group_rank")
    out = (
        top_hits.join(F.broadcast(ranked_groups), group_by)
        .orderBy("group_rank", "hit_rank")
    )
    if with_lookup is not None:
        lid = lookup_id_col or (
            group_by if group_by in with_lookup.columns
            else with_lookup.columns[0]
        )
        payload = with_lookup.select(
            F.col(lid).alias("__lk"),
            *[F.col(c).alias(f"lookup_{c}")
              for c in with_lookup.columns if c != lid],
        )
        # bound the broadcast side to the winning groups before shipping it
        payload = payload.join(
            F.broadcast(ranked_groups.select(F.col(group_by).alias("__lk"))),
            "__lk", "left_semi",
        )
        out = out.join(
            F.broadcast(payload),
            out[group_by] == payload["__lk"], "left",
        ).drop("__lk").orderBy("group_rank", "hit_rank")
    return out


def filtered_sample_audit(
    points: DataFrame,
    result_df: DataFrame,
    filters: Column,
    query_vector: list[float],
    k: int,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    mod: int = 31,
) -> DataFrame:
    """Post-search SAMPLE AUDIT for filtered ANN results (r13, the last
    step of ``planned_topk`` for every sidecar kind — VERDICT r13 #5):
    an approximate index can silently miss the matching set when the
    filter correlates with geometry (graph navigation converges away
    from it; IVF's probed centroids may not cover it). One pruned scan
    of a deterministic ~1/mod slice of the MATCHING rows checks for any
    point beating the result's worst distance — or for ANY matching
    point at all when fewer than ``k`` came back. A hit upgrades the
    query to the exact filtered top-k (one TakeOrderedAndProject scan of
    the matching rows, recall 1.0 by construction); a clean audit
    returns the original result re-materialized from its (<= k)
    driver-side rows. Uncorrelated filters rarely trigger; correlated
    ones trigger almost surely (RECALL.md correlated series)."""
    from vectordb_cloud_spark.functions.vector import l2_distance_to

    rows = sorted(((r[0], float(r[1])) for r in result_df.collect()),
                  key=lambda t: (t[1], t[0]))
    if k <= 0:
        # a zero-limit result is trivially complete — and rows[-1] below
        # would raise on the empty frame (r14 guard)
        from vectordb_cloud_spark.session import local_df

        return local_df(points.sparkSession,
                        [(int(i), d) for i, d in rows],
                        f"{id_col} long, dist double")
    samp = filters & (
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(mod))) == 0)
    cand = points.filter(samp)
    ids = [i for i, _ in rows]
    if ids:
        cand = cand.filter(~F.col(id_col).isin(ids))
    if len(rows) >= k:
        worst = rows[-1][1]
        suspect = (
            cand.select(l2_distance_to(F.col(vector_col), query_vector)
                        .alias("d"))
            .filter(F.col("d") < F.lit(worst))
            .limit(1).count() > 0
        )
    else:
        # fewer than k matches surfaced: any unseen matching sample row
        # means the index missed the matching set, not that it is tiny
        suspect = cand.limit(1).count() > 0
    if suspect:
        return knn_search(points.filter(filters), query_vector, k=k,
                          vector_col=vector_col,
                          tiebreak=id_col).select(id_col, "dist")
    from vectordb_cloud_spark.session import local_df

    return local_df(points.sparkSession,
                    [(int(i), d) for i, d in rows],
                    f"{id_col} long, dist double")


def planned_topk(
    points: DataFrame,
    filters: Column | None,
    query_vector: list[float],
    k: int,
    search: Callable[[int | None], DataFrame | None],
    full_scan_threshold: int | None,
    audit_sample_mod: int | None,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Filtered top-k through an approximate index: the one planner the
    IVF, IVF-SQ and graph sidecars share — Qdrant's
    ``full_scan_threshold`` rule plus the r13 sample audit.

    ``search(m)`` is the index's own filtered search over ``points``,
    returning ``(id_col, dist)`` rows; ``m`` is the planning count, None
    when none ran. It may return None to decline (the graph kind does
    when the beam it would need exceeds its cap), and the exact filtered
    top-k serves instead. The plan:

    - no filter, or ``full_scan_threshold`` 0/None: ``search(None)`` —
      the raw index math, no count and no audit;
    - otherwise one narrow planning count ``m`` of the matching rows
      (predicate columns only, never the vectors). ``m <=
      full_scan_threshold`` serves the exact filtered top-k (one
      TakeOrderedAndProject scan of the matching rows, recall 1.0 by
      construction): a small matching set may sit entirely outside the
      probed lists or the navigated region;
    - otherwise ``search(m)``, exact when it declines, and its answer
      goes through ``filtered_sample_audit`` when ``audit_sample_mod``
      is set."""
    if filters is None or not full_scan_threshold:
        return search(None)
    m = points.filter(filters).count()
    res = search(m) if m > int(full_scan_threshold) else None
    if res is None:
        return knn_search(points.filter(filters), query_vector, k=k,
                          vector_col=vector_col,
                          tiebreak=id_col).select(id_col, "dist")
    if audit_sample_mod:
        res = filtered_sample_audit(points, res, filters, query_vector, k,
                                    vector_col=vector_col, id_col=id_col,
                                    mod=audit_sample_mod)
    return res


def distance_matrix_pairs(
    points: DataFrame,
    sample_size: int = 10,
    k: int = 3,
    seed: int = 42,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "l2",
    filters: Column | None = None,
) -> DataFrame:
    """Pairwise distance matrix over a deterministic sample — Qdrant's
    ``POST /points/search/matrix/pairs`` (sample N points under the
    filter, return each sample's k nearest OTHER samples; the API behind
    payload-similarity exploration UIs).

    Shape: the sample is tiny by contract (Qdrant defaults to 10), so the
    quadratic stays sample-local: seeded TakeOrderedAndProject sample →
    broadcast self cross-join (sample² pairs, never corpus²) → per-row
    top-k window over ≤ sample_size rows per group. The corpus is read
    once through whatever pushed-down ``filters`` allow; nothing else
    scales with table size.

    Returns ``(id_a, id_b, dist)`` rows, ``k`` per ``id_a``, deterministic
    (dist, id) ordering.
    """
    from vectordb_cloud_spark.sources.readers import random_sample

    if sample_size < 2:
        raise ValueError("sample_size must be >= 2")
    df = points if filters is None else points.filter(filters)
    sample = random_sample(
        df.select(id_col, vector_col), sample_size, seed=seed, id_col=id_col
    )
    a = sample.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("__va"))
    b = sample.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("__vb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") != F.col("id_b"))
    if metric == "l2":
        scored = pairs.withColumn("dist", l2_distance("__va", "__vb"))
        order = [F.col("dist").asc(), F.col("id_b").asc()]
    elif metric == "cosine":
        scored = pairs.withColumn("dist", cosine_similarity("__va", "__vb"))
        order = [F.col("dist").desc(), F.col("id_b").asc()]
    else:
        raise ValueError(f"unsupported metric {metric!r}")
    w = Window.partitionBy("id_a").orderBy(*order)
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("id_a", "id_b", "dist")
    )


def distance_matrix_offsets(
    points: DataFrame,
    sample_size: int = 10,
    k: int = 3,
    seed: int = 42,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "l2",
    filters: Column | None = None,
) -> dict:
    """Qdrant's ``POST /points/search/matrix/offsets`` — the SAME sampled
    pairwise computation as :func:`distance_matrix_pairs` (r13, the
    response-shape twin: Qdrant exposes both envelopes over one engine
    call), returned as the sparse-CSR-style offsets document::

        {"offsets_row": [...], "offsets_col": [...],
         "scores": [...], "ids": [...]}

    ``ids`` is the ascending-sorted sample; ``offsets_row[i]`` /
    ``offsets_col[i]`` index into ``ids`` for ``scores[i]``. Entries are
    row-major (ascending row id), within a row in the pairs order
    (nearest first — dist ascending for l2, similarity descending for
    cosine, ``id_b`` tiebreak). Driver-side materialization is bounded
    by contract: ``sample_size × k`` triples, the same tiny-by-design
    envelope Qdrant returns."""
    rows = distance_matrix_pairs(
        points, sample_size=sample_size, k=k, seed=seed,
        vector_col=vector_col, id_col=id_col, metric=metric,
        filters=filters,
    ).collect()
    ids = sorted({r["id_a"] for r in rows} | {r["id_b"] for r in rows})
    pos = {i: n for n, i in enumerate(ids)}
    hib = metric == "cosine"
    triples = sorted(
        ((pos[r["id_a"]], r["dist"], pos[r["id_b"]]) for r in rows),
        key=lambda t: (t[0], -t[1] if hib else t[1], t[2]))
    return {
        "offsets_row": [a for a, _, _ in triples],
        "offsets_col": [b for _, _, b in triples],
        "scores": [float(d) for _, d, _ in triples],
        # ids keep their native type (int for the collections here, but
        # the operator is generic over id_col like distance_matrix_pairs)
        "ids": [int(i) if isinstance(i, int) else i for i in ids],
    }
