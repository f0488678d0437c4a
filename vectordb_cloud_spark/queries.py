"""Query registry: every implemented operator as a (spark_fn, oracle_sql) pair.

Each entry is one operator/query from SURVEY.md §2 (or a north-star
extension), expressed twice: as a PySpark DataFrame program and as ANSI SQL
for the DuckDB oracle. Column names and value rounding are aligned so the
driver's order-insensitive value-hash matches.

Float determinism rules used throughout:
- vector math: cast float32 -> double up front, fold in element order, then
  ``round(x, 6)`` (both engines produce bit-identical doubles; verified).
- big aggregates: sum over ``decimal`` casts (exact, order-independent),
  cast back to double at the end — dodges parallel-fold non-associativity.
- integer sums in ORACLES: DuckDB types ``sum(INT)`` (plain or windowed) as
  HUGEINT, which its pandas/arrow conversion renders as float64 and the
  driver's value hash then mismatches Spark's int64 — always ``::BIGINT``
  the oracle side (CORRECTNESS_r01's only two hash fails were this).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vectordb_cloud_spark import fixtures as fx
from vectordb_cloud_spark.functions.text import (
    bpe_token_estimate,
    doc_fingerprint,
    lang_id_expr,
    quality_score,
    token_count,
)
from vectordb_cloud_spark.functions.vector import l2_distance
from vectordb_cloud_spark.operators.classify import label_centroids, nearest_centroid
from vectordb_cloud_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from vectordb_cloud_spark.operators.knn import knn_search

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# SQL fragment: L2 distance between two DuckDB FLOAT[] values in double
# precision, folding in element order (matches Spark's aggregate()).
_SQL_L2 = (
    "sqrt(list_sum(list_transform(range(1, len({a})+1), "
    "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))))"
)
_SQL_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)
_SQL_NORM = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"


# ---------------------------------------------------------------------------
# J1 / A1: filtered exact top-k L2 search (the reference's flagship read,
# /root/reference/search.py:43-48)
# ---------------------------------------------------------------------------

@_q(
    "knn_l2_topk",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, round({_SQL_L2.format(a='e.embedding', b='q.qe')}, 6) AS dist
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY {_SQL_L2.format(a='e.embedding', b='q.qe')}, e.vec_id
    LIMIT 10
    """,
)
def knn_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = fx.query_vec(spark, sf_dir, 0)
    emb = fx.table(spark, sf_dir, "embeddings")
    hits = knn_search(emb, qv, k=10, filters=F.col("vec_id") != 0, tiebreak="vec_id")
    return hits.select("vec_id", F.round("dist", 6).alias("dist"))


@_q(
    "knn_l2_filtered",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           round({_SQL_L2.format(a='e.embedding', b='q.qe')}, 6) AS dist
    FROM embeddings e, q
    WHERE e.label = 3 AND e.vec_id <> 0
    ORDER BY {_SQL_L2.format(a='e.embedding', b='q.qe')}, e.vec_id
    LIMIT 5
    """,
)
def knn_l2_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tenant-filtered kNN: the label predicate plays user_id
    (/root/reference/search.py:37, P1+J1). Filter pushes to the scan."""
    qv = fx.query_vec(spark, sf_dir, 0)
    emb = fx.table(spark, sf_dir, "embeddings")
    hits = knn_search(emb, qv, k=5, filters=(F.col("label") == 3) & (F.col("vec_id") != 0),
                      tiebreak="vec_id")
    return hits.select("vec_id", "label", F.round("dist", 6).alias("dist"))


def knn_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched kNN: 5 query vectors at once — broadcast queries, window rank
    per query (SURVEY.md §2.5). The points side never shuffles its payload;
    row_number ties break on vec_id. Rotated out of the registry in r10
    (plan-shape redundant: the same broadcast+window batch shape stays
    oracle-exercised through ``knn_batch`` inside ``query_batch`` tests and
    the single-query kNN rows); the slot went to the r9 serving grammar
    (``text_routed_search`` et al., VERDICT r9 next-round #1)."""
    emb = fx.table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    points = emb.select("vec_id", "embedding")
    joined = points.crossJoin(F.broadcast(queries.select("query_id", F.col("embedding").alias("__qvec"))))
    scored = joined.filter(F.col("vec_id") != F.col("query_id")).withColumn(
        "dist", l2_distance(F.col("embedding"), F.col("__qvec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 3)
        .select("query_id", "vec_id", F.round("dist", 6).alias("dist"))
    )


# ---------------------------------------------------------------------------
# J2 / A2: nearest-centroid classification (/root/reference/app.py:146-169)
# ---------------------------------------------------------------------------

@_q(
    "classify_nearest_centroid",
    """
    WITH dims AS (
      SELECT vec_id, label, i, embedding[i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, len(embedding)+1)) AS t(i)
    ),
    cents AS (SELECT label, i, avg(v) AS c FROM dims GROUP BY label, i),
    qd AS (SELECT vec_id, i, v FROM dims WHERE vec_id < 20),
    d AS (
      SELECT qd.vec_id, cents.label,
             sum((qd.v - cents.c) * (qd.v - cents.c)) AS dd
      FROM qd JOIN cents USING (i)
      GROUP BY qd.vec_id, cents.label
    )
    SELECT vec_id, label AS pred_label FROM d
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, label) = 1
    """,
)
def classify_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch nearest-centroid: centroids = per-label mean vectors, items =
    first 20 vectors. Broadcast M centroids, min_by argmin per item
    (/root/reference/app.py:169's np.argmin as a distributed plan)."""
    emb = fx.table(spark, sf_dir, "embeddings")
    cents = label_centroids(emb, "label", "embedding")
    items = emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding")
    out = nearest_centroid(items, cents, item_id="vec_id", item_vec="embedding",
                           centroid_label="label", centroid_vec="centroid")
    return out.select("vec_id", F.col("label").alias("pred_label"))


# ---------------------------------------------------------------------------
# S5 / P1-P7: tenant scans, pushed-down predicates, projections
# (user_id synthesized as doc_id % 100 per FIXTURES.md)
# ---------------------------------------------------------------------------

@_q(
    "scroll_by_user",
    """
    SELECT doc_id, text, lang, source
    FROM documents WHERE doc_id % 100 = 7
    """,
)
def scroll_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 scroll-as-scan: tenant equality filter + payload projection without
    vectors (P7 column pruning) and without the reference's silent 100k cap
    (/root/reference/app.py:102-107)."""
    docs = fx.table(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") % 100 == 7).select("doc_id", "text", "lang", "source")


def filter_contains_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 substring + P5 regex predicates (merged r7). Rotated OUT of the
    50-slot registry in r8: both predicate kinds stay oracle-hash-checked
    through `filter_dsl_search` (match.text / match.regex clauses), so this
    row was redundant; kept library-level. Substring: pushed to the
    scan instead of the reference's scroll-then-Python-filter
    (/root/reference/app.py:108-110); regex: rlike
    (/root/reference/app.py:134-136)."""
    docs = fx.table(spark, sf_dir, "documents")
    has_substr = (F.col("doc_id") % 100 == 7) & F.col("text").contains("vector")
    has_regex = F.col("text").rlike("vector (join|sort)")
    return docs.filter(has_substr | has_regex).select(
        "doc_id", "lang", "n_chars",
        has_substr.alias("has_substr"), has_regex.alias("has_regex"),
    )


@_q(
    "delete_by_word_remaining",
    """
    SELECT doc_id FROM documents
    WHERE NOT (doc_id % 100 = 7 AND text LIKE '%spark%')
    """,
)
def delete_by_word_remaining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 intended semantics (the reference endpoint is broken — SURVEY.md
    §2.7): DELETE WHERE user_id=7 AND contains(text,'spark'), shown as the
    surviving rows."""
    docs = fx.table(spark, sf_dir, "documents")
    return docs.filter(~((F.col("doc_id") % 100 == 7) & F.col("text").contains("spark"))).select(
        "doc_id"
    )


@_q(
    "upsert_last_write_wins",
    """
    WITH updates AS (
      SELECT doc_id, upper(text) AS text, 2 AS version
      FROM documents WHERE doc_id < 50
    ),
    unioned AS (
      SELECT doc_id, text, 1 AS version FROM documents
      UNION ALL SELECT * FROM updates
    )
    SELECT doc_id, text, version FROM unioned
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) = 1
    """,
)
def upsert_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 replace-by-id upsert semantics (/root/reference/insert.py:31-63) as
    a pure query: base ∪ updates, keep the newest version per id."""
    docs = fx.table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", F.lit(1).alias("version"))
    updates = docs.filter(F.col("doc_id") < 50).select(
        "doc_id", F.upper("text").alias("text"), F.lit(2).alias("version")
    )
    unioned = base.unionByName(updates)
    w = Window.partitionBy("doc_id").orderBy(F.col("version").desc())
    return unioned.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") == 1).drop("__rk")


@_q(
    "delete_by_ids_remaining",
    """
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (1, 2, 3, 5, 8, 13, 21, 34)
    """,
)
def delete_by_ids_remaining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 delete-by-id-list as a broadcast anti-semijoin."""
    docs = fx.table(spark, sf_dir, "documents")
    return docs.filter(~F.col("doc_id").isin([1, 2, 3, 5, 8, 13, 21, 34])).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Relational / OLAP surface (north-star; exercises joins + aggs for the
# oracle harness — SURVEY.md §7 M6)
# ---------------------------------------------------------------------------

@_q(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(CAST(l_quantity AS DECIMAL(28,10)))::DOUBLE, 2) AS sum_qty,
           round(sum(CAST(l_extendedprice AS DECIMAL(28,10)))::DOUBLE, 2) AS sum_base_price,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10)))::DOUBLE, 2) AS sum_disc_price,
           round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,10)))::DOUBLE, 2) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate with map-side partial aggs; the
    shuffle carries only (flag, status) groups. Decimal sums keep the result
    order-independent (exact) before the final double cast."""
    li = fx.table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(28,10)")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,10)")).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(disc.cast("decimal(28,10)")).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge.cast("decimal(28,10)")).cast("double"), 2).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


_TPCH_Q3_ORACLE = """
    SELECT o.o_orderkey,
           round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10)))::DOUBLE, 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """


def tpch_q3_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> broadcast customer into
    orders, shuffle join to lineitem on orderkey, top-k by revenue
    (TakeOrderedAndProject, no global sort). Rotated out of the registry
    in r13 (shape-redundant: broadcast-dim + fact-fact shuffle +
    decimal-agg + TakeOrdered stays oracle-exercised through
    tpch_q1_pricing_summary, customer_order_stats and
    grouping_sets_order_stats); stays wired for spot runs with its full
    oracle via ``queries.library()``. The slot went to the r12 query
    grammar (``query_by_id_topk``, VERDICT r12 #1)."""
    c = fx.table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = fx.table(spark, sf_dir, "orders")
    l = fx.table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev.cast("decimal(28,10)")).cast("double"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_TPCH_Q5_ORACLE = """
    SELECT n.n_name,
           round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10)))::DOUBLE, 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """


def tpch_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join — all dims broadcast; the only shuffle joins
    are fact-fact (orders↔lineitem). Rotated out of the registry in r12
    (shape-redundant: the broadcast-dims + fact-fact-shuffle + decimal-agg
    plan stays oracle-exercised through tpch_q1_pricing_summary,
    customer_order_stats and grouping_sets_order_stats — r13 note:
    tpch_q3_revenue_topk has since joined it at library level); stays
    wired for spot runs with its full oracle via ``queries.library()``.
    The slot went to the r11 serving grammar
    (``query_template_threshold_paged``, VERDICT r11 #1)."""
    c = fx.table(spark, sf_dir, "customer")
    o = fx.table(spark, sf_dir, "orders")
    l = fx.table(spark, sf_dir, "lineitem")
    s = fx.table(spark, sf_dir, "supplier")
    n = fx.table(spark, sf_dir, "nation")
    r = fx.table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(rev.cast("decimal(28,10)")).cast("double"), 2).alias("revenue"))
    )


_GROUPING_SETS_ORACLE = """
    SELECT coalesce(o_orderstatus, '(all)') AS orderstatus,
           coalesce(o_orderpriority, '(all)') AS orderpriority,
           count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(28,10)))::DOUBLE, 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus),
                            (o_orderpriority), ())
    """


def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets surface (SURVEY.md §2.4): the full CUBE lattice written
    as explicit GROUPING SETS through the SQL API — one consolidated query
    covering rollup/cube/grouping-sets (each set aggregated in a single pass;
    the DataFrame twins ``rollup()``/``cube()`` stay unit-tested). Rotated
    to library level in r14 (VERDICT r13 #4: the slot went to
    ``distance_matrix_pairs``; the multi-set decimal-agg shape stays
    oracle-exercised through tpch_q1_pricing_summary and
    customer_order_stats) — stays wired for spot runs with its full oracle
    via ``queries.library()``."""
    o = fx.table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, '(all)') AS orderstatus,
               coalesce(o_orderpriority, '(all)') AS orderpriority,
               count(*) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE), 2) AS total
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus),
                                (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Text analysis (north-star: token counting, quality, fingerprints, lang-id)
# ---------------------------------------------------------------------------

@_q(
    "exact_dup_groups",
    r"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 30
    ),
    fp AS (
      SELECT doc_id,
             md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fingerprint
      FROM all_docs
    )
    SELECT fingerprint, count(*) AS n_dups, min(doc_id) AS keep_id
    FROM fp GROUP BY fingerprint HAVING count(*) > 1
    """,
)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups (hash-groupBy dedup — north-star op #1). The
    fixture corpus has no natural exact duplicates (round-1 pass was vacuous
    at 0 rows), so the query injects a re-keyed copy of the first 30 docs —
    mirrored in the oracle — and the dedup operator must group every injected
    pair (n_dups >= 2, keep_id = the original)."""
    docs = fx.table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    injected = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    fp = base.unionByName(injected).select(
        "doc_id", doc_fingerprint("text").alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def token_estimate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimate, top-20 longest docs. Rotated OUT of the
    50-slot registry in r8 (token counting stays oracle-checked inside
    `gopher_quality_counts` and `text_quality_profile`) to make room for
    the serving-API rows (filter DSL / geo / discover / maxsim); kept
    library-level."""
    docs = fx.table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", bpe_token_estimate("text").alias("n_tokens"))
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Similarity / dedup extensions with SQL oracles
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3gram Jaccard pairs, blocked by (lang, source) so the pair
    space is bounded per block — dedup op #4. Library-level since the r8
    span-dedup rotation (the exact-Jaccard arithmetic stays oracle-covered
    inside ``minhash_lsh_near_dup``'s verify stage; the slot went to
    ``span_dedup_injected``)."""
    docs = fx.table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).withColumn(
        "__block", F.concat_ws("|", "lang", "source")
    )
    return ngram_jaccard_pairs(docs, "__block", shingle_n=3, threshold=0.01)


_SPAN_W = 20  # window for the span-dedup oracle row


@_q(
    "span_dedup_injected",
    rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      -- injected partial duplicates: full copy of each doc_id<20 text plus
      -- a two-token unique tail (too short to form flagged windows)
      SELECT doc_id + 10000,
             text || ' zzinj' || doc_id || 'a zzinj' || doc_id || 'b'
      FROM documents WHERE doc_id < 20
    ),
    arrs AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'),
                         t -> t <> '') AS arr
      FROM corpus
    ),
    wins AS (
      SELECT a.doc_id, s.start,
             array_to_string(a.arr[s.start + 1 : s.start + {_SPAN_W}],
                             chr(1)) AS wkey
      FROM arrs a,
           LATERAL (SELECT unnest(range(0, greatest(len(a.arr) - {_SPAN_W} + 1, 0)))
                    AS start) s
    ),
    flagged AS (
      -- every non-canonical occurrence of a repeated window; canonical =
      -- lexicographic min (doc_id, start), exactly min(struct) in Spark
      SELECT doc_id, start FROM (
        SELECT doc_id, start,
               row_number() OVER (PARTITION BY wkey
                                  ORDER BY doc_id, start) AS rn
        FROM wins
      ) WHERE rn > 1
    ),
    kept AS (
      SELECT a.doc_id,
             string_agg(t.tok, ' ' ORDER BY t.pos) AS rebuilt
      FROM arrs a,
           LATERAL (SELECT unnest(a.arr) AS tok,
                           generate_subscripts(a.arr, 1) - 1 AS pos) t
      WHERE NOT EXISTS (
        SELECT 1 FROM flagged f
        WHERE f.doc_id = a.doc_id
          AND t.pos >= f.start AND t.pos < f.start + {_SPAN_W}
      )
      GROUP BY a.doc_id
    )
    SELECT a.doc_id,
           CASE WHEN EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = a.doc_id)
                THEN coalesce(k.rebuilt, '')
                ELSE a.text END AS text
    FROM arrs a LEFT JOIN kept k USING (doc_id)
    WHERE a.doc_id >= 10000
    ORDER BY a.doc_id
    """,
)
def span_dedup_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup under the hard oracle: the corpus is
    ``documents`` plus injected partial duplicates (full copy of each
    ``doc_id < 20`` text + a unique two-token tail). Every copied window is
    non-canonical (the original has the smaller doc_id), so the injected
    docs come back with the copied prefix cut and the tail kept — docs
    shorter than the window pass through byte-identical, exercising both
    rebuild branches. The oracle replays the WHOLE operator with no hash at
    all: it groups windows by their literal token string (Spark's xxhash64
    is just a narrow shuffle key for the same equivalence classes), flags
    rn>1 occurrences ordered by (doc_id, start) — exactly ``min(struct)``
    canonical selection — and rebuilds with the same space join.
    """
    from vectordb_cloud_spark.operators.dedup import span_dedup_corpus

    docs = fx.table(spark, sf_dir, "documents").select("doc_id", "text")
    inj = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" zzinj"), F.col("doc_id"), F.lit("a zzinj"),
            F.col("doc_id"), F.lit("b"),
        ).alias("text"),
    )
    out = span_dedup_corpus(docs.unionByName(inj), window=_SPAN_W)
    return (
        out.filter(F.col("doc_id") >= 10000)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )


def _lsh_cand_sql(source: str = "embeddings", id_col: str = "vec_id",
                  group: int = 1) -> str:
    """DuckDB fragment: DISTINCT candidate pairs (id_a < id_b) colliding in
    >= 1 LSH table, replaying bucket = floor(dot(v, u)/L) over the
    materialized hyperplanes (``fixtures.LSH_PLANES``). ``group`` > 1 AND-composes
    consecutive planes into one compound "h1:h2:..." bucket per table — the
    exact string ``ann.lsh_bucket_columns`` builds with concat_ws."""
    dot = _SQL_DOT.format(a="e.embedding", b="p.u")
    per_plane = f"""
    ph AS (
      SELECT e.{id_col} AS id, p.tbl,
             CAST(floor({dot} / {fx.LSH_BL}) AS BIGINT) AS h
      FROM {source} e, read_parquet('{fx.LSH_PLANES}') p
    )"""
    if group == 1:
        bucket_tbl = "b AS (SELECT id, tbl, h::VARCHAR AS bucket FROM ph)"
    else:
        bucket_tbl = f"""
    b AS (
      SELECT id, tbl // {group} AS tbl,
             string_agg(h::VARCHAR, ':' ORDER BY tbl) AS bucket
      FROM ph GROUP BY id, tbl // {group}
    )"""
    return f"""
    {per_plane},
    {bucket_tbl},
    cand AS (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b
      FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.id < r.id
    )
    """


# --- injected embedding near-dups -----------------------------------------
# The fixture embeddings are uniform random unit vectors: NO pair exceeds
# cosine ~0.6, so a near-dup query over the raw table is vacuous and any
# LSH tuned to find its "pairs" degenerates to all-pairs (round-6 finding:
# bucket_length 2.0 put the whole corpus in 2 buckets/table). Mirroring the
# exact_dup_groups precedent (r2), the near-dup queries run over the corpus
# UNIONed with a deterministically perturbed copy of every 10th vector
# (element i jitters by (md5_60(id:i) % 1000)/1000*0.08 - 0.04, cosine to
# the original ≈ 0.98) — true near-dups the blocking must recover, replayed
# verbatim in the oracle.
_AUG_OFFSET = 1_000_000


def _aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ perturbed copies of vec_id % 10 == 0 (ids + 1e6)."""
    emb = fx.table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def jit(i):
        s = F.concat_ws(":", F.col("vec_id").cast("string"), i.cast("string"))
        h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        return (h % 1000).cast("double") / 1000.0 * 0.08 - 0.04

    pert = (
        emb.filter(F.col("vec_id") % 10 == 0)
        .select(
            F.col("vec_id"),
            F.transform("embedding", lambda x, i: x + jit(i)).alias("embedding"),
        )
        .select((F.col("vec_id") + _AUG_OFFSET).alias("vec_id"), "embedding")
    )
    return emb.unionByName(pert)


def _aug_sql() -> str:
    """DuckDB twin of _aug_embeddings (fragment defining ``aug``)."""
    return f"""
    aug AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
      FROM embeddings
      UNION ALL
      SELECT q.vec_id + {_AUG_OFFSET}, list(q.p ORDER BY q.i)
      FROM (
        SELECT e.vec_id, t.i,
               e.embedding[t.i + 1]::DOUBLE
               + ((('0x' || substr(md5(e.vec_id::VARCHAR || ':' || t.i::VARCHAR), 1, 15))::BIGINT
                   % 1000)::DOUBLE / 1000.0 * 0.08 - 0.04) AS p
        FROM embeddings e, range({fx.EMB_DIM}) t(i)
        WHERE e.vec_id % 10 = 0
      ) q
      GROUP BY q.vec_id
    )
    """


def _embedding_lsh_oracle_sql() -> str:
    """DuckDB twin of the LSH-blocked embedding near-dup over the augmented
    corpus: replay the injected perturbation (_aug_sql), the compound
    (AND 3, OR 6) bucket collision over the materialized hyperplanes, and
    the exact cosine verify — the same end-to-end pipeline, so the hash
    check covers the injection AND the blocking behavior."""
    cos = (
        f"{_SQL_DOT.format(a='va.embedding', b='vb.embedding')}"
        f" / ({_SQL_NORM.format(a='va.embedding')} * {_SQL_NORM.format(a='vb.embedding')})"
    )
    return f"""
    WITH {_aug_sql()},
    {_lsh_cand_sql(source="aug", group=fx.LSH_G)}
    SELECT c.id_a, c.id_b, round({cos}, 6) AS cosine
    FROM cand c
    JOIN aug va ON va.vec_id = c.id_a
    JOIN aug vb ON vb.vec_id = c.id_b
    WHERE {cos} >= 0.9
    """


@_q("embedding_near_dup_lsh", _embedding_lsh_oracle_sql())
def embedding_near_dup_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by compound LSH buckets — the
    100 TB blocking key (compound-bucket occupancy is constant in n, vs
    n²/|labels| for the label block), over the corpus with injected
    perturbed near-dups (see _aug_embeddings: raw fixture vectors have no
    cos>0.9 pairs, and a single-projection LSH tuned to a loose threshold
    degenerates to all-pairs). Oracle-checked end to end: DuckDB replays
    injection + bucketing + exact cosine verify (_embedding_lsh_oracle_sql);
    recall vs brute force is additionally gated in tests/test_dedup.py."""
    from vectordb_cloud_spark.operators.dedup import embedding_near_dup_lsh

    emb = _aug_embeddings(spark, sf_dir)
    return embedding_near_dup_lsh(
        emb, threshold=0.9,
        model=fx.lsh_model(spark, sf_dir),
        projections_per_table=fx.LSH_G,
    )


# ---------------------------------------------------------------------------
# MinHash-LSH / SimHash dedup — fully oracle-checked via the md5_60 hash
# variant (xxhash64, the production default, has no DuckDB twin; the md5
# path is the same plan with a DuckDB-replicable hash primitive — see
# operators/dedup.py:_shingle_hash / minhash_affine_params)
# ---------------------------------------------------------------------------

# DuckDB fragment: the word-3gram shingle list of documents.text, duplicated
# from the proven ngram_jaccard oracle (k<n fallback = whole text as one
# shingle, matching functions/text.py:ngram_shingles).
_SQL_SHINGLES3 = (
    r"""list_distinct(list_transform(
      range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 1) + 1),
      i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')
    ))"""
)


def _minhash_oracle_sql() -> str:
    """DuckDB twin of the FULL banded MinHash-LSH pipeline under md5_60:
    distinct 3-gram shingles -> m = 32-bit md5 prefix -> 32 affine minhashes
    (same inlined (a, b) constants) -> 8 band keys (joined value strings) ->
    band-bucket candidate join -> exact-Jaccard verify at the rounded
    threshold. Candidate generation itself is replayed, so the check covers
    LSH recall behavior, not just the verify stage."""
    from vectordb_cloud_spark.operators.dedup import MINHASH_P, minhash_affine_params

    ab = minhash_affine_params(32)
    a_list = "[" + ", ".join(str(a) for a, _ in ab) + "]::BIGINT[]"
    b_list = "[" + ", ".join(str(b) for _, b in ab) + "]::BIGINT[]"
    return f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES3} AS sh FROM documents
    ),
    m AS (
      SELECT doc_id, ('0x' || substr(md5(unnest(sh)), 1, 8))::BIGINT AS m
      FROM sh
    ),
    sigs AS (
      SELECT doc_id, i,
             min((m * ({a_list})[i+1] + ({b_list})[i+1]) % {MINHASH_P})::BIGINT AS mh
      FROM m, range(32) t(i)
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, (i // 4) AS band,
             array_to_string(list(mh::VARCHAR ORDER BY i), ',') AS bucket
      FROM sigs GROUP BY doc_id, (i // 4)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.2
    """


@_q("minhash_lsh_near_dup", _minhash_oracle_sql())
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (band-bucket join + exact-Jaccard
    verify) — dedup op #2, oracle-checked end to end including candidate
    generation (md5_60 affine permutations; see _minhash_oracle_sql)."""
    docs = fx.table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_hashes=32, bands=8, shingle_n=3,
                             jaccard_threshold=0.2, hash_fn="md5_60")


def _simhash_oracle_sql() -> str:
    """DuckDB twin of SimHash near-dup under md5_60. The banded join has a
    pigeonhole recall guarantee and the verify is exact, so the output IS
    the brute-force set {(a,b): hamming(simhash(a), simhash(b)) <= 3} —
    the oracle computes the 60-bit simhash per doc (same 2-gram shingles,
    same md5 bits, same +1/-1 votes) and brute-forces the pairs."""
    shingles2 = (
        r"""CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 2
             THEN [array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')]
             ELSE list_transform(
               range(1, len(regexp_split_to_array(trim(text), '\s+'))),
               i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+1], ' '))
        END"""
    )
    return f"""
    WITH sh AS (SELECT doc_id, {shingles2} AS sh FROM documents),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS h
      FROM sh
    ),
    v AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM h, range(60) t(i)
      GROUP BY doc_id, i
    ),
    s AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)::BIGINT
               AS simhash
      FROM v GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def simhash_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — dedup op #3, exercising the banded
    (band_idx, band_value) equi-join with the pigeonhole recall guarantee
    (bands = max_hamming + 1; see operators/dedup.py).

    r11 rotation: registry row retired to library level (the registry
    holds exactly 50 oracle rows and the r10-new serving surfaces took
    priority — VERDICT r10 next-round #1). The oracle SQL below stays
    wired for `tools/check_queries.py simhash_near_dup_pairs`-style spot
    runs, and pytest pins the brute-force parity (test_dedup.py: banded
    output == exact hamming pairs under md5_60 at several thresholds);
    the dedup family keeps three oracle rows (minhash / embedding-LSH /
    lsh-join).

    Oracle-checked through r10: under
    md5_60 the guaranteed-recall output equals brute-force hamming pairs,
    which DuckDB re-derives from scratch (_simhash_oracle_sql); banding ==
    brute-force is additionally gated in tests/test_dedup.py."""
    docs = fx.table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_hamming=3, hash_fn="md5_60")


# ---------------------------------------------------------------------------
# Window / set / semi-anti-join / pivot surface (SURVEY.md §2.3-2.5 additions)
# ---------------------------------------------------------------------------

@_q(
    "sessionize_users",
    """
    WITH w AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id) > 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
      FROM w
    )
    SELECT user_id, session_id, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative sum over one user_id
    shuffle) — the batch twin of streaming session_window."""
    from vectordb_cloud_spark.streaming.ingest import sessionize_batch

    ev = fx.table(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30, tiebreak_col="event_id")


def tpch_q6_q14_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (scan-filter-agg, both predicates pushed to parquet) and Q14
    (conditional-aggregate ratio over a broadcast dim join) as one
    two-row (metric, value) entry — merged r7; rotated OUT of the 50-slot
    registry in r8 (q1/q3/q5 keep the TPC-H scan/join/agg shapes under the
    oracle) to make room for the serving-API rows; kept library-level and
    covered by test_relational.py."""
    li = fx.table(spark, sf_dir, "lineitem")
    q6 = (
        li.filter(F.col("l_discount").between(0.05, 0.07) & (F.col("l_quantity") < 24))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(28,10)"))
                .cast("double"), 2
            ).alias("value")
        )
        .select(F.lit("q6_revenue").alias("metric"), "value")
    )
    p = fx.table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    q14 = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo.cast("decimal(28,10)")).cast("double")
                / F.sum(rev.cast("decimal(28,10)")).cast("double"),
                6,
            ).alias("value")
        )
        .select(F.lit("q14_promo_share_pct").alias("metric"), "value")
    )
    return q6.unionByName(q14)


# ---------------------------------------------------------------------------
# Text quality + language ID (north-star text analysis, oracle-checked)
# ---------------------------------------------------------------------------

_SQL_STOPWORDS = "'the','a','of','to','and','in','is','it','for','on'"

@_q(
    "text_quality_profile",
    rf"""
    WITH b AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS w,
             length(text) AS nc,
             length(regexp_replace(text, '[^\w\s]', '', 'g')) AS nc_nopunct
      FROM documents WHERE doc_id < 100
    ),
    c AS (
      SELECT doc_id,
             len(w) AS n_tokens,
             len(list_filter(w, x -> lower(x) IN ({_SQL_STOPWORDS})))::DOUBLE / len(w) AS sr,
             (nc - nc_nopunct)::DOUBLE / nc AS pr,
             list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w) AS mwl
      FROM b
    )
    SELECT doc_id, n_tokens,
           round(sr, 6) AS stop_ratio,
           round(pr, 6) AS punct_ratio,
           round(mwl, 6) AS mean_word_len,
           round((least(n_tokens / 64.0, 1.0) + least(sr * 4.0, 1.0)
                  + greatest(0.0, 1.0 - pr * 4.0)) / 3.0, 6) AS quality
    FROM c
    """,
)
def text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality profile: token count, stopword/punct ratios, mean
    word length, composite quality — all JVM column expressions."""
    from vectordb_cloud_spark.functions.text import (
        mean_word_length,
        punct_ratio,
        stopword_ratio,
    )

    docs = fx.table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.round(stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(mean_word_length("text"), 6).alias("mean_word_len"),
        quality_score("text").alias("quality"),
    )


_LANG_ID_ORACLE = r"""
    WITH w AS (
      SELECT doc_id,
             list_transform(regexp_split_to_array(trim(text), '\s+'),
                            x -> lower(x)) AS toks
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS h_en,
             len(list_filter(toks, x -> x IN ('der','die','und','ist','das'))) AS h_de,
             len(list_filter(toks, x -> x IN ('le','la','et','est','les'))) AS h_fr,
             len(list_filter(toks, x -> x IN ('el','la','que','de','es'))) AS h_es
      FROM w
    ),
    p AS (
      SELECT doc_id,
             CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                  WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                  WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                  WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
                  ELSE 'fr' END AS lang_pred
      FROM h
    )
    SELECT lang_pred, count(*) AS n FROM p GROUP BY lang_pred
    """


def lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID distribution over the corpus (ties break in
    ascending language-code order, 'und' when no marker hits). Rotated out
    of the registry in r12 (shape-redundant: the text-function scan +
    groupBy-count plan stays oracle-exercised through
    text_quality_profile and gopher_quality_counts, and lang_id_expr
    itself stays under unit ground truth); stays wired for spot runs with
    its full oracle via ``queries.library()``. The slot went to the r11
    serving grammar (``query_ann_params_topk``, VERDICT r11 #1)."""
    from vectordb_cloud_spark.session import parallelize_narrow

    # single-task regex scan fanned out (r14) — no-op at scale
    docs = parallelize_narrow(fx.table(spark, sf_dir, "documents"))
    return (
        docs.select(lang_id_expr("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# ANN paths: IVF, LSH similarity join, PQ
# ---------------------------------------------------------------------------

def _ivf_oracle_sql() -> str:
    """DuckDB twin of the FULL IVF search, index structure included: route
    the query to its nprobe nearest centroids (reading the materialized
    centroids parquet, stable-tie on centroid_id exactly like the Python
    routing), scan ONLY rows in the probed inverted lists (reading the
    hive-partitioned layout), exact L2 top-k with vec_id tiebreak. Every
    arithmetic step mirrors the Spark side bit-for-bit (same element order,
    float32->double exact), so the approximate index answer itself is
    hash-matched — not just a full-probe degenerate case."""
    cdist = _SQL_L2.format(a="cen.center", b="q.qe")
    pdist = _SQL_L2.format(a="p.embedding", b="q.qe")
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cen AS (SELECT centroid_id, center
            FROM read_parquet('{fx.IVF_CENTERS}')),
    probes AS (
        SELECT cen.centroid_id FROM cen, q
        ORDER BY {cdist}, cen.centroid_id
        LIMIT 48
    ),
    pts AS (SELECT vec_id, embedding, CAST(centroid_id AS INT) AS cid
            FROM read_parquet('{fx.IVF_LAYOUT}/*/*.parquet', hive_partitioning=1))
    SELECT p.vec_id, round({pdist}, 6) AS dist
    FROM pts p, probes pr, q
    WHERE p.cid = pr.centroid_id
    ORDER BY {pdist}, p.vec_id
    LIMIT 10
    """


@_q("ann_ivf_topk", _ivf_oracle_sql())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (KMeans centroid routing) approximate top-k — the 100 TB ANN path
    (SURVEY.md §4c), searching the PERSISTED centroid-partitioned layout:
    the ``centroid_id IN (probes)`` predicate lands in PartitionFilters, so
    the scan opens nprobe/k_centroids of the files (pruning asserted in
    tests/test_pruning.py). The KMeans build happens once per corpus via
    ``fixtures.ivf_index`` — index construction, not per-query work.
    Oracle: DuckDB replays the same routing + pruned scan over the
    materialized index (see _ivf_oracle_sql); recall vs exact is gated in
    tests/test_ann.py."""
    from vectordb_cloud_spark.operators.ann import ivf_search

    qv = fx.query_vec(spark, sf_dir, 0)
    centers, assigned = fx.ivf_index(spark, sf_dir)
    # r9 geometry (VERDICT r8 #3): k=192 lists, nprobe=48 = 75% of the
    # layout pruned at recall 0.872 (sf0.1, 32 queries) — the oracle's
    # probe LIMIT mirrors nprobe. Searches reuse the memoized relation
    # (the probe still prunes partitions per query); re-listing the
    # layout per query is a serving anti-pattern, not index cost.
    hits = ivf_search(assigned, centers, qv, k=10, nprobe=48,
                      tiebreak="vec_id")
    return hits.select("vec_id", F.round("dist", 6).alias("dist"))


def _lsh_joinpairs_oracle_sql() -> str:
    l2 = _SQL_L2.format(a="va.embedding", b="vb.embedding")
    return f"""
    WITH {_aug_sql()},
    {_lsh_cand_sql(source="aug", group=fx.LSH_G)}
    SELECT c.id_a, c.id_b, round({l2}, 6) AS dist
    FROM cand c
    JOIN aug va ON va.vec_id = c.id_a
    JOIN aug vb ON vb.vec_id = c.id_b
    WHERE {l2} < 0.5
    """


def lsh_similarity_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs L2 similarity join via compound LSH bucket collision (the
    halved banded self-join form of MLlib approxSimilarityJoin with AND-
    composed buckets, ann.py:lsh_self_join_pairs) — the distributed
    substitute for O(n²) all-pairs (SURVEY.md §4b), over the corpus with
    injected near-dups (_aug_embeddings; dist < 0.5 on the raw fixture is
    the empty set). Oracle-checked end to end: DuckDB replays injection +
    compound bucketing over the materialized hyperplanes + the strict <
    exact-L2 verify (_lsh_joinpairs_oracle_sql). Rotated out of the
    registry in r13 (shape-redundant: the LSH bucket-blocked self-join
    plan stays oracle-exercised through ``embedding_near_dup_lsh``, and
    this was the suite's most expensive row); stays wired for spot runs
    with its full oracle via ``queries.library()``. The slot went to the
    r12 query grammar (``context_only_topk``, VERDICT r12 #1)."""
    from vectordb_cloud_spark.operators.ann import lsh_self_join_pairs

    emb = _aug_embeddings(spark, sf_dir)
    model = fx.lsh_model(spark, sf_dir)
    pairs = lsh_self_join_pairs(model, emb, threshold=0.5,
                                projections_per_table=fx.LSH_G)
    return pairs.select("id_a", "id_b", F.round("dist", 6).alias("dist"))


def _pq_oracle_sql() -> str:
    """DuckDB twin of the ADC search itself (not an exact-kNN stand-in):
    rebuild the query's M x K lookup table from the materialized codebooks
    (same subtraction/addition order as the driver-side Python build), fold
    it into a nested DOUBLE[][] ordered by (m, code), then score every
    persisted code word with the same left-to-right m-order sum Spark's
    codegen expression uses — bit-equal adc_dist, vec_id tiebreak."""
    sub = fx.PQ_SUBD
    lut_d2 = (
        f"list_sum(list_transform(range(1, {sub}+1), "
        f"j -> (q.qe[cb.m*{sub}+j]::DOUBLE - cb.center[j]) "
        f"* (q.qe[cb.m*{sub}+j]::DOUBLE - cb.center[j])))"
    )
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cb AS (SELECT m, code, center FROM read_parquet('{fx.PQ_BOOKS}')),
    lut AS (SELECT cb.m, cb.code, {lut_d2} AS d2 FROM cb, q),
    lutrow AS (SELECT m, list(d2 ORDER BY code) AS row FROM lut GROUP BY m),
    luts AS (SELECT list(row ORDER BY m) AS t FROM lutrow),
    scored AS (
        SELECT c.vec_id,
               sqrt(list_sum(list_transform(range(1, {fx.PQ_M}+1),
                    m -> l.t[m][c.pq_code[m] + 1]))) AS adc
        FROM read_parquet('{fx.PQ_CODES}/*.parquet') c, luts l
    )
    SELECT vec_id, round(adc, 6) AS adc_dist
    FROM scored
    ORDER BY adc, vec_id
    LIMIT 10
    """


@_q("pq_adc_topk", _pq_oracle_sql())
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: per-subspace KMeans codebooks (M=16, K=256
    — one byte per subspace, 16x compression at dim 64) ->
    asymmetric-distance top-k via a
    broadcast lookup table over the PERSISTED codes (training + encoding is
    cached ingest-time work via ``fixtures.pq_index``; the query scans codes
    only — the billion-scale read shape; composes with IVF as
    ``operators.pq.ivfpq_build/ivfpq_search``). Oracle: DuckDB replays the
    ADC lookup-table math over the materialized codebooks + codes
    (see _pq_oracle_sql); recall vs exact is gated in tests/test_pq.py."""
    from vectordb_cloud_spark.operators.pq import pq_search

    qv = fx.query_vec(spark, sf_dir, 0)
    codebooks, path = fx.pq_index(spark, sf_dir)
    encoded = spark.read.parquet(path)
    hits = pq_search(encoded, codebooks, qv, k=10, tiebreak="vec_id")
    return hits.select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


# ---------------------------------------------------------------------------
# Round-7 registry rotation: the BQ / sparse-inverted / graph-ANN families
# under the DuckDB oracle (the hard correctness signal must cover the
# newest code, not only the oldest). Each follows the IVF/PQ
# fixture pattern: index construction is cached ingest-time work at a fixed
# path (fixtures.py); the oracle REPLAYS the search math over the
# materialized structures (XOR popcount over BIGINT words, posting-list
# group-sums, an unrolled beam trace over the persisted adjacency) — full
# hash matches, not exact-kNN stand-ins.
# Search knobs come from vectordb_cloud_spark.recall so the registry, bench,
# recall artifact, and test floors can never drift apart.
# ---------------------------------------------------------------------------

from vectordb_cloud_spark.recall import (  # noqa: E402  (fixture knobs)
    BQ_OVERSAMPLE as _BQ_OS,
    GRAPH_BEAM as _GRAPH_BEAM,
    GRAPH_MAX_HOPS as _GRAPH_HOPS,
)

# --- BQ: persisted 1-bit codes + thresholds, hamming + exact rescore -------


def _bq_oracle_sql() -> str:
    """DuckDB twin of the full binary-quantization search: re-pack the
    query's sign bits into a signed 64-bit word from the materialized
    thresholds (bit 63 added as the two's-complement constant — DuckDB
    errors on 1<<63 where Spark's shiftleft wraps), XOR+bit_count hamming
    over the persisted codes, (hamming, vec_id) top-k·oversample candidate
    cut, then exact L2 rescore against the base table. dim 64 = one word
    (``fixtures.EMB_DIM``); wider dims would emit one packed word per 64 dims."""
    l2 = _SQL_L2.format(a="e.embedding", b="q.qe")
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    t AS (SELECT thr FROM read_parquet('{fx.BQ_THR}')),
    qbits AS (
        SELECT r.range AS j,
               CASE WHEN q.qe[r.range + 1]::DOUBLE > t.thr[r.range + 1]
                    THEN 1::BIGINT ELSE 0::BIGINT END AS b
        FROM range({fx.EMB_DIM}) r, q, t
    ),
    qword AS (
        SELECT (sum(CASE WHEN j < 63 THEN b * (1::BIGINT << j::INT)
                         ELSE 0 END)::BIGINT
                + CASE WHEN max(CASE WHEN j = 63 THEN b ELSE 0 END) = 1
                       THEN -9223372036854775807 - 1 ELSE 0 END) AS w
        FROM qbits
    ),
    cand AS (
        SELECT c.vec_id
        FROM read_parquet('{fx.BQ_CODES}/*.parquet') c, qword qw
        ORDER BY bit_count(xor(c.bq_code[1], qw.w)), c.vec_id
        LIMIT {10 * _BQ_OS}
    )
    SELECT e.vec_id, round({l2}, 6) AS dist
    FROM embeddings e, cand, q
    WHERE e.vec_id = cand.vec_id
    ORDER BY {l2}, e.vec_id
    LIMIT 10
    """


@_q("bq_hamming_rescore_topk", _bq_oracle_sql())
def bq_hamming_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN with exact rescore — Qdrant's BQ mode: the
    first pass scans ONLY the packed sign-bit codes (32x fewer bytes;
    XOR + bit_count per row), the k·oversample survivors get exact L2
    against the base table in the same lazily-planned DataFrame
    (operators/sq.py:bq_search -> knn.exact_rescore_topk). oversample=48
    because 64-dim codes are coarse (recall 0.35 at 4x -> 0.94 at 48x,
    measured sf0.1 — the oversample-until-recall practice Qdrant documents
    for BQ). Oracle: DuckDB replays packing, hamming, candidate cut and
    rescore over the same codes + thresholds (_bq_oracle_sql)."""
    from vectordb_cloud_spark.operators.sq import bq_search

    qv = fx.query_vec(spark, sf_dir, 0)
    thresholds, path = fx.bq_index(spark, sf_dir)
    codes = spark.read.parquet(path)
    emb = fx.table(spark, sf_dir, "embeddings")
    hits = bq_search(codes, emb, thresholds, qv, k=10, oversample=_BQ_OS,
                     tiebreak="vec_id")
    return hits.select("vec_id", F.round("dist", 6).alias("dist"))


# --- sparse inverted: persisted dim-partitioned postings + query vector ----


def _sparse_oracle_sql() -> str:
    """DuckDB twin of the inverted sparse search: join the materialized
    query vector against the dim-partitioned postings (DuckDB's
    hive_partitioning mirrors Spark's PartitionFilters pruning), per-doc
    DECIMAL(38,18)-exact sum of contributions (order-independent in both
    engines — see sparse_topk_inverted), score-desc top-k."""
    return f"""
    WITH qv AS (SELECT qdim, qval FROM read_parquet('{fx.SPARSE_QUERY}')),
    contrib AS (
        SELECT p.id, CAST(p.value::DOUBLE * qv.qval AS DECIMAL(38,18)) AS c
        FROM read_parquet('{fx.SPARSE_POSTINGS}/*/*.parquet', hive_partitioning=1) p
        JOIN qv ON CAST(p.dim AS INT) = qv.qdim
    ),
    scored AS (SELECT id, round(sum(c)::DOUBLE, 6) AS score
               FROM contrib GROUP BY id)
    SELECT id AS doc_id, score FROM scored
    WHERE score <> 0.0
    ORDER BY score DESC, id ASC LIMIT 10
    """


@_q("sparse_topk_inverted", _sparse_oracle_sql())
def sparse_topk_inverted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical search over the PERSISTED dim-partitioned postings
    layout — Qdrant's sparse-vector point type, SPLADE-shaped: real hashed
    TF-IDF vectors (functions/embedding.py:hashed_tfidf_sparse), postings
    built once per corpus by ``fixtures.sparse_index``; the query's ``dim IN``
    probe prunes partitions so scan bytes ∝ the query's posting lists
    (operators/sparse.py:sparse_topk_inverted — parity-tested against the
    scan-scoring form). Oracle: DuckDB replays the posting join +
    decimal-exact per-doc sum (_sparse_oracle_sql)."""
    from vectordb_cloud_spark.operators.sparse import sparse_topk_inverted

    (qdims, qvals), path = fx.sparse_index(spark, sf_dir)
    postings = spark.read.parquet(path)
    hits = sparse_topk_inverted(postings, qdims, qvals, k=10)
    return hits.select(F.col("id").alias("doc_id"), "score")


# --- graph ANN: persisted adjacency + medoid entries, unrolled beam trace --


def _graph_oracle_sql() -> str:
    """DuckDB twin of the batch beam search (graph_ann.graph_knn_join —
    fixed max_hops rounds, no early stop, so the trace is exactly
    replayable): seed from the persisted medoid entry points, then per hop
    (unrolled CTEs — DuckDB recursion can't carry the top-beam window):
    beam = (dist, node) top-``beam`` of visited; frontier = DISTINCT
    adjacency successors of the beam minus visited; score the frontier
    exactly; union into visited. Final answer: (dist, node) top-k of every
    visited node. Every distance is the same fold-in-element-order L2 both
    engines compute bit-equal."""
    l2 = _SQL_L2.format(a="e.embedding", b="q.qe")
    hops = []
    prev = "v0"
    for h in range(1, _GRAPH_HOPS + 1):
        hops.append(f""",
    b{h} AS (SELECT node FROM {prev} ORDER BY dist, node LIMIT {_GRAPH_BEAM}),
    f{h} AS (SELECT DISTINCT a.dst AS node
             FROM adj a JOIN b{h} b ON a.src = b.node
             WHERE a.dst NOT IN (SELECT node FROM {prev})),
    s{h} AS (SELECT e.vec_id AS node, {l2} AS dist
             FROM embeddings e JOIN f{h} f ON e.vec_id = f.node, q),
    v{h} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM s{h})""")
        prev = f"v{h}"
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    adj AS (SELECT src, dst FROM read_parquet('{fx.GRAPH_ADJ}/*.parquet')),
    ep AS (SELECT id FROM read_parquet('{fx.GRAPH_ADJ}/_entry_points/*.parquet')),
    v0 AS (SELECT e.vec_id AS node, {l2} AS dist
           FROM embeddings e JOIN ep ON e.vec_id = ep.id, q){"".join(hops)}
    SELECT node AS vec_id, round(dist, 6) AS dist
    FROM {prev} ORDER BY dist, node LIMIT 10
    """


@_q("ann_graph_topk", _graph_oracle_sql())
def ann_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ANN (the HNSW-class family): beam search over the PERSISTED
    kNN-graph adjacency, seeded from persisted medoid entry points
    (graph_ann.graph_entry_points — r7: +0.14 recall over smallest-id
    seeds at the same beam; 0.938 at sf0.1 with degree=12/beam=48/4 hops).
    Uses the batch form (graph_knn_join) whose fixed-hop trace has no
    early-stop branch, so the DuckDB oracle replays it hop by hop over the
    same adjacency + entries (_graph_oracle_sql) — the approximate answer
    itself is hash-matched. Build is cached ingest-time work
    (``fixtures.graph_index``); per-hop query cost is beam×degree probes,
    corpus-size-independent (SCALE.md)."""
    from vectordb_cloud_spark.operators.graph_ann import graph_knn_join

    entry_ids, path = fx.graph_index(spark, sf_dir)
    adj = spark.read.parquet(path)
    emb = fx.table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    hits = graph_knn_join(emb, adj, qdf, k=10, beam=_GRAPH_BEAM,
                          max_hops=_GRAPH_HOPS, entry_ids=entry_ids)
    return hits.select("vec_id", F.round("dist", 6).alias("dist"))


# classify_titles_mock_embed oracle support: the mock embedder is
# deterministic, so the title embeddings are materialized to a parquet
# (fixtures.mock_embedded_docs) that DuckDB reads — the nearest-centroid
# argmin itself is plain SQL. Category centroids (4 fixed strings) are
# inlined as DOUBLE[] literals in the SQL (float32 -> double is exact, so
# both engines see the same values).
_CLASSIFY_CATS = ["science", "sports", "politics", "technology"]
_CLASSIFY_EMB = "classify_emb"  # fixture name of the embedded title slice


def _classify_cat_rows() -> list[tuple[str, list[float]]]:
    from vectordb_cloud_spark.functions.embedding import mock_vector

    return [(c, mock_vector(c, 64)) for c in _CLASSIFY_CATS]


def _classify_oracle_sql() -> str:
    cat_values = ", ".join(
        "('" + c + "', [" + ", ".join(repr(v) for v in vec) + "]::DOUBLE[])"
        for c, vec in _classify_cat_rows()
    )
    l2 = _SQL_L2.format(a="t.embedding", b="c.centroid")
    return f"""
    WITH t AS (SELECT doc_id, embedding
               FROM read_parquet('{fx.art_path(_CLASSIFY_EMB)}/*.parquet')),
         c(cat, centroid) AS (VALUES {cat_values})
    SELECT doc_id, cat FROM (
        SELECT t.doc_id, c.cat,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY {l2}, c.cat) AS rn
        FROM t, c
    ) WHERE rn = 1
    """


@_q("classify_titles_mock_embed", _classify_oracle_sql())
def classify_titles_mock_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/get_category_for_title batch form with the deterministic mock
    embedder (J2/A2, /root/reference/app.py:146-169): embed titles
    (one pandas_udf stage), assign each its L2-nearest category. Category
    centroids (4 literals) are embedded DRIVER-side via ``mock_vector`` — no
    second serialized UDF stage (the r3 bench regression). Oracle: the
    deterministic title embeddings are materialized to a parquet DuckDB
    reads; the argmin is plain SQL."""
    from vectordb_cloud_spark.functions.embedding import mock_embed
    from vectordb_cloud_spark.operators.classify import nearest_centroid

    fx.mock_embedded_docs(spark, sf_dir, _CLASSIFY_EMB, 50)
    from vectordb_cloud_spark.session import local_df

    cats = local_df(
        spark, _classify_cat_rows(), "cat string, centroid array<float>"
    )
    # repartition(1), NOT coalesce(1): a coalesced partition evaluates the
    # pandas_udf once per parent partition (32 sequential Arrow round-trips,
    # measured ~4s); repartition shuffles first, one batch, one worker.
    titles = (
        fx.table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .repartition(1)
        .select("doc_id", mock_embed("text", 64).alias("embedding"))
    )
    out = nearest_centroid(titles, cats, item_id="doc_id", item_vec="embedding",
                           centroid_label="cat", centroid_vec="centroid")
    return out.select("doc_id", "cat")


# ---------------------------------------------------------------------------
# More relational/analytic surface: exact percentiles, cube, conditional
# aggregate ratios, year-bucketed multi-joins, top terms, scalar parity
# ---------------------------------------------------------------------------

def price_percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles — Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the linear-interpolation definition
    (verified bit-identical). Rotated out of the registry in r10 (redundant
    relational shape — exact aggregation parity stays covered by
    tpch_q1/grouping_sets/customer_order_stats; accuracy vs the approx twin
    stays unit-tested); the slot went to the r9 serving grammar
    (VERDICT r9 next-round #1)."""
    li = fx.table(spark, sf_dir, "lineitem")
    # ONE array-percentile aggregate, not three scalar ones: each scalar
    # percentile buffers every group value independently (3x the memory and
    # sort work); the array form shares one buffer — measured 2.1x faster,
    # bit-identical results
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9))
    )
    return li.groupBy("l_returnflag").agg(pcts.alias("__p")).select(
        "l_returnflag",
        F.col("__p")[0].alias("p25"),
        F.col("__p")[1].alias("median"),
        F.col("__p")[2].alias("p90"),
    )


def price_percentiles_by_flag_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``price_percentiles_by_flag``: ``approx_percentile``
    builds a bounded-memory quantile sketch with map-side partial merge — one
    aggregation pass, no per-group full sort — which is the only shape that
    survives groups of billions of rows. Library-level (not in the 50-slot
    registry): sketch outputs are engine-specific, so there is no DuckDB hash
    oracle; accuracy is asserted against the exact query in tests and the
    runtime is recorded by bench.py as ``price_percentiles_approx``."""
    li = fx.table(spark, sf_dir, "lineitem")
    pcts = F.expr(
        "approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D), 10000)"
    )
    return li.groupBy("l_returnflag").agg(pcts.alias("__p")).select(
        "l_returnflag",
        F.col("__p")[0].alias("p25"),
        F.col("__p")[1].alias("median"),
        F.col("__p")[2].alias("p90"),
    )


def top_terms_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term frequencies: explode -> two-level agg -> top-5 per lang.
    The (lang, term) partial aggregation bounds the shuffle by vocabulary
    size, not corpus size. Library-level since the r8 hybrid rotation (its
    window-top-k-per-group shape stays oracle-covered by
    ``search_groups_topk``; the slot went to ``hybrid_rrf_topk``)."""
    from vectordb_cloud_spark.functions.text import words

    docs = fx.table(spark, sf_dir, "documents")
    terms = (
        docs.select("lang", F.explode(words("text")).alias("w"))
        .select("lang", F.lower("w").alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return (
        terms.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 5)
        .select("lang", "term", "n")
    )


def scalar_functions_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (SURVEY.md §2.6): substring/instr/concat_ws/
    casts, plus the reference's literal backslash-n split quirk (F3,
    /root/reference/app.py:162) — here a real newline split after replace.
    Rotated out of the registry in r10: every scalar here is exercised
    inside other green rows (concat_ws/casts in customer_order_stats and
    tpch rows, instr/substring in the filter DSL row, the \\n-split quirk in
    tests/test_api.py::test_get_category_for_title); the slot went to the
    r9 serving grammar (VERDICT r9 next-round #1)."""
    docs = fx.table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
        F.length("text").alias("n_chars"),
        F.instr("text", "spark").alias("spark_pos"),
        F.concat_ws("|", "lang", "source", F.col("doc_id").cast("string")).alias("tag"),
        (F.length("text").cast("double") / 100.0).alias("chars_ratio"),
        F.size(F.split(F.regexp_replace("text", " ", "\n"), "\n")).alias("nl_parts"),
    )


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bucket expression + group-by (partial-agg
    shuffle bounded by bucket count). Rotated OUT of the 50-slot registry in
    r7 (redundant with the other grouped-agg oracle rows) to make room for
    the SQ/BQ/sparse/graph ANN oracle entries; kept library-level."""
    ev = fx.table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.floor(F.col("value") / 25.0).cast("long").alias("bucket")
    ).agg(F.count("*").alias("n"))


@_q(
    "customer_order_stats",
    """
    SELECT c.c_custkey, c.c_mktsegment,
           count(*) AS n_orders,
           min(o.o_orderdate) AS first_order,
           max(o.o_orderdate) AS last_order,
           max_by(o.o_orderkey,
                  date_diff('day', DATE '1970-01-01', o.o_orderdate)::BIGINT
                  * 10000000000 + o.o_orderkey) AS last_orderkey,
           round(sum(CAST(o.o_totalprice AS DECIMAL(28,10)))::DOUBLE, 2) AS lifetime_value
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order profile: broadcast dim join + multi-aggregate,
    including the latest-per-group primitive as an argmax aggregate —
    ``last_orderkey`` = max_by over a (day, orderkey) key encoded into one
    BIGINT (DuckDB 1.0 max_by has no struct ordering), so the latest-order
    lookup costs zero extra shuffles on top of the profile aggregation
    (replaces the round-1 window-rank query ``latest_order_per_customer``)."""
    c = fx.table(spark, sf_dir, "customer")
    o = fx.table(spark, sf_dir, "orders")
    order_key = (
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast("long")
        * F.lit(10_000_000_000).cast("long")
        + F.col("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.max_by("o_orderkey", order_key).alias("last_orderkey"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,10)")).cast("double"), 2).alias("lifetime_value"),
        )
    )


_BM25_ORACLE = """
    WITH toks AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    postings AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
    docstats AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY 1),
    doclens AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN NULL
                  ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                                       t -> t <> '')) END AS dl
      FROM documents
    ),
    corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avg_len FROM doclens)
    SELECT p.doc_id,
           round(sum(ln(1 + (c.n_docs - s.df + 0.5::DOUBLE) / (s.df + 0.5::DOUBLE))
                     * (p.tf * (1.2::DOUBLE + 1))
                     / (p.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE
                                              + 0.75::DOUBLE * l.dl / c.avg_len))),
                 6) AS score
    FROM postings p
    JOIN docstats s USING (term)
    JOIN doclens l USING (doc_id)
    CROSS JOIN corpus c
    WHERE p.term IN ('spark', 'hash', 'join')
    GROUP BY p.doc_id
    ORDER BY score DESC, p.doc_id ASC
    LIMIT 10
    """


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval gate: BM25 top-k over the documents corpus via the
    PERSISTED inverted index (built once per corpus by
    ``fixtures.bm25_index`` — postings term-sharded and term-sorted so the query's term ``isin``
    predicate skips row groups; index construction is ingest-time work,
    benched separately as ``bm25_index_build``). The oracle re-derives the
    same postings/df/dl/corpus tables in SQL — BM25 is pure relational math,
    so this is a full hash-matched check, not rows-only. All constants are
    double-cast in the oracle so DuckDB doesn't fall into DECIMAL arithmetic
    where Spark computes IEEE doubles. Rotated out of the registry in r13
    (shape-redundant: ``hybrid_rrf_topk``'s oracle replays the identical
    BM25 CTE chain as its lexical leg, and ``query_rrf_fusion_topk`` keeps
    the fusion surface); stays wired for spot runs with its full oracle
    via ``queries.library()``. The slot went to the MMR rerank row
    (``query_mmr_rerank_topk``, VERDICT r12 #2)."""
    from vectordb_cloud_spark.operators.lexical import bm25_search

    postings, docstats, doclens, corpus = fx.bm25_index(spark, sf_dir)
    return bm25_search(postings, docstats, doclens, corpus, "spark hash join", k=10)


# -- hybrid retrieval (BM25 ∪ dense kNN via reciprocal-rank fusion) ---------
_HYBRID_QUERY_TEXT = "spark hash join"
_HYBRID_DENSE_SLICE = 200  # dense side ranks this doc_id slice (see docstring)
_HYBRID_EMB = "hybrid_emb"  # fixture name of the embedded dense-side slice


def _hybrid_oracle_sql() -> str:
    from vectordb_cloud_spark.functions.embedding import mock_vector

    qvec = "[" + ", ".join(repr(v) for v in mock_vector(_HYBRID_QUERY_TEXT, 64)) + "]::DOUBLE[]"
    l2 = _SQL_L2.format(a="e.embedding", b="q.v")
    return f"""
    WITH q(v) AS (VALUES ({qvec})),
    toks AS (
      SELECT doc_id, lower(t) AS term
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    postings AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
    docstats AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY 1),
    doclens AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN NULL
                  ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
                                       t -> t <> '')) END AS dl
      FROM documents
    ),
    corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avg_len FROM doclens),
    bm25 AS (
      SELECT p.doc_id,
             round(sum(ln(1 + (c.n_docs - s.df + 0.5::DOUBLE) / (s.df + 0.5::DOUBLE))
                       * (p.tf * (1.2::DOUBLE + 1))
                       / (p.tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE
                                                + 0.75::DOUBLE * l.dl / c.avg_len))),
                   6) AS score
      FROM postings p
      JOIN docstats s USING (term)
      JOIN doclens l USING (doc_id)
      CROSS JOIN corpus c
      WHERE p.term IN ('spark', 'hash', 'join')
      GROUP BY p.doc_id
      ORDER BY score DESC, p.doc_id ASC
      LIMIT 20
    ),
    bm25_r AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
      FROM bm25
    ),
    dense AS (
      SELECT e.doc_id, {l2} AS dist
      FROM read_parquet('{fx.art_path(_HYBRID_EMB)}/*.parquet') e CROSS JOIN q
      ORDER BY dist ASC, e.doc_id ASC
      LIMIT 20
    ),
    dense_r AS (
      SELECT doc_id, row_number() OVER (ORDER BY dist ASC, doc_id ASC) AS rk
      FROM dense
    ),
    contrib AS (
      SELECT doc_id, (1.0::DOUBLE) / (60 + rk) AS c FROM bm25_r
      UNION ALL
      SELECT doc_id, (1.0::DOUBLE) / (60 + rk) AS c FROM dense_r
    )
    SELECT doc_id, round(sum(c), 6) AS rrf_score
    FROM contrib
    GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT 10
    """


@_q("hybrid_rrf_topk", _hybrid_oracle_sql())
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (persisted inverted index, corpus-wide)
    fused with dense mock-embedding kNN top-20 via reciprocal-rank fusion
    (``rrf_fuse``, rrf_k=60) — the standard lexical+semantic combination a
    vector engine serves as one query (Qdrant query API ``fusion: rrf``).
    The dense side ranks the ``doc_id < 200`` slice (like
    ``classify_titles_mock_embed``, the deterministic mock embeddings of the
    slice are materialized to parquet for the oracle — at production scale
    this side is the ANN index, exercised by its own registry rows). The
    oracle replays EVERYTHING except the embedder itself: the BM25 CTE
    chain, the dense L2 ranking over the artifact, both rank assignments
    with the same (score, id) tiebreaks, and the Σ 1/(60+rank) fusion —
    full hash-matched."""
    from vectordb_cloud_spark.functions.embedding import mock_embed, mock_vector
    from vectordb_cloud_spark.functions.vector import l2_distance_to
    from vectordb_cloud_spark.operators.lexical import bm25_search, rrf_fuse

    fx.mock_embedded_docs(spark, sf_dir, _HYBRID_EMB, _HYBRID_DENSE_SLICE)
    postings, docstats, doclens, corpus = fx.bm25_index(spark, sf_dir)
    lex = bm25_search(postings, docstats, doclens, corpus,
                      _HYBRID_QUERY_TEXT, k=20)
    # repartition(1), NOT coalesce(1): one Arrow batch for the pandas_udf
    # (the classify_titles_mock_embed lesson)
    dense = (
        fx.table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _HYBRID_DENSE_SLICE)
        .repartition(1)
        .select("doc_id", mock_embed("text", 64).alias("emb"))
        .select(
            "doc_id",
            l2_distance_to("emb", mock_vector(_HYBRID_QUERY_TEXT, 64)).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("doc_id").asc())
        .limit(20)
    )
    return rrf_fuse([lex, dense], id_col="doc_id", k=10, max_list_rows=None)


def events_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-user counts. Rotated OUT of the 50-slot registry in
    r8 (events-table time aggregation stays oracle-checked via
    `streaming_hourly_counts` and `sessionize_users`) to make room for the
    serving-API rows; kept library-level."""
    ev = fx.table(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("dau"), F.count("*").alias("n_events")
    )


def price_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape, decorrelated to a window aggregate:
    one shuffle on brand instead of a per-row subquery. Decimal-exact mean so
    the comparison is deterministic. Rotated OUT of the 50-slot registry in
    r7 (redundant with the other window-agg oracle rows) to make room for
    the SQ/BQ/sparse/graph ANN oracle entries; kept library-level."""
    p = fx.table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    brand_avg = (
        F.sum(F.col("p_retailprice").cast("decimal(28,10)")).over(w).cast("double")
        / F.count("*").over(w)
    )
    return (
        p.withColumn("__avg", brand_avg)
        .filter(F.col("p_retailprice") > F.col("__avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# Temporal joins: as-of and range (Spark-lacking operators, built from
# composition — SURVEY.md §2.3 extensions)
# ---------------------------------------------------------------------------

@_q(
    "asof_last_purchase_before_click",
    """
    WITH p AS (
      SELECT user_id, ts, max(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, p.ts AS purchase_ts, p.purchase_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def asof_last_purchase_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's most recent prior
    purchase. Union + running-last window — one shuffle on user_id; the
    oracle is DuckDB's native ASOF JOIN."""
    from vectordb_cloud_spark.operators.temporal import asof_join

    ev = fx.table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
                    right_cols=["ts", "purchase_value"], suffix="")
    return out.select(
        "event_id",
        F.col("ts").alias("purchase_ts"),
        F.col("purchase_value"),
    )


_RANGE_JOIN_ORACLE = """
    WITH tiers(tier, lo, hi) AS (
      VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 500.0)
    )
    SELECT t.tier, count(*) AS n,
           round(sum(CAST(e.value AS DECIMAL(28,10)))::DOUBLE, 4) AS total_value
    FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
    GROUP BY t.tier
    """


def range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via bucketization: point value -> bucket equi-join ->
    exact BETWEEN, instead of an O(n·m) theta join. Retired to library
    in-round r14 (the slot went to collection_ann_incremental_topk —
    newest-code-least-proof; the bucketized-join shape survives in the
    sessionize/asof rows); stays wired for spot runs with its full
    oracle."""
    from vectordb_cloud_spark.operators.temporal import range_join

    ev = fx.table(spark, sf_dir, "events")
    from vectordb_cloud_spark.session import local_df

    tiers = local_df(
        spark,
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 500.0)],
        "tier string, lo double, hi double",
    )
    joined = range_join(ev, tiers, "value", "lo", "hi", bucket_width=50.0)
    return joined.groupBy("tier").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(28,10)")).cast("double"), 4).alias("total_value"),
    )


@_q(
    "streaming_hourly_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming execution, oracle-checked: the events
    parquet drives a watermarked tumbling-window stream (availableNow) into
    a memory sink; the streamed result must hash-match the batch SQL — the
    exactly-once guarantee made testable (SURVEY.md §2.8)."""
    fx.table(spark, sf_dir, "events")  # pins the parent session's confs
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # the stream runs in a CHILD session kept per parent session
    # (fixtures.stream_session), so its shuffle sizing never mutates the
    # caller's session; the previous run's memory sink is dropped first
    ss = fx.stream_session(spark)
    name = "__stream_hourly_out"
    ss.catalog.dropTempView(name)
    # the file stream source needs a DIRECTORY; glob-filter to the events file
    stream = (
        ss.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(raw_schema["ts"].dataType, LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(raw_schema["ts"].dataType, TimestampNTZType):
        # watermarks require TIMESTAMP; NTZ appears if the schema was probed
        # before fixtures.table() pinned inferTimestampNTZ off
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    # fail LOUDLY on timeout (ADVICE r14): returning the memory table after
    # an unfinished run would silently serve partial counts
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "streaming_hourly_counts did not finish within 300s")
    return ss.table(name)


# multimodal oracle support: the fake decoder is an md5 counter chain
# (operators/multimodal.py:_fake_decode — byte k of the image is byte k%16
# of md5(seed ':' k//16)) and the 16-dim feature is integer-sum stats, so
# DuckDB can replay decode AND feature math bit-for-bit given only the
# per-media (media_id, format, width, height, seed) metadata — materialized
# by the Spark query fn (fixtures.multimodal_media). Media is synthetic (no
# media table in the driver fixtures), so the metadata parquet is the
# oracle's whole input.
_MM_MAX_BLOCKS = 1408  # ceil(max_w * max_h * 3 / 16) = ceil(95*79*3/16)


def _multimodal_oracle_sql() -> str:
    """DuckDB twin of the fake decode + 16-dim feature pipeline: regenerate
    the md5-chain pixel stream from each media row's seed, aggregate exact
    integer per-channel stats, and assemble the same 16 feature slots with
    the same expression shapes ((s*s)/cnt stays in exact-int64 range, so
    every double matches bit-for-bit), including the float32 cast
    (CAST AS REAL) the array<float> column applies Spark-side."""
    return f"""
    WITH m AS (
      SELECT media_id, format, width, height, seed
      FROM read_parquet('{fx.art_path("mm_media")}/*.parquet')
    ),
    blocks AS (
      SELECT m.media_id, m.width, m.height,
             rb.b AS blk,
             md5(m.seed || ':' || rb.b::VARCHAR) AS hx
      FROM m
      JOIN range(0, {_MM_MAX_BLOCKS}) rb(b)
        ON rb.b < (m.width * m.height * 3 + 15) // 16
    ),
    bytes AS (
      SELECT b.media_id,
             ((b.blk * 16 + rj.j) % 3) AS c,
             ('0x' || substr(b.hx, rj.j * 2 + 1, 2))::INT AS v
      FROM blocks b
      JOIN range(0, 16) rj(j) ON b.blk * 16 + rj.j < b.width * b.height * 3
    ),
    stats AS (
      SELECT media_id, c,
             COUNT(*)::BIGINT AS cnt, SUM(v)::BIGINT AS s,
             SUM(v * v)::BIGINT AS ss,
             MIN(v) AS mn, MAX(v) AS mx
      FROM bytes GROUP BY media_id, c
    ),
    feats AS (
      SELECT media_id, c::INT AS idx, s::DOUBLE / cnt AS value FROM stats
      UNION ALL
      SELECT media_id, (c + 3)::INT, sqrt((ss::DOUBLE - (s * s) / cnt) / cnt)
      FROM stats
      UNION ALL SELECT media_id, (c + 6)::INT, mn::DOUBLE FROM stats
      UNION ALL SELECT media_id, (c + 9)::INT, mx::DOUBLE FROM stats
      UNION ALL SELECT media_id, 12, width::DOUBLE FROM m
      UNION ALL SELECT media_id, 13, height::DOUBLE FROM m
      UNION ALL SELECT media_id, 14, (width * height)::DOUBLE FROM m
      UNION ALL SELECT media_id, 15, ('0x' || substr(seed, 1, 2))::INT::DOUBLE
      FROM m
    )
    SELECT f.media_id, m.format, f.idx,
           round(CAST(f.value AS REAL)::DOUBLE, 6) AS value
    FROM feats f JOIN m USING (media_id)
    """


@_q("multimodal_image_features", _multimodal_oracle_sql())
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing surface: binary image column -> mapInPandas decode
    (deterministic fake backend; real codecs stubbed per BASELINE.json) ->
    feature vector. Oracle-checked end to end since the fake decoder became
    an md5 counter chain with integer-sum features: DuckDB regenerates the
    pixel stream from the materialized payload seeds and replays the exact
    stats math (_multimodal_oracle_sql)."""
    from vectordb_cloud_spark.operators.multimodal import (
        extract_image_features,
        make_fake_media,
    )

    fx.multimodal_media(spark)
    media = make_fake_media(spark, n=64, kind="image")
    feats = extract_image_features(media, feature_dim=16)
    # posexplode the vector to scalar rows: the driver's canonicalizer sorts
    # through pandas, which cannot hash a raw list column (CORRECTNESS_r02 err).
    return feats.select(
        "media_id",
        "format",
        F.posexplode("feature").alias("idx", "value"),
    ).withColumn("value", F.round(F.col("value").cast("double"), 6))


# ---------------------------------------------------------------------------
# r8 registry rotation: the serving-API surfaces (facets, grouped search,
# recommendation, passage retrieval) and the Gopher battery under the hard
# oracle. Swapped IN for embedding_near_dup (label-block twin of the
# oracle-green LSH-block row), set_ops_customers / semi_join_priority_counts
# / top_orders_per_segment (redundant relational surface — windows, semi
# joins and set algebra all remain exercised by other green rows), and
# doc_stats_by_lang (subsumed by the Gopher battery's word statistics).
# ---------------------------------------------------------------------------

@_q(
    "faceted_search_counts",
    """
    WITH f AS (SELECT lang, source FROM documents WHERE n_chars > 400),
    m AS (
      SELECT 'lang' AS facet, lang AS value FROM f WHERE lang IS NOT NULL
      UNION ALL
      SELECT 'source' AS facet, source AS value FROM f WHERE source IS NOT NULL
    ),
    c AS (SELECT facet, value, count(*)::BIGINT AS n FROM m GROUP BY facet, value)
    SELECT facet, value, n FROM c
    QUALIFY row_number() OVER (PARTITION BY facet ORDER BY n DESC, value ASC) <= 10
    """,
)
def faceted_search_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search (Qdrant /facet next to search): per-facet value
    counts under the SAME filter scope as the hits — one melt + one
    partial-agg pass over all facets (operators/knn.py facet_counts), no
    per-facet rescans."""
    from vectordb_cloud_spark.operators.knn import facet_counts

    docs = fx.table(spark, sf_dir, "documents")
    return facet_counts(docs, ["lang", "source"],
                        filters=F.col("n_chars") > 400,
                        max_values_per_facet=10)


@_q(
    "search_groups_topk",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label, {_SQL_L2.format(a='e.embedding', b='q.qe')} AS dist
      FROM embeddings e, q WHERE e.label IS NOT NULL
    ),
    hits AS (
      SELECT vec_id, label, dist,
             row_number() OVER (PARTITION BY label ORDER BY dist, vec_id) AS hit_rank
      FROM scored
    ),
    winners AS (
      SELECT label, min(dist) AS best FROM scored GROUP BY label
      ORDER BY best, label LIMIT 4
    ),
    ranked AS (
      SELECT label, row_number() OVER (ORDER BY best, label) AS group_rank
      FROM winners
    ),
    lk AS (
      SELECT label, count(*)::BIGINT AS n_members,
             min(vec_id) AS head_id
      FROM embeddings WHERE label IS NOT NULL GROUP BY label
    )
    SELECT h.label, r.group_rank, h.vec_id, h.hit_rank,
           round(h.dist, 6) AS dist,
           lk.n_members AS lookup_n_members,
           lk.head_id AS lookup_head_id
    FROM hits h JOIN ranked r USING (label)
    LEFT JOIN lk USING (label)
    WHERE h.hit_rank <= 3
    """,
)
def search_groups_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped search WITH group-head lookup (Qdrant /search_groups +
    ``with_lookup``): best 3 hits per label for the 4 nearest groups —
    per-group window top-n + per-group MIN and TakeOrderedAndProject down
    to k_groups BEFORE the only unpartitioned window — then the lookup
    collection's payload (here a per-label profile frame keyed by the
    group value) left-joins onto the winners, k_groups-bounded and
    broadcast (operators/knn.py search_groups). r10 upgrades this row to
    oracle-cover the ``with_lookup`` join itself (VERDICT r9 #1d): NULL
    where the lookup has no such point, ``lookup_`` column prefix."""
    from vectordb_cloud_spark.operators.knn import search_groups

    qv = fx.query_vec(spark, sf_dir, 0)
    emb = fx.table(spark, sf_dir, "embeddings")
    lookup = (
        emb.filter(F.col("label").isNotNull())
        .groupBy("label")
        .agg(F.count("*").alias("n_members"),
             F.min("vec_id").alias("head_id"))
    )
    out = search_groups(emb, qv, group_by="label", k_groups=4,
                        hits_per_group=3, id_col="vec_id",
                        with_lookup=lookup, lookup_id_col="label")
    return out.select("label", "group_rank", "vec_id", "hit_rank",
                      F.round("dist", 6).alias("dist"),
                      "lookup_n_members", "lookup_head_id")


@_q(
    "recommend_topk",
    f"""
    WITH pos AS (
      SELECT i, avg(embedding[i]::DOUBLE) AS v
      FROM embeddings, unnest(range(1, len(embedding)+1)) AS t(i)
      WHERE vec_id IN (1, 2, 3) GROUP BY i
    ),
    neg AS (
      SELECT i, avg(embedding[i]::DOUBLE) AS v
      FROM embeddings, unnest(range(1, len(embedding)+1)) AS t(i)
      WHERE vec_id = 4 GROUP BY i
    ),
    q AS (
      SELECT list(pos.v - neg.v ORDER BY pos.i) AS qe
      FROM pos JOIN neg ON pos.i = neg.i
    )
    SELECT e.vec_id, round({_SQL_L2.format(a='e.embedding', b='q.qe')}, 6) AS dist
    FROM embeddings e, q
    WHERE e.vec_id NOT IN (1, 2, 3, 4)
    ORDER BY {_SQL_L2.format(a='e.embedding', b='q.qe')}, e.vec_id
    LIMIT 8
    """,
)
def recommend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation search (Qdrant /recommend, average_vector strategy):
    query = mean(positives) - mean(negatives), examples excluded; the
    example fetch is one bounded isin probe (operators/knn.py recommend)."""
    from vectordb_cloud_spark.operators.knn import recommend

    emb = fx.table(spark, sf_dir, "embeddings")
    hits = recommend(emb, positive_ids=[1, 2, 3], negative_ids=[4], k=8,
                     tiebreak="vec_id")
    return hits.select("vec_id", F.round("dist", 6).alias("dist"))


@_q(
    "gopher_quality_counts",
    r"""
    WITH w AS (
      SELECT text,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS wl
      FROM documents
    ),
    f AS (
      SELECT text, wl,
             len(wl) AS n_words,
             greatest(len(wl), 1)::DOUBLE AS nz,
             CASE WHEN len(wl) = 0 THEN 0.0
                  ELSE list_sum(list_transform(wl, x -> length(x)))::DOUBLE
                       / len(wl) END AS mwl,
             (len(regexp_extract_all(text, '#'))
              + len(regexp_extract_all(text, '\.\.\.|…'))) AS n_symbols,
             regexp_split_to_array(text, '
') AS lines
      FROM w
    ),
    g AS (
      SELECT
        (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
        (mwl >= 3.0 AND mwl <= 10.0) AS mean_word_len_ok,
        (n_symbols / nz < 0.1) AS symbol_ratio_ok,
        (len(list_filter(lines, l -> regexp_matches(trim(l), '^([•‣◦\-\*] )')))
         / greatest(len(lines), 1)::DOUBLE < 0.9) AS bullet_lines_ok,
        (len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$')))
         / greatest(len(lines), 1)::DOUBLE < 0.3) AS ellipsis_lines_ok,
        (len(list_filter(wl, x -> regexp_matches(x, '[A-Za-z]'))) / nz >= 0.8)
          AS alpha_words_ok,
        (len(list_filter(['the','be','to','of','and','that','have','with'],
                         s -> list_contains(list_transform(wl, x -> lower(x)), s)))
         >= 2) AS stopwords_ok
      FROM f
    )
    SELECT count(*)::BIGINT AS n_docs,
           sum(word_count_ok::INT)::BIGINT AS n_word_count_ok,
           sum(mean_word_len_ok::INT)::BIGINT AS n_mean_word_len_ok,
           sum(symbol_ratio_ok::INT)::BIGINT AS n_symbol_ratio_ok,
           sum(bullet_lines_ok::INT)::BIGINT AS n_bullet_lines_ok,
           sum(ellipsis_lines_ok::INT)::BIGINT AS n_ellipsis_lines_ok,
           sum(alpha_words_ok::INT)::BIGINT AS n_alpha_words_ok,
           sum(stopwords_ok::INT)::BIGINT AS n_stopwords_ok,
           sum((word_count_ok AND mean_word_len_ok AND symbol_ratio_ok
                AND bullet_lines_ok AND ellipsis_lines_ok AND alpha_words_ok
                AND stopwords_ok)::INT)::BIGINT AS n_passes
    FROM g
    """,
)
def gopher_quality_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 rule battery over the corpus: per-rule pass counts +
    the combined verdict, all-integer aggregates (exact hash). The flags
    are one fused scan-stage struct (functions/text.py
    gopher_quality_flags); the oracle recomputes every rule in SQL."""
    from vectordb_cloud_spark.functions.text import gopher_quality_flags
    from vectordb_cloud_spark.session import parallelize_narrow

    # fan the single-file scan out before the regex battery (r14): the
    # rule flags are the whole cost and ran on ONE task (1.51s -> 0.62s);
    # parallelize_narrow is a no-op on multi-file tables at scale
    docs = parallelize_narrow(fx.table(spark, sf_dir, "documents"))
    g = docs.select(gopher_quality_flags("text").alias("g"))
    rules = ["word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
             "bullet_lines_ok", "ellipsis_lines_ok", "alpha_words_ok",
             "stopwords_ok"]
    aggs = [F.count("*").alias("n_docs")]
    aggs += [F.sum(F.col(f"g.{r}").cast("long")).alias(f"n_{r}") for r in rules]
    aggs.append(F.sum(F.col("g.passes").cast("long")).alias("n_passes"))
    return g.agg(*aggs)


# --- passage retrieval: chunk-level hashed-TF-IDF index, materialized ------
# The hashed-TF-IDF embedder uses xxhash64 (no DuckDB twin), so — like the
# LSH planes / PQ codes / graph adjacency oracles — DuckDB replays the
# search over the persisted CHUNK INDEX (fixtures.passage_index): cosine
# per chunk, max-pooled per doc with the best chunk pinned, top-k. The
# approximate-pipeline OUTPUT is hash-matched.


def _passage_oracle_sql() -> str:
    dot = _SQL_DOT.format(a="c.embedding", b="q.qe")
    na = _SQL_NORM.format(a="c.embedding")
    nb = _SQL_NORM.format(a="q.qe")
    return f"""
    WITH chunks AS (SELECT doc_id, chunk_idx, embedding
                    FROM read_parquet('{fx.PASSAGE_CHUNKS}/*.parquet')),
    q AS (SELECT embedding AS qe FROM chunks WHERE doc_id = 0 AND chunk_idx = 0),
    scored AS (
      SELECT c.doc_id, c.chunk_idx, {dot} / ({na} * {nb}) AS score
      FROM chunks c, q
    ),
    pooled AS (
      -- row_number over (score DESC, chunk_idx DESC) = Spark's
      -- max_by(chunk_idx, struct(score, chunk_idx)) argmax with the same
      -- deterministic tiebreak (DuckDB's max_by can't take a struct key)
      SELECT doc_id, round(score, 6) AS score, chunk_idx AS best_chunk_idx
      FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, chunk_idx DESC
      ) = 1
    )
    SELECT doc_id, score, best_chunk_idx
    FROM pooled ORDER BY score DESC, doc_id LIMIT 8
    """


@_q("passage_topk", _passage_oracle_sql())
def passage_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage retrieval: chunk the corpus slice, embed every chunk with
    the REAL hashed-TF-IDF embedder (chunk-level IDF), score a query
    against all chunks (cosine), max-pool per document with the best chunk
    pinned, return the top documents — operators/chunking.py
    chunk_tfidf_index + passage_topk. The query vector is doc 0's first
    chunk (self-retrieval: doc 0 must come back at score 1)."""
    from vectordb_cloud_spark.operators.chunking import passage_topk

    # the chunk index is a PERSISTED build artifact (construction is
    # benched as passage_index_build); the query is one scoring scan of the
    # persisted chunks
    idx, qv = fx.passage_index(spark, sf_dir)
    return passage_topk(idx, qv, k=8, per_doc="max")


# ---------------------------------------------------------------------------
# r8 serving-API rows: the Qdrant client surface the reference speaks
# (filter DSL documents /root/reference/search.py:38-44; discovery,
# geo filters, multivectors = the same client's public API families),
# re-expressed as scan-stage column algebra.
# ---------------------------------------------------------------------------

_FILTER_DSL_SPEC = {
    "must": [
        {"key": "lang", "match": {"any": ["en", "de"]}},
        {"key": "n_chars", "range": {"gte": 120, "lt": 520}},
        {"key": "text", "match": {"text": "the"}},
    ],
    "should": [
        {"key": "source", "match": {"value": "src5"}},
        {"key": "n_chars", "range": {"gt": 300}},
    ],
    "must_not": [
        {"key": "source", "match": {"value": "src4"}},
        {"key": "text", "match": {"regex": "vector (join|sort)"}},
    ],
}


@_q(
    "filter_dsl_search",
    """
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE lang IN ('en', 'de')
      AND n_chars >= 120 AND n_chars < 520
      AND contains(lower(text), 'the')
      AND (source = 'src5' OR n_chars > 300)
      AND NOT (source = 'src4' OR regexp_matches(text, 'vector (join|sort)'))
    """,
)
def filter_dsl_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant filter-DSL document → Spark predicate (filters.compile_filter).
    The exact grammar the reference's client builds
    (/root/reference/search.py:9,38-44: Filter/FieldCondition/MatchValue),
    here exercising must(any+range+text) / should(value|range) /
    must_not(value|regex) in one compiled scan-stage predicate — every
    clause verified non-vacuous on the fixture. Absorbs the r7
    `filter_contains_regex` row's P4/P5 coverage (match.text ≡ contains,
    match.regex ≡ rlike)."""
    from vectordb_cloud_spark.filters import compile_filter

    docs = fx.table(spark, sf_dir, "documents")
    return docs.filter(
        compile_filter(_FILTER_DSL_SPEC, id_col="doc_id")
    ).select("doc_id", "lang", "source", "n_chars")


def _geo_radius_oracle_sql() -> str:
    return """
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
             (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
      FROM customer
    )
    SELECT c_custkey, lat, lon,
           round(2 * 6371008.8 * asin(sqrt(least(
             sin(radians(10.0 - lat) / 2) ^ 2
             + cos(radians(lat)) * cos(radians(10.0))
               * sin(radians(20.0 - lon) / 2) ^ 2, 1.0))), 3) AS dist_m
    FROM pts
    WHERE 2 * 6371008.8 * asin(sqrt(least(
            sin(radians(10.0 - lat) / 2) ^ 2
            + cos(radians(lat)) * cos(radians(10.0))
              * sin(radians(20.0 - lon) / 2) ^ 2, 1.0))) <= 3000000.0
    ORDER BY c_custkey
    """


def geo_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-radius filter (Qdrant `geo_radius` condition) as haversine column
    math: points within 3000 km of (10°N, 20°E), with the distance column.
    Coordinates are derived deterministically from c_custkey (integer
    modular arithmetic then exact decimal division — bit-identical in both
    engines); the fixture's nearest point sits >4 km from the radius
    boundary, so cross-engine libm noise (~1e-9 m) cannot flip membership.
    Plan: pure scan-stage expressions, filter before project, no shuffle.

    r11 rotation: registry row retired to library level (oracle-green
    r8-r10; _geo_radius_oracle_sql stays wired for spot runs, the geo
    grammar stays fuzz-covered in test_filters/test_properties) — the
    slot went to the r10-new serving surfaces per VERDICT r10 #1."""
    from vectordb_cloud_spark.filters import compile_filter, geo_distance_meters_to

    cust = fx.table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    ).withColumn("loc", F.struct("lat", "lon"))
    spec = {"must": [{"key": "loc", "geo_radius": {
        "center": {"lat": 10.0, "lon": 20.0}, "radius": 3_000_000.0}}]}
    return (
        pts.filter(compile_filter(spec))
        .select(
            "c_custkey", "lat", "lon",
            F.round(
                geo_distance_meters_to(F.col("loc"), 10.0, 20.0), 3
            ).alias("dist_m"),
        )
    )


def _discover_oracle_sql() -> str:
    # example vectors come in through CTE cross-joins (one row each) —
    # DuckDB forbids subqueries inside list_transform lambdas
    l2 = _SQL_L2
    names = [("t", 0), ("p1", 1), ("n1", 2), ("p2", 3),
             ("n2", 4), ("p3", 5), ("n3", 6)]
    ctes = ", ".join(
        f"{n} AS (SELECT embedding AS v FROM embeddings WHERE vec_id = {i})"
        for n, i in names
    )
    ind = " + ".join(
        f"(CASE WHEN {l2.format(a='e.embedding', b=p + '.v')}"
        f" < {l2.format(a='e.embedding', b=n + '.v')} THEN 1 ELSE 0 END)"
        for p, n in [("p1", "n1"), ("p2", "n2"), ("p3", "n3")]
    )
    tdist = l2.format(a='e.embedding', b='t.v')
    return f"""
    WITH {ctes}
    SELECT vec_id, context_score, round(target_dist_raw, 6) AS target_dist
    FROM (
      SELECT e.vec_id, {ind} AS context_score, {tdist} AS target_dist_raw
      FROM embeddings e, t, p1, n1, p2, n2, p3, n3 WHERE e.vec_id > 6
    )
    ORDER BY context_score DESC, target_dist_raw ASC, vec_id ASC
    LIMIT 10
    """


def discover_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery search (Qdrant /points/discover): target vector 0 steered
    by three (positive, negative) context pairs (ids 1..6); rank by pairs
    satisfied (closer-to-positive), tiebreak by target distance — the
    documented public semantics. Examples excluded from results, like the
    recommend row. One narrow scan + TakeOrderedAndProject; operator in
    operators/discover.py.

    r11 rotation: registry row retired to library level (oracle-green
    r8-r10; _discover_oracle_sql stays wired for spot runs and
    test_discover.py pins the hand-computed context-pair semantics) —
    the slot went to the r10-new serving surfaces per VERDICT r10 #1."""
    from vectordb_cloud_spark.operators.discover import discover

    emb = fx.table(spark, sf_dir, "embeddings")
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.filter(F.col("vec_id") <= 6).collect()}
    pairs = [(vecs[1], vecs[2]), (vecs[3], vecs[4]), (vecs[5], vecs[6])]
    hits = discover(emb, vecs[0], pairs, k=10,
                    filters=F.col("vec_id") > 6)
    return hits.select(
        "vec_id", "context_score", F.round("target_dist", 6).alias("target_dist")
    )


def _maxsim_oracle_sql() -> str:
    dot = _SQL_DOT
    n_tokens, width = 4, 16
    slices = [(j * width + 1, (j + 1) * width) for j in range(n_tokens)]
    per_q = []
    for (qa, qb) in slices:
        qs = f"(q.v)[{qa}:{qb}]"
        best = ", ".join(
            dot.format(a=f"(e.embedding)[{da}:{db}]", b=qs)
            for (da, db) in slices
        )
        per_q.append(f"greatest({best})")
    score = " + ".join(per_q)
    return f"""
    WITH q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(maxsim_raw, 6) AS maxsim
    FROM (
      SELECT e.vec_id, {score} AS maxsim_raw
      FROM embeddings e, q WHERE e.vec_id <> 0
    )
    ORDER BY maxsim_raw DESC, vec_id ASC
    LIMIT 10
    """


@_q("multivector_maxsim_topk", _maxsim_oracle_sql())
def multivector_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivector (ColBERT late-interaction) top-k: each point's 64-dim
    vector reshaped into 4 contiguous 16-dim token vectors (a deterministic
    multivector fixture), scored with MaxSim = Σ_q max_d q·d against vector
    0's tokens — Qdrant's public multivector scoring, as nested JVM column
    algebra (operators/multivector.py), shuffle-free top-k."""
    from vectordb_cloud_spark.operators.multivector import (
        multivector_topk,
        split_into_tokens,
    )

    emb = fx.table(spark, sf_dir, "embeddings")
    mv = emb.select(
        "vec_id", split_into_tokens("embedding", 4).alias("token_vectors")
    )
    q_tokens = [list(t) for t in
                mv.filter(F.col("vec_id") == 0).first()["token_vectors"]]
    hits = multivector_topk(mv, q_tokens, k=10,
                            filters=F.col("vec_id") != 0)
    return hits.select("vec_id", F.round("maxsim", 6).alias("maxsim"))


# ---------------------------------------------------------------------------
# r9 registry rotation (VERDICT r8 next-round #1): the r8 collection/serving
# machinery under the hard oracle — query_points fusion, the quantized
# collection sidecar, DSIR, line-level dedup, formula rescoring.
# ---------------------------------------------------------------------------

_RRF_PRE_N = 20  # per-leg prefetch limit for query_rrf_fusion_topk


def _query_rrf_oracle_sql() -> str:
    """DuckDB twin of query_points(fusion=rrf): two dense L2 prefetch legs
    (top-20 each, (dist, id) tiebreaks), rank each, Σ 1/(60+rank), then —
    the ADVICE-r8 ordering — the top-level filter prunes the MERGED
    candidate set before the final LIMIT."""
    l2q0 = _SQL_L2.format(a="e.embedding", b="q0.qe")
    l2q1 = _SQL_L2.format(a="e.embedding", b="q1.qe")
    return f"""
    WITH q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    q1 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
    leg0 AS (
      SELECT e.vec_id, {l2q0} AS dist FROM embeddings e, q0
      ORDER BY dist ASC, e.vec_id ASC LIMIT {_RRF_PRE_N}
    ),
    leg1 AS (
      SELECT e.vec_id, {l2q1} AS dist FROM embeddings e, q1
      ORDER BY dist ASC, e.vec_id ASC LIMIT {_RRF_PRE_N}
    ),
    contrib AS (
      SELECT vec_id, (1.0::DOUBLE) / (60 + row_number()
               OVER (ORDER BY dist ASC, vec_id ASC)) AS c FROM leg0
      UNION ALL
      SELECT vec_id, (1.0::DOUBLE) / (60 + row_number()
               OVER (ORDER BY dist ASC, vec_id ASC)) AS c FROM leg1
    ),
    fused AS (
      SELECT vec_id, round(sum(c), 6) AS rrf_score
      FROM contrib GROUP BY vec_id
    )
    SELECT f.vec_id, f.rrf_score
    FROM fused f JOIN embeddings e USING (vec_id)
    WHERE e.label >= 2
    ORDER BY f.rrf_score DESC, f.vec_id ASC
    LIMIT 10
    """


@_q("query_rrf_fusion_topk", _query_rrf_oracle_sql())
def query_rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The universal query API's fusion branch (Qdrant query_points with
    ``{"fusion": "rrf"}``): two dense prefetch legs fuse by reciprocal
    rank; the top-level filter prunes the merged candidates BEFORE the
    final limit (ADVICE r8 — fusing to Σ leg limits, left-semi filtering,
    then truncating), so the page fills from surviving candidates. The
    oracle replays both legs, both rank assignments, the 1/(60+rank) sums,
    and the filter-then-limit ordering."""
    from vectordb_cloud_spark.query_api import query_points

    emb = fx.table(spark, sf_dir, "embeddings")
    q0 = fx.query_vec(spark, sf_dir, 0)
    q1 = fx.query_vec(spark, sf_dir, 1)
    out = query_points(
        emb, {"fusion": "rrf"},
        prefetch=[{"query": q0, "limit": _RRF_PRE_N},
                  {"query": q1, "limit": _RRF_PRE_N}],
        query_filter={"must": [{"key": "label", "range": {"gte": 2}}]},
        limit=10, id_col="vec_id",
    )
    return out.select("vec_id", "rrf_score")


def _quantcol_oracle_sql() -> str:
    """DuckDB twin of ``search_quantized`` on an int8 collection: read the
    versioned codes sidecar the catalog actually built (``quant.v*`` glob —
    stale sidecars are pruned, so exactly one matches), dequantize against
    the exported per-dim stats with the same arithmetic shape as Spark's
    fused zip_with/aggregate (dist² = Σ ((c+128)·step − (q−min))²), exact
    (dist, id) top-k."""
    term = (
        "((c.sq_code[i]::DOUBLE + 128.0) * ((st.maxs[i] - st.mins[i]) / 255.0)"
        " - (q.qe[i]::DOUBLE - st.mins[i]))"
    )
    codes_glob = os.path.join(fx.QUANT_COL, "q8", "quant.v*", "codes",
                              "*.parquet")
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    st AS (SELECT mins, maxs FROM read_parquet('{fx.QUANT_STATS}')),
    scored AS (
        SELECT c.id,
               sqrt(list_sum(list_transform(range(1, {fx.EMB_DIM} + 1),
                    i -> {term} * {term}))) AS d
        FROM read_parquet('{codes_glob}') c, st, q
    )
    SELECT id, round(d, 6) AS dist
    FROM scored ORDER BY d, id LIMIT 10
    """


@_q("quantized_search_int8", _quantcol_oracle_sql())
def quantized_search_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized COLLECTION search (Qdrant quantization_config in force):
    the catalog's int8 codes sidecar (collections.py quantize /
    search_quantized — versioned quant.v{N}, atomic staging+rename, lazy
    rebuild) serves the search, reading 4× fewer vector bytes than the
    full-precision table; the affine asymmetric distance is one fused
    zip_with/aggregate in codegen (operators/sq.py). Replaces r8's
    operator-level sq_adc_topk with the same math proven THROUGH the
    collection lifecycle. Recall floor stays gated in
    tests/test_recall_report.py (0.975 at sf0.1)."""
    cat = fx.quantized_collection(spark, sf_dir)
    qv = fx.query_vec(spark, sf_dir, 0)
    return cat.search_quantized("q8", qv, k=10)


def _dsir_oracle_sql() -> str:
    """DuckDB twin of the WHOLE DSIR pipeline under ``hash_fn='md5_32'``:
    words + word-bigrams → md5-prefix buckets (the MinHash rows' replayable
    hash), both Laplace-smoothed unigram models over all 1000 buckets,
    per-bucket log-ratios, per-doc normalized Σ log-ratio scores, and the
    seeded Gumbel-top-k (noise = md5_32 of 'id:42') — candidate selection
    itself is replayed, not just the scoring."""
    wl = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"
    nb, alpha, m, seed, n_out = 1000, 1.0, 1_000_003, 42, 20
    return f"""
    WITH grams AS (
      SELECT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_concat(
                 wl,
                 list_transform(range(1, greatest(len(wl) - 1, 0) + 1),
                                i -> wl[i] || ' ' || wl[i + 1])
               )) AS g
        FROM (SELECT doc_id, {wl} AS wl FROM documents)
      ) WHERE g <> ''
    ),
    feats AS (
      SELECT doc_id,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % {nb} AS bucket
      FROM grams
    ),
    tgt AS (
      SELECT f.bucket, count(*) AS tn FROM feats f
      JOIN documents d USING (doc_id) WHERE d.lang = 'de'
      GROUP BY f.bucket
    ),
    raw AS (SELECT bucket, count(*) AS rn FROM feats GROUP BY bucket),
    buckets AS (
      SELECT b.b AS bucket,
             coalesce(t.tn, 0) AS tn, coalesce(r.rn, 0) AS rn
      FROM (SELECT unnest(range({nb})) AS b) b
      LEFT JOIN tgt t ON t.bucket = b.b
      LEFT JOIN raw r ON r.bucket = b.b
    ),
    tot AS (SELECT sum(tn)::DOUBLE AS T, sum(rn)::DOUBLE AS R FROM buckets),
    ratios AS (
      SELECT bucket,
             ln((tn + {alpha}) / (tot.T + {alpha} * {nb}))
             - ln((rn + {alpha}) / (tot.R + {alpha} * {nb})) AS log_ratio
      FROM buckets, tot
    ),
    scored AS (
      SELECT d.doc_id,
             coalesce(s.sc, 0.0) AS dsir_score
      FROM documents d LEFT JOIN (
        SELECT f.doc_id, sum(r.log_ratio) / count(*) AS sc
        FROM feats f JOIN ratios r USING (bucket)
        GROUP BY f.doc_id
      ) s USING (doc_id)
    ),
    keyed AS (
      SELECT doc_id, dsir_score,
             dsir_score / 1.0 + -ln(-ln(
               ((('0x' || substr(md5(doc_id::VARCHAR || ':{seed}'), 1, 8))::BIGINT
                 % {m}) + 0.5) / {m}
             )) AS k
      FROM scored
    )
    SELECT doc_id, round(dsir_score, 6) AS dsir_score
    FROM keyed ORDER BY k DESC, doc_id ASC LIMIT {n_out}
    """


@_q("dsir_select_topk", _dsir_oracle_sql())
def dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023, operators/dsir.py)
    under the hard oracle: select 20 raw documents resembling the
    ``lang='de'`` target slice — hashed word+bigram unigram models
    (1000 buckets, md5_32 replayable hash), Laplace log-ratios, normalized
    per-doc scores, seeded Gumbel-top-k sampling. The oracle replays every
    stage including the sampling keys."""
    from vectordb_cloud_spark.operators.dsir import dsir_select

    docs = fx.table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = dsir_select(
        docs.select("doc_id", "text"),
        docs.filter(F.col("lang") == "de").select("doc_id", "text"),
        n=20, n_buckets=1000, seed=42, hash_fn="md5_32",
    )
    return out.select("doc_id", F.round("dsir_score", 6).alias("dsir_score"))


_LINE_BANNER = "ZZ COOKIE BANNER please accept our essential cookies"
_LINE_FOOTER = "ZZ FOOTER copyright widgets incorporated all rights"


def _line_dedup_oracle_sql() -> str:
    """DuckDB twin of ``line_dedup_corpus`` over an injected corpus: the
    operator's xxhash64 line key is pure key compression, so the oracle
    groups by the LITERAL line text — boilerplate = lines of >= 10 chars in
    >= 3 distinct docs, dropped everywhere; docs rebuild in original line
    order; all-boilerplate docs come back as ''."""
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 20000,
             concat_ws(chr(10), '{_LINE_BANNER}', text, '{_LINE_FOOTER}')
      FROM documents WHERE doc_id < 30
    ),
    lines AS (
      SELECT c.doc_id, t.i - 1 AS pos, c.sl[t.i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS sl FROM corpus) c,
           LATERAL (SELECT unnest(range(1, len(c.sl) + 1)) AS i) t
    ),
    boiler AS (
      SELECT line FROM lines WHERE length(line) >= 10
      GROUP BY line HAVING count(DISTINCT doc_id) >= 3
    ),
    kept AS (
      SELECT l.doc_id, l.pos, l.line FROM lines l
      WHERE NOT (length(l.line) >= 10
                 AND l.line IN (SELECT line FROM boiler))
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      FROM kept GROUP BY doc_id
    )
    SELECT c.doc_id, coalesce(r.text, '') AS text
    FROM corpus c LEFT JOIN rebuilt r USING (doc_id)
    """


@_q("line_dedup_injected", _line_dedup_oracle_sql())
def line_dedup_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate dedup (the C4/RefinedWeb stage,
    operators/dedup.py line_dedup_corpus) under the hard oracle: 30
    injected copies carry a banner + footer line (>= 3 distinct docs →
    boilerplate → scrubbed from every copy) while their duplicated BODY
    lines appear in only 2 docs and survive — both branches of the
    threshold exercised, full rebuilt text hash-compared for the whole
    corpus."""
    from vectordb_cloud_spark.operators.dedup import line_dedup_corpus

    docs = fx.table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat_ws("\n", F.lit(_LINE_BANNER), F.col("text"),
                    F.lit(_LINE_FOOTER)).alias("text"),
    )
    corpus = docs.unionByName(injected)
    return line_dedup_corpus(corpus, min_repeats=3, min_line_chars=10)


def _formula_oracle_sql() -> str:
    """DuckDB twin of the formula rescore: candidates = exact L2 top-50,
    new_score = 0.7·(−dist) + 0.3·gauss_decay(label; target 3, scale 2,
    midpoint 0.5) + [label = 1]. The gauss coefficient ln(0.5)/scale² is
    computed in Python and inlined into BOTH plans, and the SQL keeps
    Spark's left-associated (c·|x−t|)·|x−t| multiplication order, so the
    doubles are bit-equal."""
    import math

    lam_over_s2 = repr(math.log(0.5) / (2.0 * 2.0))
    l2 = _SQL_L2.format(a="e.embedding", b="q.qe")
    gauss = (f"exp(({lam_over_s2}) * abs(c.label - 3.0) "
             f"* abs(c.label - 3.0))")
    score = (f"(0.7 * (-c.dist) + 0.3 * {gauss}) "
             f"+ (CASE WHEN c.label = 1 THEN 1.0 ELSE 0.0 END)")
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.label, {l2} AS dist FROM embeddings e, q
      ORDER BY dist ASC, e.vec_id ASC LIMIT 50
    ),
    rescored AS (SELECT c.vec_id, {score} AS ns FROM cand c)
    SELECT vec_id, round(ns, 6) AS new_score
    FROM rescored ORDER BY ns DESC, vec_id ASC LIMIT 10
    """


@_q("formula_rescore_topk", _formula_oracle_sql())
def formula_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formula score boosting (Qdrant's formula query, formula.py): the
    retrieve→boost pattern — exact top-50 candidates re-ordered by
    0.7·(−$score) + 0.3·gauss_decay(label→3, scale 2) + [label = 1]
    (arithmetic + decay + condition-indicator DSL nodes compiled to ONE
    JVM column). Oracle replays candidates and the full formula."""
    from vectordb_cloud_spark.formula import rescore_with_formula

    emb = fx.table(spark, sf_dir, "embeddings")
    qv = fx.query_vec(spark, sf_dir, 0)
    cand = knn_search(emb, qv, k=50, tiebreak="vec_id")
    formula = {"sum": [
        {"sum": [
            {"mult": [0.7, {"neg": "$score"}]},
            {"mult": [0.3, {"gauss_decay":
                            {"x": "label", "target": 3.0, "scale": 2.0}}]},
        ]},
        {"condition": {"must": [{"key": "label", "match": {"value": 1}}]}},
    ]}
    out = rescore_with_formula(cand, formula, k=10, score_col="dist",
                               id_col="vec_id")
    return out.select("vec_id", F.round("new_score", 6).alias("new_score"))


# ---------------------------------------------------------------------------
# r10 registry rotation (VERDICT r9 next-round #1): the r9 serving grammar
# under the hard oracle — text-index ROUTED search through VectorService,
# the recursive sparse→dense→MaxSim prefetch funnel, and collection
# search_ann through the ann.v sidecar lifecycle (the IVF twin of
# quantized_search_int8). Rotated out: knn_batch_topk,
# scalar_functions_parity, price_percentiles_by_flag (shape-redundant; see
# their docstrings). search_groups_topk upgraded in place with with_lookup.
# ---------------------------------------------------------------------------

# --- text-index routed search through the SERVICE --------------------------
_TXT_QUERY_TEXT = "fast vector search"   # embedded via the mock embedder
_TXT_MATCH_TEXT = "vector scan"          # the routed match.text clause
_TXT_USER = 3                            # tenant (user_id = doc_id % 5)
_TXT_LANG = "en"                         # the residual scan-stage clause
_TXT_K = 10


def _text_routed_oracle_sql() -> str:
    """DuckDB twin of the ROUTED /search: candidates = ids whose postings
    (read from the textidx.v{N} sidecar the catalog wrote) contain EVERY
    query token (Qdrant's indexed MatchText whole-token semantics, word
    tokenizer), then tenant + residual lang filter on the collection's own
    data files, exact L2 against the mock-embedded query (inlined literal
    — the embedder is deterministic), (dist, id) top-k, reference response
    shape {id, string, score}."""
    from vectordb_cloud_spark.functions.embedding import mock_vector
    from vectordb_cloud_spark.functions.hashing import word_tokens_py

    qv = mock_vector(_TXT_QUERY_TEXT, fx.EMB_DIM)
    qlit = "[" + ", ".join(repr(float(v)) for v in qv) + "]::DOUBLE[]"
    tokens = sorted(set(word_tokens_py(_TXT_MATCH_TEXT)))
    tok_in = ", ".join("'" + t + "'" for t in tokens)
    post_glob = os.path.join(fx.TXT_SVC_ROOT, fx.TXT_COLLECTION, "textidx.v*",
                             "text", "*", "*.parquet")
    data_glob = os.path.join(fx.TXT_SVC_ROOT, fx.TXT_COLLECTION, "data.v*",
                             "*", "*.parquet")
    l2 = _SQL_L2.format(a="b.embedding", b="q.qe")
    return f"""
    WITH q AS (SELECT {qlit} AS qe),
    cand AS (
      SELECT id FROM read_parquet('{post_glob}', hive_partitioning=1)
      WHERE token IN ({tok_in})
      GROUP BY id HAVING count(DISTINCT token) = {len(tokens)}
    ),
    base AS (
      SELECT id, text_id, text, embedding
      FROM read_parquet('{data_glob}', hive_partitioning=1)
      WHERE user_id = {_TXT_USER} AND lang = '{_TXT_LANG}'
        AND id IN (SELECT id FROM cand)
    )
    SELECT b.text_id AS id, b.text AS string, round({l2}, 6) AS score
    FROM base b, q
    ORDER BY {l2} ASC, b.id ASC
    LIMIT {_TXT_K}
    """


@_q("text_routed_search", _text_routed_oracle_sql())
def text_routed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text ROUTED search through the live service (VERDICT r9 #1a):
    ``VectorService.search`` with a filter carrying a ``match.text`` clause
    on the text-indexed body field plus a residual ``lang`` clause — the
    match.text clause is served by the token-postings sidecar
    (``rewrite_text_filter`` → ``text_match_ids``: pure-Python xxhash64
    bucket routing, postings AND, whole-token Qdrant word-tokenizer
    semantics; the matching ids become one ``has_id`` clause), the
    residual clause stays a scan-stage predicate, the tenant filter
    prunes to the user's bucket, and the exact kNN runs over the
    candidate set only (the selective-filter fallback). The oracle
    replays postings AND + residual + tenant + kNN + the reference's
    {id, string, score} response from the materialized sidecar/data files.

    r11 in-place upgrade (newest-code-least-proof rotation): a FIRST
    search with a DIFFERENT query text warms the shape-keyed serving
    template (api.py ``_QSHAPE_SQL`` — the r11 distinct-text fast path),
    so the measured request is served from the template (ONE spark.sql
    with the from_json vector constant), not from full plan construction
    — the oracle hash now gates the templated SQL's results end to end.
    The function asserts the fast path actually ran (shape-template hit,
    or plan-memo hit on repeat invocations within one process)."""
    svc = fx.text_service(spark, sf_dir)
    flt = {"must": [
        {"key": "text", "match": {"text": _TXT_MATCH_TEXT}},
        {"key": "lang", "match": {"value": _TXT_LANG}},
    ]}
    svc.search(user_id=_TXT_USER, text="warm the serving shape",
               limit=_TXT_K, query_filter=flt)
    fast_before = (svc._shape_hits, svc._plan_hits)
    out = svc.search(
        user_id=_TXT_USER, text=_TXT_QUERY_TEXT, limit=_TXT_K,
        query_filter=flt,
    )
    assert (svc._shape_hits, svc._plan_hits) != fast_before, \
        "measured request was rebuilt — template fast path not taken"
    return out.select("id", "string", F.round("score", 6).alias("score"))


# --- recursive prefetch funnel: sparse → dense → MaxSim --------------------
_FUNNEL_SPARSE_N = 40   # inner sparse leg limit
_FUNNEL_DENSE_N = 20    # middle dense rescore limit
_FUNNEL_K = 10


def _funnel_oracle_sql() -> str:
    """DuckDB twin of the WHOLE nested funnel: (1) sparse leg — dims are
    positions where the value exceeds the activation threshold on BOTH
    sides, score = Σ e_i·q_i over shared dims in ascending-dim order
    (interleaved +0.0 terms are exact, so the fold matches Spark's
    query-dim-order sum), round-6 then (score desc, id) top-40; (2) dense
    leg — exact L2 over ONLY those candidates, (dist, id) top-20; (3)
    MaxSim — 4×16 contiguous token reshape, Σ_q max_d q·d over ONLY the
    dense candidates, (maxsim desc, id) top-10."""
    sp_term = (f"CASE WHEN e.embedding[i]::DOUBLE > {fx.FUNNEL_T} "
               f"AND q.qe[i]::DOUBLE > {fx.FUNNEL_T} "
               f"THEN e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE "
               f"ELSE 0.0 END")
    l2 = _SQL_L2.format(a="e.embedding", b="q.qe")
    n_tokens, width = 4, 16
    slices = [(j * width + 1, (j + 1) * width) for j in range(n_tokens)]
    per_q = []
    for (qa, qb) in slices:
        qs = f"(q.qe)[{qa}:{qb}]"
        best = ", ".join(
            _SQL_DOT.format(a=f"(e.embedding)[{da}:{db}]", b=qs)
            for (da, db) in slices
        )
        per_q.append(f"greatest({best})")
    maxsim = " + ".join(per_q)
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sp AS (
      SELECT e.vec_id,
             round(list_sum(list_transform(range(1, {fx.EMB_DIM} + 1),
                   i -> {sp_term})), 6) AS score
      FROM embeddings e, q
    ),
    leg_sparse AS (
      SELECT vec_id FROM sp WHERE score <> 0.0
      ORDER BY score DESC, vec_id ASC LIMIT {_FUNNEL_SPARSE_N}
    ),
    leg_dense AS (
      SELECT e.vec_id FROM embeddings e, q
      WHERE e.vec_id IN (SELECT vec_id FROM leg_sparse)
      ORDER BY {l2} ASC, e.vec_id ASC LIMIT {_FUNNEL_DENSE_N}
    ),
    ms AS (
      SELECT e.vec_id, {maxsim} AS maxsim_raw
      FROM embeddings e, q
      WHERE e.vec_id IN (SELECT vec_id FROM leg_dense)
    )
    SELECT vec_id, round(maxsim_raw, 6) AS maxsim
    FROM ms ORDER BY maxsim_raw DESC, vec_id ASC LIMIT {_FUNNEL_K}
    """


@_q("query_funnel_maxsim", _funnel_oracle_sql())
def query_funnel_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recursive prefetch funnel (VERDICT r9 #1b) — Qdrant's documented
    sparse→dense→MaxSim hybrid as ONE ``query_points`` call: the inner
    sparse leg (deterministic activation-threshold sparse vectors) produces
    top-40 candidates, the middle dense leg rescores ONLY them (broadcast
    left-semi) to top-20, and the top-level multivector token-matrix query
    rescores those by MaxSim to the final 10 (query_api._run_prefetch
    recursion). Every stage is deterministic SQL — the oracle replays the
    whole funnel, candidate cuts included."""
    from vectordb_cloud_spark.operators.multivector import split_into_tokens
    from vectordb_cloud_spark.query_api import query_points

    emb = fx.table(spark, sf_dir, "embeddings")
    live, vals = fx.sparse_activation(F.col("embedding"))
    points = emb.select(
        "vec_id", "embedding", live.alias("indices"), vals.alias("values"),
        split_into_tokens("embedding", 4).alias("token_vectors"),
    )
    qv = fx.query_vec(spark, sf_dir, 0)
    qdims = [i for i, v in enumerate(qv) if v > fx.FUNNEL_T]
    qvals = [qv[i] for i in qdims]
    q_tokens = [qv[j * 16:(j + 1) * 16] for j in range(4)]
    out = query_points(
        points, q_tokens,
        prefetch=[{
            "query": qv, "limit": _FUNNEL_DENSE_N,
            "prefetch": [{"query": {"indices": qdims, "values": qvals},
                          "limit": _FUNNEL_SPARSE_N}],
        }],
        limit=_FUNNEL_K, id_col="vec_id",
    )
    return out.select("vec_id", F.round("maxsim", 6).alias("maxsim"))


# --- collection search_ann through the ann.v sidecar lifecycle -------------


def _anncol_oracle_sql() -> str:
    """DuckDB twin of ``search_ann`` on an IVF-configured collection:
    route the query to its nprobe nearest centroids (reading the centers
    the catalog's params.json recorded; stable (dist, centroid_id) tie),
    scan ONLY the probed inverted lists from the ann.v{N} sidecar the
    catalog actually built (stale versions pruned, so one glob match),
    exact (dist, id) top-k — the approximate index answer itself is
    hash-matched through the collection lifecycle."""
    cdist = _SQL_L2.format(a="cen.center", b="q.qe")
    pdist = _SQL_L2.format(a="p.embedding", b="q.qe")
    layout_glob = os.path.join(fx.ANN_COL, "annc", "ann.v*", "ivf",
                               "*", "*.parquet")
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cen AS (SELECT centroid_id, center
            FROM read_parquet('{fx.ANN_COL_CENTERS}')),
    probes AS (
        SELECT cen.centroid_id FROM cen, q
        ORDER BY {cdist}, cen.centroid_id
        LIMIT {fx.ANNCOL_NPROBE}
    ),
    pts AS (SELECT id, embedding, CAST(centroid_id AS INT) AS cid
            FROM read_parquet('{layout_glob}', hive_partitioning=1))
    SELECT p.id, round({pdist}, 6) AS dist
    FROM pts p, probes pr, q
    WHERE p.cid = pr.centroid_id
    ORDER BY {pdist}, p.id
    LIMIT 10
    """


@_q("collection_search_ann", _anncol_oracle_sql())
def collection_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection ``search_ann`` (VERDICT r9 #1c): the ann.v{N} IVF sidecar
    proven THROUGH the collection lifecycle — create with an ann_index
    config → bucketed upsert → lazy versioned sidecar build (atomic
    staging+rename, stale prune) → centroid-routed search whose
    ``centroid_id IN`` probe lands in PartitionFilters (collections.py
    build_ann_index/search_ann). The IVF twin of ``quantized_search_int8``;
    the oracle replays routing + pruned scan from the sidecar files.
    r14: the fixture now takes a SECOND write epoch, so the replayed
    sidecar was maintained by ``_incremental_ivf_params`` (centroids
    kept, delta routed through ``ivf_append``, old files hardlinked) —
    the IVF incremental path is hash-gated like the graph one
    (``collection_ann_incremental_topk``); the fixture raises if the
    append fell back to a rebuild."""
    cat = fx.ann_collection(spark, sf_dir)
    qv = fx.query_vec(spark, sf_dir, 0)
    hits = cat.search_ann("annc", qv, k=10)
    return hits.select("id", F.round("dist", 6).alias("dist"))


# ---------------------------------------------------------------------------
# r11 registry rotation (VERDICT r10 next-round #1): the r10-new serving
# surfaces under the hard oracle — collection search_sparse through the
# sparseidx.v inverted-postings sidecar lifecycle (the sparse twin of
# collection_search_ann), a /query request whose filter exercises the
# rewrite_text_filter has_id + match.tokens rewrites end-to-end, and
# query_batch's shared-scan path (two dense requests, ONE corpus pass).
# Rotated out to library level: simhash_near_dup_pairs, geo_radius_search,
# discover_topk (all oracle-green r8-r10, shapes covered by the remaining
# dedup/filter rows; pytest ground truth retained — see their docstrings).
# ---------------------------------------------------------------------------

# --- collection search_sparse through the sparseidx.v sidecar --------------
_SPCOL_K = 10


def _spcol_oracle_sql() -> str:
    """DuckDB twin of collection ``search_sparse`` through the sidecar:
    derive the query's active dims from embeddings vec_id=0 with the same
    threshold rule, join them against the postings the catalog's
    build_sparse_index actually wrote (sparseidx.v{N} — stale versions
    pruned, so one glob match; hive_partitioning exposes the dim-bucket
    dirs a real query prunes to), DECIMAL(38,18)-exact per-doc sum
    (order-independent in both engines, the sparse_topk_inverted rule),
    score-desc top-k."""
    post_glob = os.path.join(fx.SPARSE_COL, "sparsec", "sparseidx.v*",
                             "splade", "bucket=*", "*.parquet")
    return f"""
    WITH q AS (
      SELECT i - 1 AS qdim, qe[i]::DOUBLE AS qval
      FROM (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           range(1, {fx.EMB_DIM} + 1) t(i)
      WHERE qe[i]::DOUBLE > {fx.FUNNEL_T}
    ),
    contrib AS (
      SELECT p.id, CAST(p.value::DOUBLE * q.qval AS DECIMAL(38,18)) AS c
      FROM read_parquet('{post_glob}', hive_partitioning=1) p
      JOIN q ON CAST(p.dim AS INT) = q.qdim
    ),
    scored AS (SELECT id, round(sum(c)::DOUBLE, 6) AS score
               FROM contrib GROUP BY id)
    SELECT id, score FROM scored
    WHERE score <> 0.0
    ORDER BY score DESC, id ASC LIMIT {_SPCOL_K}
    """


@_q("collection_search_sparse", _spcol_oracle_sql())
def collection_search_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection ``search_sparse`` (VERDICT r10 #1a): the sparseidx.v{N}
    inverted-postings sidecar proven THROUGH the collection lifecycle —
    create with a sparse_vectors config that declares an index → bucketed
    upsert with per-write sparse validation (aligned arrays, strictly
    ascending unique indices) → lazy versioned dim-bucketed sidecar build
    (atomic staging+rename, stale prune) → query-dims bucket pruning +
    decimal-exact per-doc dot product (collections.py search_sparse /
    build_sparse_index). The sparse twin of ``collection_search_ann``;
    the oracle replays scoring from the sidecar files the catalog wrote."""
    cat = fx.sparse_collection(spark, sf_dir)
    qv = fx.query_vec(spark, sf_dir, 0)
    qdims = [i for i, v in enumerate(qv) if v > fx.FUNNEL_T]
    qvals = [float(qv[i]) for i in qdims]
    return cat.search_sparse("sparsec", "splade", qdims, qvals, k=_SPCOL_K)


# --- /query with an indexed match.text filter: the rewrite path ------------
_QTR_MATCH_TEXT = "vector scan"  # must clause -> has_id (postings probe)
_QTR_NOT_TOKEN = "sort"          # must_not clause -> match.tokens rewrite
_QTR_K = 10


def _query_rewrite_oracle_sql() -> str:
    """DuckDB twin of the /query rewrite path: the must match.text clause
    resolves to ids whose postings (textidx.v{N} sidecar files) contain
    EVERY query token; the must_not clause excludes ids whose postings
    contain its token (whole-token indexed MatchText semantics in BOTH
    boolean positions — the engine evaluates must_not as a match.tokens
    scan predicate over the same word tokenizer that built the postings,
    so postings membership is an exact replay); tenant filter on the data
    files, exact L2 vs the mock-embedded query (deterministic, inlined),
    (dist, id) top-k."""
    from vectordb_cloud_spark.functions.embedding import mock_vector
    from vectordb_cloud_spark.functions.hashing import word_tokens_py

    qv = mock_vector(_TXT_QUERY_TEXT, fx.EMB_DIM)
    qlit = "[" + ", ".join(repr(float(v)) for v in qv) + "]::DOUBLE[]"
    tokens = sorted(set(word_tokens_py(_QTR_MATCH_TEXT)))
    tok_in = ", ".join("'" + t + "'" for t in tokens)
    post_glob = os.path.join(fx.TXT_SVC_ROOT, fx.TXT_COLLECTION, "textidx.v*",
                             "text", "*", "*.parquet")
    data_glob = os.path.join(fx.TXT_SVC_ROOT, fx.TXT_COLLECTION, "data.v*",
                             "*", "*.parquet")
    l2 = _SQL_L2.format(a="b.embedding", b="q.qe")
    return f"""
    WITH q AS (SELECT {qlit} AS qe),
    cand AS (
      SELECT id FROM read_parquet('{post_glob}', hive_partitioning=1)
      WHERE token IN ({tok_in})
      GROUP BY id HAVING count(DISTINCT token) = {len(tokens)}
    ),
    excl AS (
      SELECT DISTINCT id
      FROM read_parquet('{post_glob}', hive_partitioning=1)
      WHERE token = '{_QTR_NOT_TOKEN}'
    ),
    base AS (
      SELECT id, text, embedding
      FROM read_parquet('{data_glob}', hive_partitioning=1)
      WHERE user_id = {_TXT_USER}
        AND id IN (SELECT id FROM cand)
        AND id NOT IN (SELECT id FROM excl)
    )
    SELECT b.id, b.text AS string, round({l2}, 6) AS dist
    FROM base b, q
    ORDER BY {l2} ASC, b.id ASC
    LIMIT {_QTR_K}
    """


@_q("query_text_rewrite_search", _query_rewrite_oracle_sql())
def query_text_rewrite_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POST /points/query with an indexed match.text filter (VERDICT r10
    #1b): the universal query API's filter document passes through
    ``rewrite_text_filter`` (api.py _translate), which turns the must
    clause into a postings-served ``has_id`` candidate cut and the
    must_not clause into the whole-token ``match.tokens`` scan predicate
    (the r11 boolean-context rewrite — substring semantics would exclude
    MORE docs than Qdrant's indexed MatchText). The endpoint's public
    contract returns JSON hit dicts, so this row transports them into a
    local DataFrame for the compare — all Spark work (rewrite probe,
    tenant-pruned scan, exact kNN) happens inside ``VectorService.query``.
    The oracle replays both rewrites from the postings files the catalog
    wrote, then the tenant + kNN stages from the data files."""
    svc = fx.text_service(spark, sf_dir)
    body = {
        "query": {"text": _TXT_QUERY_TEXT},
        "filter": {
            "must": [{"key": "text",
                      "match": {"text": _QTR_MATCH_TEXT}}],
            "must_not": [{"key": "text",
                          "match": {"text": _QTR_NOT_TOKEN}}],
        },
        "limit": _QTR_K,
    }
    rows = svc.query(_TXT_USER, body)
    from vectordb_cloud_spark.session import local_df

    out = local_df(
        spark,
        [(int(r["id"]), str(r["text"]), float(r["dist"])) for r in rows],
        "id long, string string, dist double",
    )
    return out.withColumn("dist", F.round("dist", 6))


# --- query_batch: N dense requests, ONE shared corpus scan ------------------
_QB_TEXTS = ("fast vector search", "group by window")
_QB_K = 8


def _query_batch_oracle_sql() -> str:
    """DuckDB twin of the shared-scan batch: each request is an exact
    tenant-scoped L2 top-k against its own mock-embedded vector
    (deterministic, inlined) over the SAME data files — the engine serves
    both from one broadcast-queries × corpus pass (operators.knn.knn_batch
    windowed per query_id), which must equal the per-query answers."""
    from vectordb_cloud_spark.functions.embedding import mock_vector

    data_glob = os.path.join(fx.TXT_SVC_ROOT, fx.TXT_COLLECTION, "data.v*",
                             "*", "*.parquet")
    parts = []
    for i, text in enumerate(_QB_TEXTS):
        qv = mock_vector(text, fx.EMB_DIM)
        qlit = "[" + ", ".join(repr(float(v)) for v in qv) + "]::DOUBLE[]"
        l2 = _SQL_L2.format(a="b.embedding", b="q.qe")
        parts.append(f"""
    (SELECT {i} AS query_idx, b.id, b.text AS string, round({l2}, 6) AS dist
     FROM (SELECT id, text, embedding
           FROM read_parquet('{data_glob}', hive_partitioning=1)
           WHERE user_id = {_TXT_USER}) b,
          (SELECT {qlit} AS qe) q
     ORDER BY {l2} ASC, b.id ASC
     LIMIT {_QB_K})""")
    return " UNION ALL ".join(parts)


@_q("query_batch_shared_scan", _query_batch_oracle_sql())
def query_batch_shared_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POST /points/query/batch (VERDICT r10 #1c): two plain dense
    requests served by ONE shared corpus scan — ``VectorService.
    query_batch`` broadcasts the query batch and window-ranks per query
    (operators.knn.knn_batch), so N requests cost one pass over the
    tenant's buckets instead of N. Both result sets ride back in one
    DataFrame tagged by request index and are hash-matched against
    per-query oracle kNN — proving the shared scan changes the COST, not
    the answers. As with /query, the endpoint returns JSON dicts; the
    row transports them into a local DataFrame for the compare."""
    svc = fx.text_service(spark, sf_dir)
    bodies = [{"query": {"text": t}, "limit": _QB_K} for t in _QB_TEXTS]
    res = svc.query_batch(_TXT_USER, bodies)
    rows = [(i, int(r["id"]), str(r["text"]), float(r["dist"]))
            for i, hits in enumerate(res) for r in hits]
    from vectordb_cloud_spark.session import local_df

    out = local_df(
        spark, rows, "query_idx int, id long, string string, dist double")
    return out.withColumn("dist", F.round("dist", 6))


# ---------------------------------------------------------------------------
# r12 registry rotation (VERDICT r11 next-round #1): the r11-new /query
# grammar under the hard oracle — (a) a /query request served from the WARM
# distinct-text template (api._QSHAPE_SQL) with score_threshold + offset +
# with_payload selector in the body, counter-asserted like
# text_routed_search so the oracle hash gates the templated SQL itself; and
# (b) a params.exact=false /query request routed through the collection's
# ann.v IVF sidecar (api._query_ann) with threshold + paging applied to the
# sidecar's returned distances. Rotated out to library level:
# tpch_q5_region_revenue, lang_id_counts (shape-redundant; see their
# docstrings).
# ---------------------------------------------------------------------------

# --- /query served from the warm distinct-text template --------------------
_QTT_K = 10
_QTT_OFF = 2          # paging bites (skips the 2 nearest qualifying docs)
_QTT_THR = 6.5        # cuts user 3's 42 lang=en docs to 13 (sf0.01 probe;
#                       margin to the straddling dists ~3e-3 >> round-6 ulp)
_QTT_WARM_TEXT = "warm the query template"


def _query_template_thr_oracle_sql() -> str:
    """DuckDB twin of the templated /query: tenant + residual lang filter
    on the collection's data files, exact L2 vs the mock-embedded query
    (deterministic, inlined), the threshold cut on the UNROUNDED distance
    (the template's WHERE dist <= t), then (dist, id) paging — LIMIT k
    OFFSET off, exactly the SQL the warm template renders — and the
    with_payload=["text"] response projection (id, text, dist)."""
    from vectordb_cloud_spark.functions.embedding import mock_vector

    qv = mock_vector(_TXT_QUERY_TEXT, fx.EMB_DIM)
    qlit = "[" + ", ".join(repr(float(v)) for v in qv) + "]::DOUBLE[]"
    data_glob = os.path.join(fx.TXT_SVC_ROOT, fx.TXT_COLLECTION, "data.v*",
                             "*", "*.parquet")
    l2 = _SQL_L2.format(a="b.embedding", b="q.qe")
    return f"""
    WITH q AS (SELECT {qlit} AS qe),
    scored AS (
      SELECT b.id, b.text, {l2} AS dist
      FROM (SELECT id, text, embedding
            FROM read_parquet('{data_glob}', hive_partitioning=1)
            WHERE user_id = {_TXT_USER} AND lang = '{_TXT_LANG}') b, q
    ),
    page AS (
      SELECT id, text, dist FROM scored
      WHERE dist <= {_QTT_THR}
      ORDER BY dist ASC, id ASC
      LIMIT {_QTT_K} OFFSET {_QTT_OFF}
    )
    SELECT id, text, round(dist, 6) AS dist FROM page
    """


@_q("query_template_threshold_paged", _query_template_thr_oracle_sql())
def query_template_threshold_paged(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """POST /points/query served from the WARM distinct-text template
    (VERDICT r11 #1a): the r11 ``_QSHAPE_SQL`` serving path — shape-keyed
    candidate temp view + ONE spark.sql per request with the query vector
    as a single from_json constant — carrying the r11 grammar in the body:
    ``score_threshold`` (baked into the template's WHERE, cutting on the
    unrounded distance), ``offset`` paging (baked as LIMIT/OFFSET), and a
    ``with_payload`` field-list selector (baked into the projection). A
    FIRST request with a different text warms the shape
    (api.VectorService._register_shape); the measured request is then
    served from the template, counter-asserted via the service's
    ``_shape_hits``/``_plan_hits`` observability counters — so the oracle
    hash gates the templated SQL end to end, /query's twin of the
    ``text_routed_search`` assertion. The endpoint returns JSON hit
    dicts; the row transports them into a local DataFrame for the
    compare."""
    svc = fx.text_service(spark, sf_dir)
    body = {
        "query": {"text": _TXT_QUERY_TEXT},
        "filter": {"must": [{"key": "lang",
                             "match": {"value": _TXT_LANG}}]},
        "limit": _QTT_K, "offset": _QTT_OFF,
        "score_threshold": _QTT_THR,
        "with_payload": ["text"],
    }
    svc.query(_TXT_USER, dict(body, query={"text": _QTT_WARM_TEXT}))
    fast_before = (svc._shape_hits, svc._plan_hits)
    rows = svc.query(_TXT_USER, body)
    assert (svc._shape_hits, svc._plan_hits) != fast_before, \
        "measured request was rebuilt — template fast path not taken"
    from vectordb_cloud_spark.session import local_df

    out = local_df(
        spark,
        [(int(r["id"]), str(r["text"]), float(r["dist"])) for r in rows],
        "id long, text string, dist double",
    )
    return out.withColumn("dist", F.round("dist", 6))


# --- params.exact=false /query through the ann.v sidecar -------------------
_QAP_USER = 1         # richest tenant inside the probed cells (4 hits at
#                       sf0.01 through the r14 incremental-epoch fixture)
_QAP_K = 3
_QAP_OFF = 1          # paging bites (skips the nearest hit)
_QAP_THR = 1.427      # cuts the 3 fetched post-offset hits to 2 (sf0.01
#                       probe [1.276, 1.371, 1.483]; r14 retune — the
#                       fixture's centers now train on the FIRST epoch's
#                       90%, shifting probed cells; margin to the
#                       straddling dists >= 0.056 >> round-6 ulp)


def _query_ann_params_oracle_sql() -> str:
    """DuckDB twin of the ``params: {"exact": false}`` /query routing
    (api._query_ann): route the query to its nprobe nearest centroids
    (centers from the params.json the catalog wrote), scan ONLY the
    probed inverted lists of the ann.v{N} sidecar with the tenant
    predicate pushed INTO the pruned scan, exact (dist, id)
    top-(k+offset) — then the endpoint's post-sidecar pipeline on the
    returned distances: threshold cut, OFFSET, LIMIT k."""
    cdist = _SQL_L2.format(a="cen.center", b="q.qe")
    pdist = _SQL_L2.format(a="p.embedding", b="q.qe")
    layout_glob = os.path.join(fx.ANN_COL, "annc", "ann.v*", "ivf",
                               "*", "*.parquet")
    fetch = _QAP_K + _QAP_OFF
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cen AS (SELECT centroid_id, center
            FROM read_parquet('{fx.ANN_COL_CENTERS}')),
    probes AS (
        SELECT cen.centroid_id FROM cen, q
        ORDER BY {cdist}, cen.centroid_id
        LIMIT {fx.ANNCOL_NPROBE}
    ),
    pts AS (SELECT id, user_id, embedding, CAST(centroid_id AS INT) AS cid
            FROM read_parquet('{layout_glob}', hive_partitioning=1)),
    hits AS (
        SELECT p.id, p.user_id, {pdist} AS dist
        FROM pts p, probes pr, q
        WHERE p.cid = pr.centroid_id AND p.user_id = {_QAP_USER}
        ORDER BY {pdist}, p.id
        LIMIT {fetch}
    ),
    page AS (
        SELECT id, user_id, dist FROM hits
        WHERE dist <= {_QAP_THR}
        ORDER BY dist ASC, id ASC
        LIMIT {_QAP_K} OFFSET {_QAP_OFF}
    )
    SELECT id, user_id, round(dist, 6) AS dist FROM page
    """


@_q("query_ann_params_topk", _query_ann_params_oracle_sql())
def query_ann_params_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POST /points/query with ``params: {"exact": false}`` (VERDICT r11
    #1b): the r11 params routing — a plain dense body detours through the
    collection's ann.v IVF sidecar (api._query_ann → catalog.search_ann:
    centroid-routed, tenant-predicate-pruned scan of the probed inverted
    lists) instead of the exact corpus scan, then the endpoint applies
    ``score_threshold`` / ``offset`` / ``limit`` to the sidecar's
    RETURNED distances (exact for IVF). Reuses the
    ``collection_search_ann`` fixture (the ann.v lifecycle collection)
    through a VectorService, so create() idempotency over an existing
    ann-configured collection is exercised too; the oracle replays
    routing + pruned scan from the sidecar files the catalog wrote, then
    the endpoint's threshold/paging pipeline. (``params.hnsw_ef`` and the
    quantization knobs stay pytest-pinned — a graph sidecar's beam search
    has no SQL replay.) The endpoint returns JSON hit dicts; the row
    transports them into a local DataFrame for the compare."""
    from vectordb_cloud_spark.api import VectorService

    fx.ann_collection(spark, sf_dir)  # build/refresh the ann.v fixture
    svc = VectorService(spark, fx.ANN_COL, index_name="annc", dim=fx.EMB_DIM)
    # the sidecar route's precondition: with an ann_index config, data
    # present, and a plain dense body, _query_ann SERVES (no silent-exact
    # fallback whose full-corpus answer could coincide with the oracle's)
    assert svc.catalog.meta("annc").ann_index, \
        "ann fixture lost its ann_index config — exact fallback would serve"
    qv = fx.query_vec(spark, sf_dir, 0)
    rows = svc.query(_QAP_USER, {
        "query": qv, "limit": _QAP_K, "offset": _QAP_OFF,
        "score_threshold": _QAP_THR,
        "params": {"exact": False},
    })
    from vectordb_cloud_spark.session import local_df

    out = local_df(
        spark,
        [(int(r["id"]), int(r["user_id"]), float(r["dist"]))
         for r in rows],
        "id long, user_id long, dist double",
    )
    return out.withColumn("dist", F.round("dist", 6))


# --- r12-new query-grammar rows (rotated INTO the registry in r13) --------
# Built as library-level oracles in r12 while the registry sat at its 50
# cap; the r13 rotation promoted both (VERDICT r12 #1), retiring the
# shape-redundant tpch_q3_revenue_topk and lsh_similarity_join_pairs to
# queries.library(). MMR gained its own registry row in r13 too
# (query_mmr_rerank_topk below): the greedy driver-side selection is
# bit-for-bit replayable, so the oracle replays it as an unrolled
# per-step SQL program, the same precedent as ann_graph_topk's beam.

_QBI_ID = 7
_QBI_K = 10


def _query_by_id_oracle_sql() -> str:
    """DuckDB twin of query-by-stored-point: the query vector is point
    7's stored embedding, the point itself is excluded, exact (dist, id)
    top-k — the universal API's `query: 7` resolution + self-exclusion
    replayed."""
    l2 = _SQL_L2.format(a="e.embedding", b="q.qe")
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings
               WHERE vec_id = {_QBI_ID})
    SELECT e.vec_id, round({l2}, 6) AS dist
    FROM embeddings e, q
    WHERE e.vec_id <> {_QBI_ID}
    ORDER BY {l2}, e.vec_id
    LIMIT {_QBI_K}
    """


@_q("query_by_id_topk", _query_by_id_oracle_sql())
def query_by_id_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-stored-point through the universal API (r12 grammar):
    ``query_points(points, 7)`` — one bounded probe resolves point 7's
    vector, the point excludes itself, then the ordinary exact top-k.
    Rotated INTO the 50-row registry in r13 (VERDICT r12 #1; the slot
    came from the shape-redundant ``tpch_q3_revenue_topk``)."""
    from vectordb_cloud_spark.query_api import query_points

    emb = fx.table(spark, sf_dir, "embeddings")
    hits = query_points(emb, _QBI_ID, limit=_QBI_K, id_col="vec_id")
    return hits.select("vec_id", F.round("dist", 6).alias("dist"))


_CTX_PAIRS = [(1, 2), (3, 4)]  # (positive_id, negative_id) example pairs
_CTX_K = 10


def _context_only_oracle_sql() -> str:
    """DuckDB twin of the context-only query: score = number of pairs
    whose positive example is strictly nearer (Qdrant's context score),
    id-form examples excluded, (score desc, id) top-k."""
    l2 = _SQL_L2
    names = sorted({i for pr in _CTX_PAIRS for i in pr})
    ctes = ", ".join(
        f"e{i} AS (SELECT embedding AS v FROM embeddings WHERE vec_id = {i})"
        for i in names
    )
    ind = " + ".join(
        f"(CASE WHEN {l2.format(a='e.embedding', b=f'e{p}.v')}"
        f" < {l2.format(a='e.embedding', b=f'e{n}.v')} THEN 1 ELSE 0 END)"
        for p, n in _CTX_PAIRS
    )
    srcs = ", ".join(f"e{i}" for i in names)
    excl = ", ".join(str(i) for i in names)
    return f"""
    WITH {ctes}
    SELECT vec_id, context_score FROM (
      SELECT e.vec_id, {ind} AS context_score
      FROM embeddings e, {srcs}
      WHERE e.vec_id NOT IN ({excl})
    )
    ORDER BY context_score DESC, vec_id ASC
    LIMIT {_CTX_K}
    """


@_q("context_only_topk", _context_only_oracle_sql())
def context_only_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-only search through the universal API (r12 grammar):
    ``query: {"context": [...]}`` with ID-FORM example pairs — the ids
    resolve to stored vectors (bounded probes), the examples exclude
    themselves, and ranking is by the pair score alone with the id
    tiebreak (operators/discover.py context_search). Rotated INTO the
    50-row registry in r13 (VERDICT r12 #1; the slot came from the
    shape-redundant ``lsh_similarity_join_pairs``)."""
    from vectordb_cloud_spark.query_api import query_points

    emb = fx.table(spark, sf_dir, "embeddings")
    hits = query_points(
        emb,
        {"context": [{"positive": p, "negative": n} for p, n in _CTX_PAIRS]},
        limit=_CTX_K, id_col="vec_id",
    )
    return hits.select("vec_id", "context_score")


# MMR registry row (r13, VERDICT r12 #2): the greedy Carbonell-Goldstein
# selection was engineered to be bit-for-bit replayable by the obvious
# program (operators/mmr.py computes exact chunked L2, never the
# catastrophic-cancellation matmul identity), so the oracle replays the
# selection as an UNROLLED per-step SQL program over the same exact
# top-pool candidates — the ann_graph_topk precedent for iterative
# algorithms. Config kept small (k=6, pool=24) so the unrolled CTE chain
# stays readable; selection ties break on pool rank (dist, id) in both
# engines.
_MMR_K = 6
_MMR_POOL = 24
_MMR_DIV = 0.5


def _mmr_oracle_sql() -> str:
    """DuckDB twin of the greedy MMR rerank: pool = exact top-24 by
    (l2, id) for point 0's stored embedding used as a RAW vector (so the
    point itself is in the pool — distinct from query_by_id_topk's
    self-excluding resolution); step i picks argmax of
    ``(1-d)*(-dist) - d*max_{s in S}(-l2(c, s))`` (equivalently
    ``d*min_s l2(c,s) - (1-d)*dist``) over the unselected pool, pool-rank
    tiebreak. Every distance is the same element-order L2 fold both
    engines compute; near-ties are float-noise-free at 6-decimal output
    and the selection gaps are orders of magnitude above summation-order
    noise (the same determinism argument as the graph beam replay)."""
    d = _MMR_DIV
    l2q = _SQL_L2.format(a="e.embedding", b="q.qe")
    steps = []
    for i in range(2, _MMR_K + 1):
        prev = [f"s{j}" for j in range(1, i)]
        srcs = ", ".join(prev)
        excl = ", ".join(f"{s}.id" for s in prev)
        sims = ", ".join(
            _SQL_L2.format(a="p.v", b=f"{s}.v") for s in prev)
        mindist = f"least({sims})" if len(prev) > 1 else sims
        steps.append(f""",
    s{i} AS (SELECT p.id, p.v, p.dist, p.rk
             FROM ranked p, {srcs}
             WHERE p.id NOT IN ({excl})
             ORDER BY {d} * {mindist} - {1.0 - d} * p.dist DESC, p.rk
             LIMIT 1)""")
    unions = "\n      UNION ALL ".join(
        f"SELECT id, dist, {i - 1} AS mmr_rank FROM s{i}"
        for i in range(1, _MMR_K + 1))
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT e.vec_id AS id, e.embedding AS v, {l2q} AS dist
      FROM embeddings e, q
      ORDER BY dist, id LIMIT {_MMR_POOL}
    ),
    ranked AS (SELECT id, v, dist,
                      row_number() OVER (ORDER BY dist, id) AS rk
               FROM pool),
    s1 AS (SELECT id, v, dist, rk FROM ranked ORDER BY rk LIMIT 1){"".join(steps)}
    SELECT id AS vec_id, round(dist, 6) AS dist, mmr_rank
    FROM ({unions})
    """


@_q("query_mmr_rerank_topk", _mmr_oracle_sql())
def query_mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank through the universal API (r12 operator, r13
    oracle row — VERDICT r12 #2): ``query: {"nearest": v, "mmr":
    {"diversity": 0.5, "candidates_limit": 24}}`` — one exact distributed
    top-24 scan (TakeOrderedAndProject), greedy driver-side selection
    over the bounded pool (operators/mmr.py mmr_select), broadcast 6-row
    join-back for the payload. The oracle replays pool + every greedy
    step (argmax of ``(1-d)*rel - d*max sim``) as unrolled SQL — the
    approximate diversity ranking itself is hash-matched, not just its
    row count."""
    from vectordb_cloud_spark.query_api import query_points

    emb = fx.table(spark, sf_dir, "embeddings")
    qv = fx.query_vec(spark, sf_dir, 0)
    hits = query_points(
        emb,
        {"nearest": qv,
         "mmr": {"diversity": _MMR_DIV, "candidates_limit": _MMR_POOL}},
        limit=_MMR_K, id_col="vec_id",
    )
    return hits.select("vec_id", F.round("dist", 6).alias("dist"),
                       "mmr_rank")


# --- distance matrix (library oracle, r13) ---------------------------------
# Qdrant /points/search/matrix/pairs gets a DuckDB twin at library level:
# the seeded sample is Spark-specific (xxhash64(id, seed) ordering — no
# DuckDB twin function), so the SAMPLE rows are materialized to parquet
# (the classify/hybrid artifact precedent: the oracle replays everything
# except the non-SQL-expressible selection) and the oracle replays the
# operator's actual math — pairwise exact L2 over sample², per-row
# (dist, id_b) top-k window — hash-matched end to end.
_DMX_N, _DMX_K, _DMX_SEED = 10, 3, 42


def _dmx_oracle_sql() -> str:
    l2 = _SQL_L2.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH s AS (SELECT vec_id, embedding
               FROM read_parquet('{fx.art_path("matrix_sample")}/*.parquet')),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {l2} AS dist
      FROM s a, s b WHERE a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT id_a, id_b, dist,
             row_number() OVER (PARTITION BY id_a
                                ORDER BY dist, id_b) AS rk
      FROM pairs
    )
    SELECT id_a, id_b, round(dist, 6) AS dist
    FROM ranked WHERE rk <= {_DMX_K}
    """


@_q("distance_matrix_pairs", _dmx_oracle_sql())
def distance_matrix_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant /points/search/matrix/pairs over the embeddings fixture:
    seeded 10-point sample, each sample's 3 nearest other samples. The
    sample rows are materialized for the oracle; the pairwise scoring and
    per-row top-k — the operator's distributed math (broadcast self-join,
    sample²-bounded, window rank) — are replayed in SQL and hash-matched.
    Registry row since r14 (VERDICT r13 #4: newest-code-least-proof
    rotation — built r13 as a library oracle, promoted the next round;
    the slot came from grouping_sets_order_stats)."""
    from vectordb_cloud_spark.operators.knn import distance_matrix_pairs

    emb = fx.table(spark, sf_dir, "embeddings")
    fx.matrix_sample(spark, sf_dir, _DMX_N, _DMX_SEED)
    out = distance_matrix_pairs(emb, sample_size=_DMX_N, k=_DMX_K,
                                seed=_DMX_SEED, id_col="vec_id")
    return out.select("id_a", "id_b", F.round("dist", 6).alias("dist"))


# --- r14 in-round rotation: the incremental graph sidecar under the -------
# hard oracle (the standing newest-code-least-proof rule, applied to the
# round's own centerpiece instead of waiting for the next verdict). The
# fixture drives the collection through a SECOND write epoch so the
# ann.v sidecar is maintained by _incremental_graph_params /
# knn_graph_append (collections.py) rather than a full rebuild, then the
# oracle replays the coarse-seeded beam search — early-stop branches
# included — from the adjacency + coarse_sample files the INCREMENTAL
# path wrote. The slot came from range_join_value_tiers (shape-redundant:
# bucketized range joins survive in sessionize/asof rows; retired below).


def _gann_oracle_sql(adj_glob: str | None = None,
                     cs_glob: str | None = None,
                     beam: int = fx.GANN_BEAM,
                     max_hops: int = fx.GANN_HOPS,
                     n_entry: int = fx.GANN_ENTRY,
                     k: int = 10,
                     query_where: str = "vec_id = 0",
                     gated: bool = True) -> str:
    """DuckDB twin of ``CollectionCatalog.search_ann`` on a graph-indexed
    collection whose sidecar went through an INCREMENTAL write epoch:
    seed from the top-``n_entry`` of the persisted ``coarse_sample``
    (the serve path's per-query coarse seeding), then replay
    ``graph_beam_search``'s driver loop hop by hop as unrolled CTEs —
    including its EARLY-STOP branches, which the fixed-hop
    ``ann_graph_topk`` oracle never needed: hop ``h`` runs iff every
    prior hop found a frontier AND some frontier node beat the worst
    beam member (the loop's ``improved`` flag), expressed as a chained
    ``g{{h}}.go`` scalar gate on the frontier CTE. (The registry
    fixture's dials run all hops; the stop branches themselves are
    pinned by ``test_graph_ann.py::test_early_stop_oracle_replay``,
    which generates this same SQL at dials where the loop DOES stop.)
    Adjacency and sample are read from the ann.v files the APPEND path
    wrote; vectors come from the embeddings view (the collection holds
    exactly those rows), every distance the same fold-in-element-order
    L2 both engines compute bit-equal."""
    l2 = _SQL_L2.format(a="e.embedding", b="q.qe")
    l2cs = _SQL_L2.format(a="cs.embedding", b="q.qe")
    if adj_glob is None:
        adj_glob = os.path.join(fx.GANN_COL, "ganni", "ann.v*", "graph",
                                "*.parquet")
    if cs_glob is None:
        cs_glob = os.path.join(fx.GANN_COL, "ganni", "ann.v*",
                               "coarse_sample", "*.parquet")
    hops = []
    prev = "v0"
    for h in range(1, max_hops + 1):
        gate = (f"\n               AND (SELECT go FROM g{h - 1})"
                if gated and h > 1 else "")
        hops.append(f""",
    b{h} AS MATERIALIZED (SELECT node, dist FROM {prev}
             ORDER BY dist, node LIMIT {beam}),
    f{h} AS (SELECT DISTINCT a.dst AS node
             FROM adj a JOIN b{h} b ON a.src = b.node
             WHERE a.dst NOT IN (SELECT node FROM {prev}){gate}),
    s{h} AS MATERIALIZED (SELECT e.vec_id AS node, {l2} AS dist
             FROM embeddings e JOIN f{h} f ON e.vec_id = f.node, q),
    g{h} AS (SELECT count(*) > 0
                    AND min(dist) < (SELECT max(dist) FROM b{h}) AS go
             FROM s{h}),
    v{h} AS MATERIALIZED (SELECT * FROM {prev}
             UNION ALL SELECT * FROM s{h})""")
        prev = f"v{h}"
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE {query_where}),
    -- MATERIALIZED (adj + per-hop b/s/v): DuckDB inlines plain CTEs at
    -- every reference, and each hop references the previous visited set
    -- several times — inlined, the unroll's plan grows 2^hops (observed:
    -- an 8-hop replay hangs and trips EMFILE re-opening the parquet per
    -- inlined scan); materialization keeps it linear in max_hops
    adj AS MATERIALIZED (SELECT src, dst FROM read_parquet('{adj_glob}')),
    cs AS (SELECT id, embedding FROM read_parquet('{cs_glob}')),
    v0 AS MATERIALIZED (SELECT cs.id AS node, {l2cs} AS dist FROM cs, q
           ORDER BY dist, node LIMIT {n_entry}){"".join(hops)}
    SELECT node AS id, round(dist, 6) AS dist
    FROM {prev} ORDER BY dist, node LIMIT {k}
    """


@_q("collection_ann_incremental_topk", _gann_oracle_sql())
def collection_ann_incremental_topk(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Graph ``search_ann`` through a sidecar maintained INCREMENTALLY
    across a write epoch (r14, VERDICT r13 #3): the fixture's second
    upsert advances the MVCC snapshot, and ``build_ann_index`` routes the
    delta through the persisted blocking + ``(id, block)`` banded table
    (``knn_graph_append``) instead of re-scoring the corpus — the fixture
    raises if that path did not engage. The query vector (vec_id 0) is
    itself an APPENDED row, so the hash-matched top-k proves the new
    epoch's vectors are navigable: coarse-sample seeding, the widened
    adjacency, and the beam loop's early-stop trace are all replayed by
    ``_gann_oracle_sql`` from the files the incremental path wrote.
    SCALE.md graph_sidecar series: 1k append 4.9x under a full build at
    100k rows, 7.6x under at 1M. Reference: Qdrant's HNSW maintains
    itself in place on upsert (the server behind reference app.py:20-33's
    insert route); this is that maintenance re-expressed as bounded
    bucket-delta batch work."""
    cat = fx.gann_collection(spark, sf_dir)
    qv = fx.query_vec(spark, sf_dir, 0)
    hits = cat.search_ann("ganni", qv, k=10)
    return hits.select("id", F.round("dist", 6).alias("dist"))


# Rows rotated OUT of the 50-slot registry (r11: the slots went to the
# r10-new serving surfaces) stay runnable WITH their oracles at library
# level: tools/check_queries.py resolves explicitly-named queries it does
# not find in the registry here, so
# `python tools/check_queries.py <sf_dir> geo_radius_search` still replays
# the full rows+schema+hash compare — which is what the retired rows'
# docstrings promise by "stays wired for spot runs".
_LIBRARY: dict[str, QueryFn] = {
    "simhash_near_dup_pairs": simhash_near_dup_pairs_q,
    "geo_radius_search": geo_radius_search,
    "discover_topk": discover_topk,
    "tpch_q5_region_revenue": tpch_q5_region_revenue,
    "lang_id_counts": lang_id_counts,
    # r13 rotation: slots went to query_by_id_topk / context_only_topk /
    # query_mmr_rerank_topk (VERDICT r12 #1-2)
    "tpch_q3_revenue_topk": tpch_q3_revenue_topk,
    "lsh_similarity_join_pairs": lsh_similarity_join_pairs,
    "bm25_topk": bm25_topk,
    # r14 rotation: distance_matrix_pairs (r13 library oracle) promoted
    # to the registry; grouping_sets_order_stats retired here
    # (shape-redundant — VERDICT r13 #4)
    "grouping_sets_order_stats": grouping_sets_order_stats,
    # r14 in-round rotation: collection_ann_incremental_topk promoted
    # (the round's own newest code under the hard oracle);
    # range_join_value_tiers retired here (shape-redundant)
    "range_join_value_tiers": range_join_value_tiers,
}
_LIB_ORACLES: dict[str, str] = {
    "simhash_near_dup_pairs": _simhash_oracle_sql(),
    "geo_radius_search": _geo_radius_oracle_sql(),
    "discover_topk": _discover_oracle_sql(),
    "tpch_q5_region_revenue": _TPCH_Q5_ORACLE,
    "lang_id_counts": _LANG_ID_ORACLE,
    "tpch_q3_revenue_topk": _TPCH_Q3_ORACLE,
    "lsh_similarity_join_pairs": _lsh_joinpairs_oracle_sql(),
    "bm25_topk": _BM25_ORACLE,
    "grouping_sets_order_stats": _GROUPING_SETS_ORACLE,
    "range_join_value_tiers": _RANGE_JOIN_ORACLE,
}


def library() -> dict[str, QueryFn]:
    """Retired-but-still-oracle-backed rows (not part of the driver's
    50-row correctness gate)."""
    return dict(_LIBRARY)


def library_oracles() -> dict[str, str]:
    return dict(_LIB_ORACLES)


def registry() -> dict[str, QueryFn]:
    return dict(_REGISTRY)


def oracles() -> dict[str, str]:
    return dict(_ORACLES)
