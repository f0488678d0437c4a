"""Fixture lifecycle: every per-corpus structure the query registry, bench.py
and recall.py build once and reuse — table reads, query vectors, the LSH
model, the IVF / PQ / BQ / sparse / graph / BM25 / passage indexes, the
oracle parquets, the text service and the collection fixtures.

All of them go through ONE bounded memo, :func:`fixture`, with three rules:

1. **Slot key.** A fixture whose artifacts sit at the fixed path the
   import-time oracle SQL reads owns the directory ``art_path(name)`` and
   the single slot ``(name,)``: it holds one corpus at a time. An
   artifact-free value (read relation, query vector, LSH model, child
   session) takes the slot ``(name, abspath, params)``. Each entry keeps
   the stamp it was built from (:func:`corpus_key` plus params); a slot
   that sees a new stamp replaces its entry, so the memo is bounded by its
   slot count and stays the same size when a corpus is regenerated in
   place.
2. **One artifact root.** Every artifact lives under
   ``_ORACLE_ART_BASE/<name>``. A replaced entry's directory is removed
   before the rebuild, and the atexit hook removes the root.
3. **Session re-binding.** A value bound to a SparkSession (read
   relation, ``VectorService``, ``CollectionCatalog``, child session) is
   re-bound by ``bind(spark, value)`` here, and only here, when the
   caller's session differs from the one it was built or last bound in.

ORDERING CONTRACT: an oracle that reads an artifact needs its paired Spark
query (which builds the fixture) to run first — the driver and
tools/check_queries.py both do.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as papq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_cloud_spark.recall import (
    GRAPH_DEGREE,
    GRAPH_ENTRIES,
    IVF_K_CENTROIDS,
)

# One per-PID base directory for every artifact. The name is deliberately
# self-documenting: DuckDB resolves read_parquet paths at BIND time (before
# any row is evaluated — a SQL-level existence guard can never fire first),
# so when an oracle runs standalone without its paired Spark query, the
# no-files-found error it raises quotes a path that says what to do. The
# PID suffix keeps concurrent harness processes apart.
_ORACLE_ART_BASE = (
    f"/tmp/vdb_spark_oracle_artifacts_{os.getpid()}"
    "__created_by_running_the_paired_spark_query_first__see_fixtures_py"
)


def _cleanup_oracle_artifacts() -> None:  # pragma: no cover - atexit hook
    """Remove this process's artifact tree so repeated harness runs don't
    accumulate parquet trees."""
    shutil.rmtree(_ORACLE_ART_BASE, ignore_errors=True)


atexit.register(_cleanup_oracle_artifacts)


def art_path(name: str, *parts: str) -> str:
    """Path under fixture ``name``'s artifact directory (the directory
    :func:`fixture` removes when it replaces the entry)."""
    return os.path.join(_ORACLE_ART_BASE, name, *parts)


def _stamp(entry: os.DirEntry) -> tuple:
    st = entry.stat()
    return (entry.name, st.st_mtime_ns, st.st_size)


def corpus_key(sf_dir: str) -> tuple:
    """Staleness key of a fixture corpus: the absolute path plus each
    ``*.parquet`` entry's (name, mtime, size) — one level deep for
    directory datasets, whose own stat does not change when a part file
    is rewritten in place. A regenerated fixture therefore never serves
    stale collected scalars or oracle artifacts."""
    path = os.path.abspath(sf_dir)
    stamps = []
    try:
        with os.scandir(path) as it:
            for e in it:
                if not e.name.endswith(".parquet"):
                    continue
                if e.is_dir():
                    with os.scandir(e.path) as parts:
                        stamps.append(
                            (e.name, tuple(sorted(_stamp(p) for p in parts))))
                else:
                    stamps.append(_stamp(e))
    except OSError:
        stamps = []
    return (path, tuple(sorted(stamps)))


# slot -> [stamp, value, session the value is bound to]
_MEMO: dict[tuple, list] = {}


def fixture(spark: SparkSession, name: str, sf_dir: str | None,
            params: tuple, build: Callable[[], object],
            bind: Callable[[SparkSession, object], object] | None = None,
            *, artifacts: bool = True):
    """The one fixture memo (rules 1-3 of the module docstring).

    ``build()`` makes the value in the caller's session, writing any
    artifacts under ``art_path(name)``; ``bind(spark, value)``, given for
    session-bound values, re-binds it to another session.
    ``sf_dir=None`` marks a corpus-independent fixture;
    ``artifacts=False`` an artifact-free one."""
    key = corpus_key(sf_dir) if sf_dir is not None else None
    stamp = (key, params)
    slot = (name,) if artifacts else (name, key and key[0], params)
    entry = _MEMO.get(slot)
    if (entry is None or entry[0] != stamp
            or (artifacts and not os.path.isdir(art_path(name)))):
        _MEMO.pop(slot, None)
        if artifacts:
            shutil.rmtree(art_path(name), ignore_errors=True)
        entry = [stamp, build(), spark]
        _MEMO[slot] = entry
    if bind is not None and entry[2] is not spark:
        entry[1], entry[2] = bind(spark, entry[1]), spark
    return entry[1]


def _write_parquet(path: str, columns: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    papq.write_table(pa.table(columns), path)


# ---------------------------------------------------------------------------
# Table reads and query vectors
# ---------------------------------------------------------------------------

def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    # The driver runs the registry with its own SparkSession: pin the
    # runtime confs correctness depends on (UTC so timestamps compare
    # naive-UTC like DuckDB's; nanosAsLong so the ns-precision events table
    # is readable).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # parquet timestamps without the UTC flag must read as TIMESTAMP (LTZ),
    # not TIMESTAMP_NTZ: NTZ can't take a watermark or cast to double, and
    # reading natively (vs casting post-scan) keeps filter pushdown intact.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # right-size shuffles for the test scale factors (the 200 default wastes
    # task overhead here; AQE coalesces further at runtime)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    df = spark.read.parquet(path)
    if name == "events":
        # parquet TIMESTAMP(NANOS) arrives as long ns-since-epoch
        # (spark.sql.legacy.parquet.nanosAsLong); convert to a real timestamp
        # at µs precision — all downstream windows are >= 1s granularity.
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer div — double math would lose precision above 2^53 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # defensive fallback: if any NTZ column slipped through (e.g. the conf
    # above ever stops being runtime-settable), normalize to TIMESTAMP so
    # watermarks/epoch math downstream keep working.
    from pyspark.sql.types import TimestampNTZType

    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read relation of fixture table ``name``, memoized per (corpus,
    table) and session: the footer/schema probe job on every call cost
    ~0.1 s per table touch across the registry (a serving tier keeps
    tables registered; this is that, fixture-scoped). Plans are
    immutable, so reuse is safe."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return fixture(spark, "table", sf_dir, (name,),
                   lambda: _read_table(spark, path, name),
                   lambda s, _: _read_table(s, path, name), artifacts=False)


def query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fixture-constant query vector (embedding of ``vec_id``): the probe
    is input resolution, not query work. Returns a fresh list."""
    def build():
        row = (
            table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()
        )
        return [float(x) for x in row[0]]

    return list(fixture(spark, "query_vec", sf_dir, (vec_id,), build,
                        artifacts=False))


# ---------------------------------------------------------------------------
# Operator-level indexes (IVF, PQ, BQ, sparse, graph, LSH). Construction is
# ingest-time work, benched separately by bench.py; recall.py computes the
# recall pins over exactly these builders, so their parameters stay fixed.
# ---------------------------------------------------------------------------

EMB_DIM = 64  # fixture embedding width (TESTDATA.md), all sf dirs — an
# import-time constant because oracle SQL unrolls per-dimension expressions

# compound LSH config shared by the near-dup queries: (AND 3 projections,
# OR 6 tables) at bucket_length 0.075 -> 18 planes. On unit vectors
# sigma_projection = 1/sqrt(dim) = 0.125: a random pair's per-projection
# collision odds ~ L*phi(0)/sigma ~ 0.17 -> ~0.005 per compound table; an
# injected near-dup pair (projected gap sigma 0.023) keeps ~0.43 per table
# -> ~97% recall across 6 tables with ~3% of the pair space scored
# (measured in test_dedup.py).
LSH_BL, LSH_G, LSH_TABLES = 0.075, 3, 6
LSH_PLANES = art_path("lsh_planes", "planes.parquet")


def lsh_model(spark: SparkSession, sf_dir: str):
    """The fitted BucketedRandomProjectionLSH model of the near-dup
    queries. The fit only draws seeded random hyperplanes
    (data-independent), so query time is the transform + bucket join, not
    the fit. The hyperplanes are written to ``LSH_PLANES`` so the DuckDB
    oracle can replay the bucketing (bucket = floor(dot(v, u_t) /
    bucket_length), MLlib's hashFunction); that artifact follows the
    latest corpus, so a corpus of a different dim never leaves
    wrong-length planes behind."""
    from vectordb_cloud_spark.operators.ann import lsh_fit, lsh_planes

    model = fixture(
        spark, "lsh_model", sf_dir, (),
        lambda: lsh_fit(table(spark, sf_dir, "embeddings"),
                        bucket_length=LSH_BL,
                        num_hash_tables=LSH_G * LSH_TABLES)[0],
        artifacts=False)

    def write_planes():
        planes = lsh_planes(model)  # cached on the model (py4j extraction)
        _write_parquet(LSH_PLANES, {
            "tbl": pa.array(range(len(planes)), pa.int32()),
            "u": pa.array(planes, pa.list_(pa.float64())),
        })

    fixture(spark, "lsh_planes", sf_dir, (), write_planes)
    return model


IVF_LAYOUT = art_path("ivf_idx", "ivf")
IVF_CENTERS = art_path("ivf_idx", "centers.parquet")


def ivf_index(spark: SparkSession, sf_dir: str):
    """IVF index (KMeans + centroid-partitioned layout, k =
    ``recall.IVF_K_CENTROIDS``) at a fixed path so the DuckDB oracle reads
    the same index the Spark query searches. Returns ``(centers, read
    relation over the layout)``: re-listing ~k partition dirs on every
    query costs ~0.85 s at k=192, so the relation is kept per session."""
    from vectordb_cloud_spark.operators.ann import ivf_build, ivf_persist

    def build():
        emb = table(spark, sf_dir, "embeddings")
        centers, assigned = ivf_build(emb, k_centroids=IVF_K_CENTROIDS)
        ivf_persist(assigned, IVF_LAYOUT)
        _write_parquet(IVF_CENTERS, {
            "centroid_id": pa.array([i for i, _ in centers], pa.int32()),
            "center": pa.array([c for _, c in centers], pa.list_(pa.float64())),
        })
        return centers, spark.read.parquet(IVF_LAYOUT)

    return fixture(spark, "ivf_idx", sf_dir, (), build,
                   lambda s, v: (v[0], s.read.parquet(IVF_LAYOUT)))


# dim 64 = 16 subspaces x 4 dims, K=256 codes per subspace (the standard
# 8-bit PQ codebook); the 4-bit M=8/K=16 config scored rerank recall 0.50 at
# sf0.1, this one 0.988 at oversample=4.
PQ_M, PQ_SUBD, PQ_K = 16, 4, 256
PQ_CODES = art_path("pq_idx", "codes")
PQ_BOOKS = art_path("pq_idx", "codebooks.parquet")


def pq_index(spark: SparkSession, sf_dir: str):
    """PQ index: codebook training + corpus encoding, persisted as codes +
    a codebooks parquet the DuckDB oracle replays the ADC math over.
    Returns ``(codebooks, codes path)``."""
    from vectordb_cloud_spark.operators.pq import pq_encode, pq_train

    def build():
        emb = table(spark, sf_dir, "embeddings")
        codebooks = pq_train(emb, m_subvectors=PQ_M, k_codes=PQ_K)
        pq_encode(emb, codebooks).select("vec_id", "pq_code").write.parquet(
            PQ_CODES)
        _write_parquet(PQ_BOOKS, {
            "m": pa.array(
                [m for m, book in enumerate(codebooks) for _ in book], pa.int32()
            ),
            "code": pa.array(
                [c for book in codebooks for c in range(len(book))], pa.int32()
            ),
            "center": pa.array(
                [center for book in codebooks for center in book],
                pa.list_(pa.float64()),
            ),
        })
        return codebooks, PQ_CODES

    return fixture(spark, "pq_idx", sf_dir, (), build)


BQ_CODES = art_path("bq_idx", "codes")
BQ_THR = art_path("bq_idx", "thresholds.parquet")


def bq_index(spark: SparkSession, sf_dir: str):
    """Binary-quantization index: persisted 1-bit codes + per-dim
    thresholds. Returns ``(thresholds, codes path)``."""
    from vectordb_cloud_spark.operators.sq import bq_encode, bq_train

    def build():
        emb = table(spark, sf_dir, "embeddings")
        thresholds = bq_train(emb)
        bq_encode(emb, thresholds).select("vec_id", "bq_code").write.parquet(
            BQ_CODES)
        _write_parquet(BQ_THR, {
            "thr": pa.array([thresholds], pa.list_(pa.float64()))})
        return thresholds, BQ_CODES

    return fixture(spark, "bq_idx", sf_dir, (), build)


SPARSE_VOCAB = 4096
SPARSE_POSTINGS = art_path("sparse_idx", "postings")
SPARSE_QUERY = art_path("sparse_idx", "query.parquet")


def sparse_index(spark: SparkSession, sf_dir: str):
    """Sparse inverted index: hashed TF-IDF vectors of the documents,
    persisted as dim-partitioned postings, plus doc 1's vector as the
    query. Returns ``((qdims, qvals), postings path)``."""
    from vectordb_cloud_spark.functions.embedding import hashed_tfidf_sparse
    from vectordb_cloud_spark.operators.sparse import (
        sparse_invert,
        sparse_persist_inverted,
    )

    def build():
        docs = table(spark, sf_dir, "documents")
        # materialize the sparse vectors ONCE per build — the postings
        # write and the query-row probe would each re-run the whole
        # tokenize/DF/assembly pipeline
        sv = hashed_tfidf_sparse(docs, vocab_size=SPARSE_VOCAB).localCheckpoint()
        sparse_persist_inverted(sparse_invert(sv), SPARSE_POSTINGS)
        qrow = sv.filter(F.col("doc_id") == 1).first()
        qdims = [int(i) for i in qrow["indices"]]
        qvals = [float(v) for v in qrow["values"]]
        _write_parquet(SPARSE_QUERY, {
            "qdim": pa.array(qdims, pa.int32()),
            "qval": pa.array(qvals, pa.float64()),
        })
        return (qdims, qvals), SPARSE_POSTINGS

    return fixture(spark, "sparse_idx", sf_dir, (), build)


GRAPH_ADJ = art_path("graph_idx", "adj")


def graph_index(spark: SparkSession, sf_dir: str):
    """Graph ANN index: kNN-graph adjacency + medoid entry points,
    persisted. Returns ``(entry_ids, adjacency path)``."""
    from vectordb_cloud_spark.operators.graph_ann import (
        graph_entry_points,
        knn_graph_build,
        knn_graph_persist,
    )

    def build():
        emb = table(spark, sf_dir, "embeddings")
        g = knn_graph_build(emb, degree=GRAPH_DEGREE, refine_rounds=1)
        entry_ids = graph_entry_points(emb, n_entry=GRAPH_ENTRIES)
        knn_graph_persist(g, GRAPH_ADJ, entry_ids=entry_ids)
        return entry_ids, GRAPH_ADJ

    return fixture(spark, "graph_idx", sf_dir, (), build)


# ---------------------------------------------------------------------------
# Lexical and passage indexes
# ---------------------------------------------------------------------------

def bm25_index(spark: SparkSession, sf_dir: str):
    """Persisted BM25 index: postings repartitioned by term and
    term-sorted within files, so a keyword query's pruned postings scan
    reads a vocabulary-fraction of the bytes. Returns the three read
    relations (kept per session — re-listing footers per query is a
    serving anti-pattern, not index cost) and the corpus stats as two
    driver scalars ``(n_docs, avg_len)``: ``bm25_search`` probing a
    local-relation corpus frame instead cost ~0.9 s per query."""
    from vectordb_cloud_spark.operators.lexical import bm25_index as build_bm25

    names = ("postings", "docstats", "doclens")

    def build():
        docs = table(spark, sf_dir, "documents")
        postings, docstats, doclens, corpus = build_bm25(docs, id_col="doc_id")
        paths = {n: art_path("bm25", n) for n in names}
        (
            postings.repartition(8, "term")
            .sortWithinPartitions("term")
            .write.parquet(paths["postings"])
        )
        # derive the secondary tables from materialized data instead of
        # re-running the tokenize+explode pipeline per write — docstats is
        # a groupBy over the postings just written (identical (term, df)
        # rows, one scan instead of a recompute), and the corpus scalars
        # aggregate the checkpointed doclens rather than re-tokenizing the
        # corpus a fourth time.
        (
            spark.read.parquet(paths["postings"])
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .write.parquet(paths["docstats"])
        )
        dl = doclens.localCheckpoint()
        dl.write.parquet(paths["doclens"])
        row = dl.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avg_len")
        ).first()
        return bind(spark, ((int(row["n_docs"]), float(row["avg_len"])),))

    def bind(s, v):  # v[-1] is the (n_docs, avg_len) scalars
        return (*(s.read.parquet(art_path("bm25", n)) for n in names), v[-1])

    return fixture(spark, "bm25", sf_dir, (), build, bind)


PASSAGE_DOCS = 300  # doc_id < 300: bounded fixture slice
PASSAGE_CHUNKS = art_path("passage", "chunks")


def passage_index(spark: SparkSession, sf_dir: str):
    """Persisted chunk-TF-IDF passage index: chunking + embedding are
    index-construction cost (benched as ``passage_index_build``) and the
    query is a probe + scoring scan over the persisted chunks, which the
    DuckDB oracle reads too. Hash-distributed by doc_id and doc-sorted
    within files so the query-vector probe prunes on row-group stats.
    Returns ``(index read relation, query vector)`` — the query vector is
    doc 0's first chunk."""
    from vectordb_cloud_spark.operators.chunking import chunk_tfidf_index

    def build():
        docs = table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < PASSAGE_DOCS)
        idx = chunk_tfidf_index(docs, dim=64, chunk_tokens=64, overlap=16)
        (
            idx.repartition("doc_id")
            .sortWithinPartitions("doc_id", "chunk_idx")
            .write.parquet(PASSAGE_CHUNKS)
        )
        chunks = spark.read.parquet(PASSAGE_CHUNKS)
        row = (
            chunks.filter((F.col("doc_id") == 0) & (F.col("chunk_idx") == 0))
            .select("embedding")
            .first()
        )
        return chunks, [float(x) for x in row[0]]

    return fixture(spark, "passage", sf_dir, (), build,
                   lambda s, v: (s.read.parquet(PASSAGE_CHUNKS), v[1]))


# ---------------------------------------------------------------------------
# Oracle parquets: inputs the DuckDB twin cannot derive itself
# ---------------------------------------------------------------------------

def mock_embedded_docs(spark: SparkSession, sf_dir: str, name: str,
                       n_docs: int) -> None:
    """Write ``(doc_id, embedding)`` mock-embeds of the ``doc_id < n_docs``
    slice to ``art_path(name)``: the mock embedder has no SQL twin, but it
    is deterministic, so the oracle reads its output. Driver-side over a
    bounded slice."""
    from vectordb_cloud_spark.functions.embedding import mock_vector

    def build():
        rows = (
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < n_docs)
            .select("doc_id", "text")
            .collect()
        )
        _write_parquet(art_path(name, "emb.parquet"), {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "embedding": pa.array(
                [mock_vector(r["text"] or "", EMB_DIM) for r in rows],
                pa.list_(pa.float32()),
            ),
        })

    fixture(spark, name, sf_dir, (n_docs,), build)


def multimodal_media(spark: SparkSession) -> None:
    """Write the synthetic media table's metadata + payload seeds (64 rows)
    to ``art_path("mm_media")``. Derived from the same
    make_fake_media / _payload_seed code path the Spark query uses, so the
    two can't drift; corpus-independent, so built once per process."""
    from vectordb_cloud_spark.operators.multimodal import (
        _payload_seed,
        make_fake_media,
    )

    def build():
        rows = (
            make_fake_media(spark, n=64, kind="image")
            .select("media_id", "format", "width", "height", "data")
            .collect()
        )
        _write_parquet(art_path("mm_media", "media.parquet"), {
            "media_id": pa.array([r["media_id"] for r in rows], pa.int64()),
            "format": pa.array([r["format"] for r in rows], pa.string()),
            "width": pa.array([r["width"] for r in rows], pa.int64()),
            "height": pa.array([r["height"] for r in rows], pa.int64()),
            "seed": pa.array([_payload_seed(r["data"]) for r in rows], pa.string()),
        })

    fixture(spark, "mm_media", None, (), build)


def matrix_sample(spark: SparkSession, sf_dir: str, n: int, seed: int) -> None:
    """Write the distance-matrix query's seeded sample rows to
    ``art_path("matrix_sample")``: the xxhash64(id, seed) ordering has no
    DuckDB twin, so the oracle replays everything except the selection."""
    from vectordb_cloud_spark.sources.readers import random_sample

    def build():
        rows = random_sample(
            table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
            n, seed=seed, id_col="vec_id",
        ).collect()
        _write_parquet(art_path("matrix_sample", "sample.parquet"), {
            "vec_id": pa.array([r["vec_id"] for r in rows], pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in r["embedding"]] for r in rows],
                pa.list_(pa.float64())),
        })

    fixture(spark, "matrix_sample", sf_dir, (n, seed), build)


# ---------------------------------------------------------------------------
# Service and collection fixtures: the production lifecycle (catalog create
# → bucketed upsert → versioned sidecars), whose files the oracles replay
# ---------------------------------------------------------------------------

TXT_SVC_ROOT = art_path("text_svc")
TXT_COLLECTION = "EverGrowingVDB"  # VectorService's prod collection name


def text_service(spark: SparkSession, sf_dir: str):
    """A VectorService over the documents table with a ``"text"`` payload
    index on the body field — the full serving stack (catalog create →
    payload-index declare → bucketed LWW upsert with the mock embedder →
    lazy textidx.v{N} postings sidecar). The oracles read the data files
    and the postings the catalog actually wrote."""
    from vectordb_cloud_spark.api import VectorService
    from vectordb_cloud_spark.functions.embedding import mock_embed

    def build():
        svc = VectorService(spark, TXT_SVC_ROOT, dim=EMB_DIM)
        # declare BEFORE the first write: no data rewrite, so exactly one
        # data.v{N} exists and the oracle's data.v* glob is unambiguous
        svc.create_index("text", "text")
        docs = (
            table(spark, sf_dir, "documents")
            .repartition(1)  # one Arrow batch for the embed pandas_udf
            .select(
                F.col("doc_id").alias("id"),
                F.col("doc_id").alias("text_id"),
                "text",
                (F.col("doc_id") % 5).alias("user_id"),
                F.lit("site0").alias("site"),
                "lang",
            )
            .withColumn("embedding", mock_embed("text", EMB_DIM))
        )
        svc.catalog.upsert(TXT_COLLECTION, docs)
        return svc

    return fixture(spark, "text_svc", sf_dir, (), build,
                   lambda s, _: VectorService(s, TXT_SVC_ROOT, dim=EMB_DIM))


def _collection(spark: SparkSession, sf_dir: str, name: str, coll: str,
                config: dict, extra_cols: tuple = (), two_epochs: bool = False,
                export: Callable | None = None):
    """Collection fixture rooted at ``art_path(name)`` (which the memo
    clears first): create ``coll`` with ``config``, then upsert
    ``(vec_id AS id, embedding, vec_id % 50 AS user_id, *extra_cols)``.

    With ``two_epochs`` the ANN sidecar is built over the ~90% with
    ``vec_id % 10 != 0``, the held-out ~10% is upserted (inside the 0.2
    ``incremental_budget``), and the second ``build_ann_index`` must
    maintain the sidecar incrementally: it RAISES if ``appended_rows`` is
    unset, because the oracle would still hash-match a rebuilt sidecar and
    the row would silently stop proving the incremental path.
    ``export(catalog, sidecar params)`` writes the oracle's side file.
    Returns the catalog bound to the caller's session."""
    from vectordb_cloud_spark.collections import CollectionCatalog

    root = art_path(name)

    def build():
        cat = CollectionCatalog(spark, root)
        cat.create(coll, dim=EMB_DIM, n_buckets=4, **config)
        pts = table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"), "embedding",
            (F.col("vec_id") % 50).alias("user_id"), *extra_cols,
        )
        params = None
        if two_epochs:
            cat.upsert(coll, pts.filter(F.col("id") % 10 != 0))
            cat.build_ann_index(coll)            # full build
            cat.upsert(coll, pts.filter(F.col("id") % 10 == 0))
            adir = cat.build_ann_index(coll)     # write epoch: incremental
            with open(os.path.join(adir, "params.json")) as f:
                params = json.load(f)
            if int(params.get("appended_rows", 0)) <= 0:
                raise RuntimeError(
                    f"{name} fixture: the second build of {coll!r} did not "
                    "take the incremental path (appended_rows="
                    f"{params.get('appended_rows')!r}); investigate "
                    "collections._incremental_*_params before trusting "
                    "its oracle row")
        else:
            cat.upsert(coll, pts)
        if export is not None:
            export(cat, params)
        return cat

    return fixture(spark, name, sf_dir, (), build,
                   lambda s, _: CollectionCatalog(s, root))


QUANT_COL = art_path("quant_col")
QUANT_STATS = art_path("quant_col", "stats.parquet")


def quantized_collection(spark: SparkSession, sf_dir: str):
    """Collection ``q8`` with ``quantization={"scalar": {"type": "int8"}}``:
    codes sidecar materialized (quant.v{N}), per-dim (min, max) stats
    exported for the oracle."""
    def export(cat, _):
        with open(os.path.join(cat.quantize("q8"), "params.json")) as f:
            params = json.load(f)
        _write_parquet(QUANT_STATS, {
            "mins": pa.array([params["mins"]], pa.list_(pa.float64())),
            "maxs": pa.array([params["maxs"]], pa.list_(pa.float64())),
        })

    return _collection(spark, sf_dir, "quant_col", "q8",
                       {"quantization": {"scalar": {"type": "int8"}}},
                       export=export)


ANN_COL = art_path("ann_col")
ANN_COL_CENTERS = art_path("ann_col", "centers.parquet")
ANNCOL_NPROBE = 4


def ann_collection(spark: SparkSession, sf_dir: str):
    """Collection ``annc`` with an IVF ``ann_index`` whose ann.v{N} sidecar
    is maintained by the INCREMENTAL path over a second write epoch
    (centroids kept, delta routed via ivf_append into a hardlinked layout
    copy); the KMeans centers are exported for the oracle."""
    def export(_, params):
        _write_parquet(ANN_COL_CENTERS, {
            "centroid_id": pa.array([int(i) for i, _ in params["centers"]],
                                    pa.int32()),
            "center": pa.array([[float(x) for x in c]
                                for _, c in params["centers"]],
                               pa.list_(pa.float64())),
        })

    # full_scan_threshold: 0 pins the SIDECAR route for the oracle rows:
    # with the planner default (10k), this fixture's selective tenant
    # filters would legitimately serve EXACT (the small-matching-set rule)
    # and the rows would stop hash-gating the IVF routing + pruned scan
    # they exist to prove. The planner itself is gated in
    # test_collection_ann_index/test_graph_ann + the RECALL.md filtered
    # series; these rows gate the index math.
    return _collection(spark, sf_dir, "ann_col", "annc",
                       {"ann_index": {"ivf": {"k_centroids": 16,
                                              "nprobe": ANNCOL_NPROBE,
                                              "full_scan_threshold": 0}}},
                       two_epochs=True, export=export)


FUNNEL_T = 0.05  # sparse-dim activation threshold (deterministic)


def sparse_activation(vec: Column) -> tuple[Column, Column]:
    """``(indices, values)`` of the deterministic sparse view of a dense
    ``EMB_DIM`` vector: the dims whose value exceeds ``FUNNEL_T``,
    ascending."""
    live = F.filter(
        F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
        lambda i: F.element_at(vec, (i + F.lit(1)).cast("int"))
        .cast("double") > F.lit(FUNNEL_T))
    vals = F.transform(
        live, lambda i: F.element_at(vec, (i + F.lit(1)).cast("int"))
        .cast("double"))
    return live, vals


SPARSE_COL = art_path("sparse_col")


def sparse_collection(spark: SparkSession, sf_dir: str):
    """Collection ``sparsec`` with named sparse vectors ("splade") from
    :func:`sparse_activation`, whose sparse config declares an index — so
    ``search_sparse`` serves through the lazy versioned sparseidx.v{N}
    dim-bucketed inverted-postings sidecar."""
    indices, values = sparse_activation(F.col("embedding"))
    return _collection(spark, sf_dir, "sparse_col", "sparsec",
                       {"sparse_vectors": {"splade": {"index": {"on_disk": True}}}},
                       extra_cols=(indices.alias("sparse_splade_indices"),
                                   values.alias("sparse_splade_values")))


GANN_COL = art_path("gann_col")
GANN_BEAM = 16
GANN_HOPS = 3
GANN_ENTRY = 8


def gann_collection(spark: SparkSession, sf_dir: str):
    """Collection ``ganni`` with a graph ``ann_index`` whose sidecar is
    maintained INCREMENTALLY over a second write epoch
    (``knn_graph_append``): adjacency + blocking.json + banded +
    coarse_sample persisted by the full build, widened by the append."""
    return _collection(spark, sf_dir, "gann_col", "ganni",
                       {"ann_index": {"graph": {"degree": 8, "beam": GANN_BEAM,
                                                "max_hops": GANN_HOPS,
                                                "n_entry": GANN_ENTRY}}},
                       two_epochs=True)


# ---------------------------------------------------------------------------
# Streaming child session
# ---------------------------------------------------------------------------

def stream_session(spark: SparkSession) -> SparkSession:
    """The child session (shared SparkContext, isolated SQLConf) the
    streaming query runs in, one per parent session: sizing its
    shuffle/state-store partition count never mutates the caller's
    session. Streaming aggregations pin ONE state-store instance per
    shuffle partition per micro-batch and AQE never coalesces them — at
    32-64 partitions most instances held a handful of keys and the run was
    state-store setup, not aggregation (2.0 s -> 1.4 s at 8)."""
    def child(parent, _=None):
        ss = parent.newSession()
        ss.conf.set("spark.sql.session.timeZone", "UTC")
        ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ss.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        ss.conf.set("spark.sql.shuffle.partitions", "8")
        return ss

    return fixture(spark, "stream_session", None, (), lambda: child(spark),
                   child, artifacts=False)
