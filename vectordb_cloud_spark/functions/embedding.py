"""Text → embedding as a vectorized pandas_udf.

The reference embeds one text per torch forward pass
(/root/reference/insert.py:16-28, duplicated in search.py:17-28 and
app.py:155-160) with a HuggingFace transformer, truncated at 128 tokens.
That is the single mandatory Python boundary in the whole engine; everything
else stays JVM-side. Two implementations behind one interface:

- ``mock_embed`` — deterministic, dependency-free: md5(text) seeds a small
  xorshift stream that fills a fixed-dim float32 vector. Stable across
  machines/runs, so golden top-k tests and the DuckDB oracle don't need torch
  (SURVEY.md §5 determinism note).
- ``embed_text`` — the real HF model behind an import-try (torch/transformers
  are not in this container). Batched: one forward pass per Arrow batch, not
  per row — fixing the reference's one-text-at-a-time loop.

Environment probe log (the real-weights lane is SKIP-gated, not broken —
re-checked every round): 2026-08-16 (r13) ``importlib.util.find_spec``
returns None for both ``torch`` and ``transformers``; no package index is
reachable from this sandbox, so the forward-pass tests in
tests/test_embedding_real.py remain skip-marked. They run unmodified
wherever ``pip install -e .[real]`` succeeds.

At 100 TB the embedding pass dominates; the pandas_udf form distributes it
across all executors with Arrow-batched transfer and lets Spark pipeline it
with the downstream write.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 64  # matches the driver's embeddings.embedding test table
MAX_TOKENS = 128  # reference truncation, /root/reference/insert.py:21


def _mock_vector(text: str, dim: int) -> np.ndarray:
    """Deterministic pseudo-embedding: md5 of the (token-truncated) text
    seeds a xorshift64* stream -> float32 in [-1, 1)."""
    truncated = " ".join(text.split()[:MAX_TOKENS])
    seed = struct.unpack("<Q", hashlib.md5(truncated.encode("utf-8")).digest()[:8])[0]
    out = np.empty(dim, dtype=np.float32)
    x = seed or 0x9E3779B97F4A7C15
    for i in range(dim):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        out[i] = ((x & 0xFFFFFFFF) / 2147483648.0) - 1.0
    return out


def mock_vector(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Driver-side helper for building query vectors in tests/services."""
    return [float(v) for v in _mock_vector(text, dim)]


def mock_embed(col: Column | str, dim: int = DEFAULT_DIM) -> Column:
    """Vectorized deterministic embedder (Arrow-batched pandas_udf)."""

    @F.pandas_udf(ArrayType(FloatType(), containsNull=False))
    def _embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _mock_vector(t or "", dim))

    return _embed(F.col(col) if isinstance(col, str) else col)


def embed_text(col: Column | str, model_name: str = "sentence-transformers/all-MiniLM-L6-v2") -> Column:
    """Real HF embedder (reference models: multilingual-e5-large prod,
    MiniLM-L6-v2 test — /root/reference/QdrantCloud.py:20-23). Batched per
    Arrow chunk. Raises if torch/transformers are absent (not in this image);
    use ``mock_embed`` there.
    """
    try:
        import torch  # noqa: F401
        from transformers import AutoModel, AutoTokenizer  # noqa: F401
    except ImportError as exc:  # pragma: no cover - deps not in test image
        raise NotImplementedError(
            "transformers/torch not installed in this environment; "
            "use mock_embed() for deterministic tests"
        ) from exc

    @F.pandas_udf(ArrayType(FloatType(), containsNull=False))
    def _embed(texts: pd.Series) -> pd.Series:  # pragma: no cover - torch absent
        import torch
        from transformers import AutoModel, AutoTokenizer

        # Lazily cached per executor process; weights load once per worker.
        global _HF_CACHE
        try:
            tok, model = _HF_CACHE[model_name]
        except (NameError, KeyError):
            tok = AutoTokenizer.from_pretrained(model_name)
            model = AutoModel.from_pretrained(model_name)
            model.eval()
            try:
                _HF_CACHE[model_name] = (tok, model)
            except NameError:
                _HF_CACHE = {model_name: (tok, model)}
        with torch.no_grad():
            inputs = tok(
                texts.fillna("").tolist(),
                padding=True,
                truncation=True,
                max_length=MAX_TOKENS,
                return_tensors="pt",
            )
            # pooler_output per the reference (/root/reference/insert.py:24)
            vecs = model(**inputs).pooler_output.numpy().astype(np.float32)
        return pd.Series(list(vecs))

    return _embed(F.col(col) if isinstance(col, str) else col)


def embed_with_predict_fn(
    col: Column | str,
    make_predict_fn,
    batch_size: int = 64,
) -> Column:
    """Generic production-inference wiring: ``pyspark.ml.functions.
    predict_batch_udf`` around an injectable model factory.

    ``make_predict_fn`` runs ONCE per python worker (the loaded model is
    cached and shared across every batch and task that worker executes) and
    returns ``predict(texts: np.ndarray) -> np.ndarray`` called per
    ``batch_size`` slice. Extracted from ``embed_text_batched`` so the
    contract — worker-level factory caching, batch slicing, array<float>
    output — is testable with a fake factory where torch is absent
    (tests/test_embedding_real.py::test_predict_batch_contract)."""
    from pyspark.ml.functions import predict_batch_udf

    udf = predict_batch_udf(
        make_predict_fn,
        return_type=ArrayType(FloatType(), containsNull=False),
        batch_size=batch_size,
    )
    return udf(F.col(col) if isinstance(col, str) else col)


def embed_text_batched(
    col: Column | str,
    model_name: str = "sentence-transformers/all-MiniLM-L6-v2",
    batch_size: int = 64,
) -> Column:
    """The production inference wiring: ``pyspark.ml.functions.
    predict_batch_udf`` around the same HF model as ``embed_text``.

    predict_batch_udf is the right 100 TB shape for model inference — the
    model factory (``make_predict_fn``) runs ONCE per python worker and the
    loaded model is cached and shared across every batch and every task that
    worker executes, the fixed ``batch_size`` decouples GPU/CPU batch sizing
    from Arrow chunk sizing, and Spark can pipeline the UDF with the
    surrounding scan/write. Raises loudly when torch/transformers are absent
    (this container); the skip-marked test in tests/test_embedding_real.py
    exercises the full path wherever torch exists.
    """
    try:
        import torch  # noqa: F401
        from transformers import AutoModel, AutoTokenizer  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformers/torch not installed in this environment; "
            "use mock_embed() for deterministic tests"
        ) from exc

    def make_predict_fn():  # pragma: no cover - torch absent in test image
        import torch
        from transformers import AutoModel, AutoTokenizer

        tok = AutoTokenizer.from_pretrained(model_name)
        model = AutoModel.from_pretrained(model_name)
        model.eval()

        def predict(texts: np.ndarray) -> np.ndarray:
            with torch.no_grad():
                enc = tok(
                    ["" if t is None else str(t) for t in texts.tolist()],
                    padding=True,
                    truncation=True,
                    max_length=MAX_TOKENS,
                    return_tensors="pt",
                )
                return model(**enc).pooler_output.numpy().astype(np.float32)

        return predict

    return embed_with_predict_fn(col, make_predict_fn, batch_size=batch_size)


# ---------------------------------------------------------------------------
# Hashed TF-IDF embeddings: a REAL lexical embedder, fully JVM-side
# ---------------------------------------------------------------------------

def hashed_tfidf_embed(docs, id_col: str = "doc_id", text_col: str = "text",
                       dim: int = DEFAULT_DIM, seed: int = 42):
    """Real (non-mock) document embeddings without any model weights:
    TF-IDF term vectors compressed by a signed random projection — the
    classic hashing-trick / Johnson-Lindenstrauss construction. Cosine
    between outputs approximates TF-IDF cosine similarity, so kNN over the
    result is genuine lexical-semantic retrieval — the in-container
    executable middle ground between ``mock_embed`` (deterministic noise)
    and ``embed_text`` (transformer, torch-gated; reference
    insert.py:16-28).

    Pipeline (one shuffle on term for the DF counts, one on doc for the
    projection sums; everything whole-stage codegen, no Python):

      tokens   = lowercased whitespace terms, reference-style 128-token cap
      idf(t)   = ln((N + 1) / (df_t + 1)) + 1      (smoothed, sklearn form)
      w(d, t)  = tf * idf                           per distinct (doc, term)
      e_d[j]   = Σ_t w(d, t) * sign(xxhash64(t, seed + j))   j < dim
      output   = e_d / ||e_d||                      unit-normalized

    The ±1 Rademacher projection preserves inner products in expectation
    (E[<e_a, e_b>] = <tfidf_a, tfidf_b>); dim controls the JL error bar.
    Returns (id_col, embedding: array<float>) — plug-compatible with every
    kNN/ANN/near-dup operator in the package.
    """
    from vectordb_cloud_spark.session import parallelize_narrow

    n_docs = docs.count()  # one scalar; the IDF needs the corpus size
    # fan the tokenize/hash map out (r14): a single-file corpus scans as
    # one task and the whole embed ran single-threaded; no-op on
    # multi-file tables at scale
    docs = parallelize_narrow(docs)
    terms = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.slice(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                        1, MAX_TOKENS)
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = terms.groupBy("term").agg(F.count("*").alias("df"))
    # one xxhash64 per (term, 64-dim chunk) computed ONCE in the projection;
    # its 64 bits are the Rademacher signs, extracted by literal shifts in
    # the aggregate — the agg evaluates dim bit-tests per row, zero hashes.
    n_chunks = (dim + 63) // 64
    weighted = terms.join(df_t, "term").select(
        F.col(id_col),
        (F.col("tf")
         * (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1.0)) + 1.0)
         ).alias("w"),
        *[F.xxhash64(F.col("term"), F.lit(seed + c)).alias(f"__h{c}")
          for c in range(n_chunks)],
    )
    sign = [
        F.when(
            F.shiftright(F.col(f"__h{j // 64}"), j % 64).bitwiseAND(F.lit(1)) == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
        for j in range(dim)
    ]
    # pin the dim-sum aggregate's parallelism (r14): the weighted rows are
    # bytes-tiny but the dim partial sums are the embed's dominant compute,
    # and size-based AQE coalescing would run them in one task; groupBy
    # reuses this hash partitioning, so no extra exchange. Never below the
    # input's own fan-out: a wide input on a small driver keeps its width
    n_part = _fan_out(docs)
    sums = weighted.repartition(n_part, id_col).groupBy(id_col).agg(*[
        F.sum(F.col("w") * sign[j]).alias(f"__e{j}") for j in range(dim)
    ])
    vec = F.array(*[F.col(f"__e{j}") for j in range(dim)])
    norm = F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    return sums.select(
        F.col(id_col),
        F.transform(vec, lambda x: x / norm).cast("array<float>").alias("embedding"),
    )


def _fan_out(docs) -> int:
    """Partitions for a pinned aggregate over ``docs``: the input's own
    count or the cluster's default parallelism, whichever is larger."""
    return max(docs.rdd.getNumPartitions(),
               docs.sparkSession.sparkContext.defaultParallelism)


def hashed_tfidf_sparse(docs, id_col: str = "doc_id", text_col: str = "text",
                        vocab_size: int = 4096, seed: int = 42):
    """Sparse TF-IDF vectors via the hashing trick — the (indices, values)
    twin of ``hashed_tfidf_embed``: instead of projecting to a dense
    ``dim``-vector, each term keeps its own hashed dimension
    ``xxhash64(term, seed) mod vocab_size``, colliding terms sum. Output
    ``(id_col, indices array<int> SORTED, values array<float>)`` plugs
    straight into ``operators.sparse`` (scan scoring, inverted postings
    layout, RRF fusion with dense kNN) — the SPLADE-shaped lexical side of
    hybrid search, weights-free and executable in-container.

    Same tokenization/IDF as the dense variant (128-token cap, smoothed
    sklearn IDF); values are L2-normalized per doc so dot products are
    cosine-comparable across documents. One shuffle on term (DF counts),
    one on (doc, dim) (collision sum), one on doc (array assembly).
    """
    n_docs = docs.count()
    terms = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.slice(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                        1, MAX_TOKENS)
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = terms.groupBy("term").agg(F.count("*").alias("df"))
    weighted = terms.join(df_t, "term").select(
        F.col(id_col),
        F.pmod(F.xxhash64("term", F.lit(seed)), F.lit(vocab_size))
        .cast("int").alias("dim"),
        (F.col("tf")
         * (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1.0)) + 1.0)
         ).alias("w"),
    )
    # r15 (guide §2.4): ONE exchange for the whole assembly — hash
    # partitioning on id_col alone satisfies both the (id, dim) collision
    # sum and the per-id array build (a subset of the clustering keys
    # co-locates every group), so the explicit repartition is reused by
    # both aggregates with no second shuffle; it also pins the fan-out the
    # dense variant pins (size-based AQE coalescing would run the
    # bytes-tiny weighted rows in one task).
    n_part = _fan_out(docs)
    by_dim = (
        weighted.repartition(n_part, id_col)
        .groupBy(id_col, "dim")
        .agg(F.sum("w").alias("w"))
    )
    assembled = (
        by_dim.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "w"))).alias("__p"))
    )
    vals = F.transform(F.col("__p"), lambda p: p["w"])
    norm = F.sqrt(F.aggregate(F.transform(vals, lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    return assembled.select(
        F.col(id_col),
        F.transform(F.col("__p"), lambda p: p["dim"]).alias("indices"),
        F.transform(vals, lambda x: x / norm).cast("array<float>")
        .alias("values"),
    )


def similar_documents(docs, query_doc_id: int, k: int = 10,
                      id_col: str = "doc_id", text_col: str = "text",
                      dim: int = DEFAULT_DIM, seed: int = 42):
    """Lexical nearest neighbors of one document via hashed TF-IDF + exact
    cosine top-k — real similarity search, no model weights, no Python in
    the scan. At scale, persist ``hashed_tfidf_embed``'s output once and
    search it with the ANN family instead of re-embedding per query."""
    from vectordb_cloud_spark.operators.knn import knn_search

    # materialize once: both the query-row probe and the kNN scan read the
    # same computed embeddings instead of re-running the TF-IDF lineage
    emb = hashed_tfidf_embed(docs, id_col, text_col, dim, seed).localCheckpoint()
    qrow = emb.filter(F.col(id_col) == query_doc_id).select("embedding").first()
    if qrow is None:
        raise ValueError(f"{id_col}={query_doc_id} not found")
    qv = [float(x) for x in qrow["embedding"]]
    hits = knn_search(emb, qv, k=k + 1, metric="cosine", vector_col="embedding",
                      tiebreak=id_col)
    return hits.filter(F.col(id_col) != query_doc_id).limit(k)
