"""Data Selection with Importance Resampling (DSIR) — Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"
(arXiv:2302.03169): select raw-corpus documents whose hashed n-gram
distribution looks like a small TARGET corpus, by importance weights
log p_target(x) − log p_raw(x) under bag-of-hashed-ngrams unigram models.
The published recipe behind "pretrain on web data, select what resembles
Wikipedia/books/your domain" — a data-selection capability the filter
battery (quality/lang/gopher) can't express because it scores RESEMBLANCE
to a target, not absolute quality.

Spark-first shape (no Python in the per-doc path):

1. ``hashed_ngram_features``: words + word-bigrams hashed into ``n_buckets``
   (the paper's 10k) — one explode to (doc, bucket) rows.
2. ``dsir_log_ratios``: the two corpus-level multinomials are ONE
   ``n_buckets``-row aggregate each (Laplace-smoothed); their log-ratio
   table is a broadcast-sized DataFrame, never a literal plan vector.
3. ``dsir_scores``: per-doc importance = Σ_features log-ratio — the
   feature rows join the broadcast ratio table and partial-agg back to one
   row per doc. Two skinny shuffles total, linear in corpus tokens.
4. ``importance_sample``: seeded Gumbel top-k over ``score / temperature``
   — sampling WITHOUT replacement proportional to the softmax of scores,
   as one TakeOrderedAndProject (no per-row RNG state, deterministic per
   seed: the Gumbel noise is a hash of (id, seed)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_BUCKETS = 10_000  # the paper's hashed feature dimensionality
# dsir_select checkpoints the raw corpus's features at or below this size
_MATERIALIZE_MAX_BYTES = 64 * 1024 * 1024


def _hash64(col: Column, hash_fn: str) -> Column:
    """String → non-negative long. ``xxhash64`` is the production default
    (fastest, JVM-native); ``md5_32`` takes the top 32 bits of md5 via
    conv() — slower but exactly replayable in DuckDB as
    ``('0x' || substr(md5(s), 1, 8))::BIGINT``, the same trick the MinHash
    oracle rows use (operators/dedup.py _shingle_hash)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5_32":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def hashed_ngram_features(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          n_buckets: int = DEFAULT_BUCKETS,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """(doc, bucket) rows: words + word-bigrams hashed into ``n_buckets``.
    One row per token occurrence — the multiset the unigram models count."""
    from vectordb_cloud_spark.functions.text import words
    from vectordb_cloud_spark.session import parallelize_narrow

    # fan the tokenize+bigram+hash map out (r15, guide §2.5): a single-file
    # corpus scans as one task and the whole feature pass ran
    # single-threaded (0.52s -> 0.34s at sf0.1); no-op on multi-file tables
    toks = parallelize_narrow(docs).select(
        F.col(id_col), words(F.col(text_col)).alias("__w")
    )
    # bigrams: both slices trimmed to size-1 so zip_with never null-pads —
    # a padded last pair would concat_ws down to the bare final token and
    # double-count it in the unigram model
    n_bi = F.greatest(F.size("__w") - 1, F.lit(0))
    grams = toks.select(
        id_col,
        F.explode(
            F.concat(
                F.col("__w"),
                F.zip_with(
                    F.slice(F.col("__w"), 1, n_bi),
                    F.slice(F.col("__w"), 2, n_bi),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            )
        ).alias("__g"),
    ).filter(F.col("__g") != "")
    return grams.select(
        id_col,
        F.pmod(_hash64(F.col("__g"), hash_fn), F.lit(n_buckets)).alias("bucket"),
    )


def dsir_log_ratios(target_feats: DataFrame, raw_feats: DataFrame,
                    n_buckets: int = DEFAULT_BUCKETS,
                    alpha: float = 1.0) -> DataFrame:
    """Per-bucket ``log p_target(b) − log p_raw(b)`` with Laplace ``alpha``.
    Each side is one n_buckets-row aggregate; the result is broadcast-sized
    (10k rows) and joins into the scoring pass as DATA, not plan literals."""
    t = target_feats.groupBy("bucket").agg(F.count("*").alias("tn"))
    r = raw_feats.groupBy("bucket").agg(F.count("*").alias("rn"))
    spark = target_feats.sparkSession
    all_b = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        all_b.join(t, "bucket", "left").join(r, "bucket", "left")
        .select("bucket",
                F.coalesce("tn", F.lit(0)).alias("tn"),
                F.coalesce("rn", F.lit(0)).alias("rn"))
    )
    # materialize the model ONCE: the counts table is n_buckets rows (10k
    # default — ~100 KB), but leaving it lazy re-runs BOTH corpora's
    # tokenize→hash→explode passes in every downstream action (the totals
    # probe, the scoring join, the sampling action — r9 measured 3 full
    # corpus passes per dsir_select). Collected here, the model costs one
    # pass and rides back in as a local relation; the log arithmetic stays
    # a JVM expression so the doubles match the SQL oracle bit-for-bit.
    rows = joined.collect()
    T = float(sum(row["tn"] for row in rows))
    R = float(sum(row["rn"] for row in rows))
    from vectordb_cloud_spark.session import local_df

    counts = local_df(spark, rows, "bucket int, tn long, rn long")
    return counts.select(
        "bucket",
        (
            F.log((F.col("tn") + alpha) / F.lit(T + alpha * n_buckets))
            - F.log((F.col("rn") + alpha) / F.lit(R + alpha * n_buckets))
        ).alias("log_ratio"),
    )


def dsir_scores(docs: DataFrame, ratios: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                n_buckets: int = DEFAULT_BUCKETS,
                normalize: bool = True,
                hash_fn: str = "xxhash64",
                feats: DataFrame | None = None) -> DataFrame:
    """Per-doc importance score Σ_features log_ratio (optionally divided by
    the feature count, making it a per-token average so long documents
    don't dominate purely by length). Returns docs + ``dsir_score``.

    ``feats``: pre-computed ``hashed_ngram_features(docs, ...)`` rows to
    reuse (``dsir_select`` passes its checkpointed raw-model features so
    the corpus is tokenized+hashed once, not twice)."""
    if feats is None:
        feats = hashed_ngram_features(docs, id_col, text_col, n_buckets,
                                      hash_fn)
    agg = [F.sum("log_ratio").alias("__s"), F.count("*").alias("__n")]
    scored = (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(*agg)
        .select(
            id_col,
            (F.col("__s") / F.col("__n") if normalize else F.col("__s")
             ).alias("dsir_score"),
        )
    )
    return docs.join(scored, id_col, "left").fillna({"dsir_score": 0.0})


def importance_sample(scored: DataFrame, n: int, seed: int = 42,
                      id_col: str = "doc_id",
                      score_col: str = "dsir_score",
                      temperature: float = 1.0,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Sample ``n`` docs WITHOUT replacement, proportional to
    softmax(score / temperature), via the Gumbel-top-k trick: key =
    score/T + Gumbel noise, take the top n — ONE TakeOrderedAndProject, no
    sequential sampling state. The noise is a hash of (id, seed), so the
    sample is deterministic per seed and stable under repartitioning.
    ``temperature → ∞`` approaches uniform; small T approaches argmax."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    # uniform in (0,1): bucketed hash with half-step offset avoids log(0).
    # The (id, seed) pair hashes as the string "id:seed" so both hash modes
    # see identical bytes (md5_32 is string-only).
    m = 1_000_003
    h = _hash64(F.concat_ws(":", F.col(id_col).cast("string"),
                            F.lit(str(seed))), hash_fn)
    u = (F.pmod(h, F.lit(m)) + 0.5) / m
    gumbel = -F.log(-F.log(u))
    key = F.col(score_col) / F.lit(float(temperature)) + gumbel
    return (
        scored.withColumn("__k", key)
        .orderBy(F.col("__k").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("__k")
    )


def dsir_select(raw_docs: DataFrame, target_docs: DataFrame, n: int,
                id_col: str = "doc_id", text_col: str = "text",
                n_buckets: int = DEFAULT_BUCKETS, seed: int = 42,
                temperature: float = 1.0, alpha: float = 1.0,
                hash_fn: str = "xxhash64") -> DataFrame:
    """The end-to-end DSIR recipe: fit both hashed-ngram models, score the
    raw corpus, Gumbel-top-k sample ``n`` target-resembling documents.

    The raw corpus's (id, bucket) feature rows feed BOTH the raw unigram
    model and the scoring pass. Materializing them once (localCheckpoint)
    halves the tokenize→bigram→hash map work (r14: 3.6s → 1.75s on a
    5k-doc fixture where plan overhead dominates), but the trade INVERTS
    with volume: at 500k docs / 40M tokens the checkpoint write of ~160
    feature rows per doc costs 2.5× the map pass it saves (r15
    core-scaling diagnosis), and at real corpus scale it would pin
    corpus-sized state in executor storage. So the features are
    materialized only when the corpus's optimizer size estimate is at
    most ``_MATERIALIZE_MAX_BYTES`` (64 MiB — the checkpoint is
    plan-overhead arbitrage there); larger corpora recompute the
    embarrassingly-parallel map once per consumer instead. The estimate
    comes from plan statistics (parquet footers) — no job is fired to
    decide. Results are identical either way."""
    try:
        est = int(str(
            raw_docs._jdf.queryExecution().optimizedPlan().stats()
            .sizeInBytes()
        ))  # noqa: SLF001 - read-only plan statistics, no job
        materialize_features = est <= _MATERIALIZE_MAX_BYTES
    except Exception:  # pragma: no cover - stats API drift
        materialize_features = True
    raw_feats = hashed_ngram_features(
        raw_docs, id_col, text_col, n_buckets, hash_fn
    )
    if materialize_features:
        raw_feats = raw_feats.localCheckpoint()
    ratios = dsir_log_ratios(
        hashed_ngram_features(target_docs, id_col, text_col, n_buckets,
                              hash_fn),
        raw_feats,
        n_buckets, alpha,
    )
    scored = dsir_scores(raw_docs, ratios, id_col, text_col, n_buckets,
                         hash_fn=hash_fn, feats=raw_feats)
    return importance_sample(scored, n, seed, id_col,
                             temperature=temperature, hash_fn=hash_fn)
