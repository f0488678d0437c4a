"""Benchmark decontamination: remove training docs that overlap an eval set.

Evaluation integrity requires that no training document contains a long
verbatim span from a benchmark. The standard check is n-gram collision
(13-grams in GPT-3's report; n is a knob): a training doc sharing any
word-n-gram with any eval doc is contaminated.

Scale shape: both sides explode to DISTINCT n-gram hashes (xxhash64 of the
joined shingle — 8 bytes per gram, never the text), the join is an
equi-join on the hash, and the verdict per training doc is a semi-join.
Shuffle volume is bounded by distinct-gram counts; the eval side (thousands
of docs) is tiny next to the training corpus and broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_cloud_spark.functions.text import ngram_shingles
from vectordb_cloud_spark.operators.dedup import _minhash


def _gram_hashes(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    normalized = F.lower(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(ngram_shingles(normalized, n))).alias("__g"),
    ).select("id", F.xxhash64("__g").alias("gram"))


def find_contaminated(
    train: DataFrame,
    eval_set: DataFrame,
    n: int = 13,
    train_id: str = "doc_id",
    train_text: str = "text",
    eval_id: str = "doc_id",
    eval_text: str = "text",
) -> DataFrame:
    """Training docs sharing >= 1 word-``n``-gram with any eval doc.

    Returns (train doc id, n_hits, eval_ids) — the audit record naming which
    benchmarks each contaminated doc collides with. Case-insensitive,
    whitespace-tokenized, matching the usual published methodology.
    """
    tg = _gram_hashes(train, train_id, train_text, n)
    eg = _gram_hashes(eval_set, eval_id, eval_text, n).withColumnRenamed("id", "eval_id")
    hits = tg.join(F.broadcast(eg), "gram")
    return (
        hits.groupBy("id")
        .agg(
            F.count("*").alias("n_hits"),
            F.array_sort(F.collect_set("eval_id")).alias("eval_ids"),
        )
        .withColumnRenamed("id", train_id)
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    n: int = 13,
    train_id: str = "doc_id",
    train_text: str = "text",
    eval_id: str = "doc_id",
    eval_text: str = "text",
) -> DataFrame:
    """The clean corpus: training docs minus every contaminated one
    (anti-join against the contamination audit)."""
    bad = find_contaminated(
        train, eval_set, n, train_id, train_text, eval_id, eval_text
    ).select(train_id)
    return train.join(bad, on=train_id, how="left_anti")


def find_contaminated_fuzzy(
    train: DataFrame,
    eval_set: DataFrame,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    train_id: str = "doc_id",
    train_text: str = "text",
    eval_id: str = "doc_id",
    eval_text: str = "text",
) -> DataFrame:
    """Fuzzy decontamination: training docs NEAR-duplicating an eval doc.

    Exact n-gram collision misses paraphrased or lightly-edited benchmark
    leakage (reworded questions, reformatted answers, shuffled fields); the
    published mitigation is document-level fuzzy matching — MinHash-LSH at
    a Jaccard threshold — alongside the verbatim check. This is the
    cross-dataset form of ``dedup.minhash_lsh_pairs``: both sides get
    shingle->signature->band buckets, candidates come from the band
    equi-JOIN (train x eval on bucket — never a cross product; the eval
    side is small and broadcasts), and exact Jaccard over the shingle sets
    verifies. Shuffle volume is bounded by bucket occupancy, the same 100 TB
    shape as the near-dup dedup family.

    Returns (train doc id, eval_id, jaccard) — one row per contaminated
    (train, eval) pair above the threshold.
    """
    def _prep(docs, idc, textc, side):
        shingles = docs.select(
            F.col(idc).alias(f"{side}_id"),
            F.array_distinct(
                ngram_shingles(F.lower(F.col(textc)), shingle_n)
            ).alias(f"{side}_sh"),
        ).filter(F.size(f"{side}_sh") > 0)
        # shingle-less docs (shorter than one n-gram) are dropped up front:
        # their all-null signatures would band on hash(empty string), lumping
        # every short train doc with every short eval doc — candidates the
        # jaccard verify (0/0 -> null) filters anyway, but the band join
        # would inflate to short_train x short_eval pairs first (ADVICE r6)
        # signatures derive from the SAME shingle arrays the verify stage
        # uses (one tokenize+shingle pass per side, not two — the multi-TB
        # train scan is the dominant cost)
        sigs, keys = _minhash(shingles, f"{side}_sh", num_hashes, bands)
        banded = sigs.select(f"{side}_id", F.posexplode(keys).alias("band", "bucket"))
        return shingles, banded

    t_sh, t_banded = _prep(train, train_id, train_text, "t")
    e_sh, e_banded = _prep(eval_set, eval_id, eval_text, "e")
    cand = (
        t_banded.join(F.broadcast(e_banded), ["band", "bucket"])
        .select("t_id", "e_id")
        .dropDuplicates(["t_id", "e_id"])
    )
    jac = (
        F.size(F.array_intersect(F.col("t_sh"), F.col("e_sh")))
        / F.size(F.array_union(F.col("t_sh"), F.col("e_sh")))
    )
    return (
        cand.join(t_sh, "t_id")
        .join(F.broadcast(e_sh), "e_id")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("t_id").alias(train_id),
                F.col("e_id").alias("eval_id"), "jaccard")
    )


def decontaminate_fuzzy(
    train: DataFrame,
    eval_set: DataFrame,
    jaccard_threshold: float = 0.5,
    n: int = 13,
    train_id: str = "doc_id",
    train_text: str = "text",
    eval_id: str = "doc_id",
    eval_text: str = "text",
    **fuzzy_kwargs,
) -> DataFrame:
    """Belt and braces: drop training docs failing EITHER the verbatim
    n-gram check OR the fuzzy MinHash check — the combination published
    pipelines run (exact spans catch quotes; fuzzy catches paraphrase)."""
    exact_bad = find_contaminated(
        train, eval_set, n, train_id, train_text, eval_id, eval_text
    ).select(train_id)
    fuzzy_bad = find_contaminated_fuzzy(
        train, eval_set, jaccard_threshold,
        train_id=train_id, train_text=train_text,
        eval_id=eval_id, eval_text=eval_text, **fuzzy_kwargs,
    ).select(train_id).distinct()
    bad = exact_bad.unionByName(fuzzy_bad).distinct()
    return train.join(bad, on=train_id, how="left_anti")
