"""Deduplication operators for large-scale corpus pipelines.

Not reference ports (the reference's only dedup is content-addressed uuid3
ids, /root/reference/test_qdrant.py:55) — these are the north-star
training-data ops (BASELINE.json). All candidate generation is blocked
(band-bucket / fingerprint equi-joins) so the shuffle key is the block, never
an O(n²) cross product: at 100 TB the only all-pairs work happens inside
buckets whose expected size is constant.

Every banded near-dup join — MinHash, SimHash, embedding LSH here and the
L2 LSH self-join in ``ann.lsh_self_join_pairs`` — is one call of
``blocked_self_pairs``: the caller supplies the (id, band, bucket) rows, the
per-id side columns and the verify step; the primitive owns the candidate
join, the join-backs and the one materialisation decision.

- exact_dedup          — md5(normalized text) group-by
- blocked_self_pairs   — banded candidate self-join -> verify (shared primitive)
- minhash_signatures   — word-shingle MinHash via per-seed xxhash64 (JVM-side)
- minhash_lsh_pairs    — banded LSH candidate pairs + exact Jaccard verify
- simhash64            — 64-bit SimHash; near-dup = small hamming distance
- ngram_jaccard_pairs  — exact n-gram Jaccard within explicit blocks
- embedding_near_dup   — cosine-threshold pairs over an embedding column
- embedding_near_dup_lsh — same, blocked by LSH buckets (the scale default)
- dup_components       — pairs -> connected-component groups (driver
                         union-find; hash-min past the driver cap)
- dedup_keep_canonical — docs minus non-canonical near-dup group members
- line_dedup_corpus    — cross-doc repeated LINES dropped (C4 boilerplate)
- span_dedup_corpus    — exact-substring spans >= window tokens cut from
                         every non-canonical occurrence (suffix-array family)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from vectordb_cloud_spark.functions.text import doc_fingerprint, ngram_shingles
from vectordb_cloud_spark.session import parallelize_narrow


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: fingerprint -> group-by -> keep min id as the
    canonical representative. One shuffle on the fingerprint; map-side
    partial agg makes the shuffle proportional to distinct fingerprints."""
    fp = docs.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.array_sort(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_keep_first(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Dedup'd corpus: keep the lowest-id row per exact fingerprint.

    One aggregate: ``min_by(<column>, id)`` per column and fingerprint
    carries the winning row through the fingerprint shuffle, so no join
    back to the input re-reads it. One aggregate per column, not one
    ``min_by`` over a struct of the row, so the columns a consumer drops
    are pruned from the aggregate and from the scan beneath it. Every
    ``min_by`` sees the rows in one order and keeps the first at the
    minimum id, so all columns come from one row. Column names, order and
    types are the input's. ``min_by`` skips null ids, so rows with a null
    id never win (a fingerprint whose ids are all null keeps nothing);
    one row per fingerprint, so two rows tied at the minimum id keep one
    of them."""
    return (
        docs.groupBy(doc_fingerprint(text_col).alias("__fp"))
        .agg(*[F.min_by(c, id_col).alias(c) for c in docs.columns])
        .filter(F.col(id_col).isNotNull())
        .drop("__fp")
    )


def blocked_self_pairs(banded: DataFrame, side: DataFrame, verify) -> DataFrame:
    """The blocked near-dup self-join every banded generator shares.

    ``banded`` holds ``(id, band, bucket)`` rows, ``side`` holds
    ``(id, *cols)``. Ids sharing a (band, bucket) become candidates through
    one equi-join carrying ``l.id < r.id`` (no mirror or self pairs, and the
    shuffle moves skinny rows only); duplicate candidates from several shared
    bands collapse; ``side`` is joined back twice as ``<col>_a`` /
    ``<col>_b``; ``verify`` maps that frame to the output pairs.

    Materialisation: ``side`` (read by the band source and both join-backs)
    and ``banded`` (both sides of the self-join) are cached for the duration
    of this call only. The verified pairs — the only result, and small next
    to the corpus — come back through ``localCheckpoint(eager=True)``, after
    which both pins are released, so nothing corpus-sized outlives the call.
    """
    side = side.cache()
    banded = banded.cache()
    try:
        l, r = banded.alias("l"), banded.alias("r")
        pairs = (
            l.join(r, (F.col("l.band") == F.col("r.band"))
                   & (F.col("l.bucket") == F.col("r.bucket"))
                   & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        cols = [c for c in side.columns if c != "id"]
        for s in ("a", "b"):
            pairs = pairs.join(side.select(
                F.col("id").alias(f"id_{s}"),
                *[F.col(c).alias(f"{c}_{s}") for c in cols],
            ), f"id_{s}")
        return verify(pairs).localCheckpoint(eager=True)
    finally:
        # dependents first, so releasing ``side`` has nothing to re-plan
        banded.unpersist()
        side.unpersist()


# Affine MinHash permutations for hash_fn='md5_60': h_i(s) = (a_i * m(s) +
# b_i) mod P with m(s) the top 32 bits of md5(s). Seeded so Spark and the
# DuckDB oracle inline the SAME constants. a_i < 2^27 keeps a*m + b < 2^63
# (no overflow in either engine's BIGINT).
MINHASH_P = (1 << 61) - 1  # Mersenne prime

def minhash_affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 27), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def _minhash(df: DataFrame, shingles: str, num_hashes: int, bands: int = 1,
             hash_fn: str = "xxhash64") -> tuple[DataFrame, Column]:
    """``df`` plus a ``signature`` column — ``num_hashes`` MinHash values
    over the distinct-shingle array column ``shingles`` — and the column of
    its ``bands`` band keys (one per band of ``num_hashes // bands`` rows).

    ``hash_fn='xxhash64'``: hash_i(s) = xxhash64(s, i), band key =
    xxhash64 of the band's joined values. ``hash_fn='md5_60'``: affine
    permutations over a 32-bit md5 prefix (minhash_affine_params) and the
    band's joined value string as its own key — every step has a DuckDB
    twin. Both are one shingle-hash pass + cheap arithmetic, JVM-side; the
    keys are returned as a column (not added to ``df``) so the band explode
    reads the signature instead of re-deriving it per band."""
    rows_per_band = num_hashes // bands
    if hash_fn == "xxhash64":
        sig_col = F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(F.transform(F.col(shingles), lambda s: F.xxhash64(s, i))),
        )
        bucket_of = F.xxhash64
    elif hash_fn == "md5_60":
        # hash each shingle ONCE (m), then num_hashes cheap affine maps
        df = df.withColumn("__m", F.transform(
            F.col(shingles),
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        ))
        # one parsed SQL expression for the whole signature (r14): the
        # Column-builder form marshalled a transform+lambda chain per
        # permutation through py4j (~1.1s of driver-side plan construction
        # at 32 hashes). Identical tree after parsing: a < 2^27 and m is a
        # 32-bit value, so m*a + b < 2^63 — no overflow either way.
        sig_col = F.expr("array(" + ",".join(
            f"array_min(transform(__m, m -> (m * {a}L + {b}L) % {MINHASH_P}L))"
            for a, b in minhash_affine_params(num_hashes)) + ")")
        bucket_of = lambda joined: joined  # noqa: E731  (string key, no re-hash)
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: bucket_of(F.concat_ws(",", F.transform(
            F.slice("signature", b * rows_per_band + 1, rows_per_band),
            lambda v: v.cast("string"),
        ))),
    )
    return df.withColumn("signature", sig_col), keys


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per document, entirely JVM-side.

    hash_i(shingle) = xxhash64(shingle, i); signature[i] = min over the
    document's distinct shingles. The whole signature is one ``transform``
    over a literal seed sequence — no shuffle, no UDF, scan-speed at scale.
    """
    shingled = docs.select(
        F.col(id_col), F.array_distinct(ngram_shingles(text_col, shingle_n)).alias("__sh")
    )
    sig, _ = _minhash(shingled, "__sh", num_hashes)
    return sig.select(F.col(id_col), "signature")


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH with exact-Jaccard verify.

    shingle -> minhash -> split signature into ``bands`` bands -> bucket =
    hash(band values) -> blocked_self_pairs on (band, bucket) -> exact
    Jaccard on the shingle sets -> threshold.

    The self-join shuffles on the bucket key only; candidates are verified
    with ``array_intersect`` — no cross product anywhere.

    ``hash_fn='xxhash64'`` (default) is the fastest production path;
    ``hash_fn='md5_60'`` has a DuckDB twin for every step (see _minhash), so
    the registry query is fully oracle-checkable."""
    side = parallelize_narrow(docs).select(
        F.col(id_col).alias("id"),
        F.array_distinct(ngram_shingles(text_col, shingle_n)).alias("sh"),
    )
    sig, keys = _minhash(side, "sh", num_hashes, bands, hash_fn)
    # (id, band, bucket) only — the band join and candidate dedup shuffle
    # skinny rows, never the shingle arrays
    banded = sig.select("id", F.posexplode(keys).alias("band", "bucket"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
    return blocked_self_pairs(banded, side, lambda pairs: (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    ))


def _shingle_hash(col, hash_fn: str):
    """Hash a shingle string to a long. ``xxhash64``: Spark-native, fastest
    (production default). ``md5_60``: top 60 bits of md5 via conv() — still
    JVM codegen, and DuckDB can compute the identical value
    (('0x' || substr(md5(s), 1, 15))::BIGINT), which is what makes the
    SimHash/MinHash registry queries fully oracle-checkable."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col), 64
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"), 60
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
              shingle_n: int = 2, hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document, as pure column expressions (60-bit under
    ``hash_fn='md5_60'`` — see _shingle_hash).

    Each shingle hashes to 64 bits; per bit position the document sums
    (+1/-1); the sign vector packs back into one signed 64-bit long. Hamming
    distance between simhashes approximates cosine distance between the
    shingle sets. No shuffle — computed in the scan stage.
    """
    # explode shingle hashes to rows, then 64 bit-vote sums as one grouped
    # aggregate: partial (map-side) aggregation reduces each doc to 64 longs
    # before the shuffle, and the flat sums stay inside whole-stage codegen —
    # measured ~2.6x faster than per-row array aggregates, bit-identical.
    # ngram_shingles never returns an empty array, so no docs are dropped.
    h, n_bits = _shingle_hash(F.col("__s"), hash_fn)
    hashes = parallelize_narrow(docs).select(
        F.col(id_col), F.explode(ngram_shingles(text_col, shingle_n)).alias("__s")
    ).select(F.col(id_col), h.alias("__h"))
    # bit-vote sums and the sign-pack as parsed SQL (r14): the Column
    # builders cost ~6 py4j round trips per bit × 64 bits of pure driver
    # time; the parsed expressions produce the identical aggregate tree
    votes = hashes.groupBy(id_col).agg(*[
        F.expr(f"sum(CASE WHEN (__h & shiftleft(1L, {i})) != 0 "
               "THEN 1 ELSE -1 END)").alias(f"__v{i}")
        for i in range(n_bits)
    ])
    packed = F.expr(" | ".join(
        f"(CASE WHEN __v{i} > 0 THEN shiftleft(1L, {i}) ELSE 0L END)"
        for i in range(n_bits)
    ))
    return votes.select(F.col(id_col), packed.alias("simhash"))


def hamming64(a, b) -> F.Column:
    """Popcount of XOR via bit_count (Spark 3.3+)."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)) if isinstance(a, str) else a.bitwiseXOR(b))


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3,
                           id_col: str = "doc_id", text_col: str = "text",
                           hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash near-dup pairs with a pigeonhole recall guarantee: the 64-bit
    simhash is split into ``max_hamming + 1`` bands, so any pair within
    hamming distance <= max_hamming differs in at most max_hamming bands and
    therefore shares at least one band unchanged — the (band_idx, band_value)
    equi-join is guaranteed to generate every qualifying candidate, and the
    exact hamming verify filters false positives. Larger max_hamming means
    more/narrower bands (more candidates); distance > max_hamming pairs may
    still surface via a shared band but are dropped by the verify.

    Because recall is guaranteed and precision exact, the OUTPUT equals the
    brute-force pair set {(a, b): hamming(simhash a, simhash b) <= max} for
    whatever ``hash_fn`` computes the simhash — under ``md5_60`` a DuckDB
    oracle can re-derive it end to end (queries.py simhash_near_dup_pairs)."""
    bands = max_hamming + 1
    _, n_bits = _shingle_hash(F.lit(""), hash_fn)
    if not 1 <= bands <= n_bits:
        raise ValueError(f"max_hamming must be in [0, {n_bits - 1}]")
    # band i covers bits [n*i//bands, n*(i+1)//bands) — widths differ by
    # at most one bit when n_bits % bands != 0; coverage is exact either way
    bounds = [n_bits * i // bands for i in range(bands + 1)]
    side = simhash64(docs, id_col, text_col, hash_fn=hash_fn).select(
        F.col(id_col).alias("id"), F.col("simhash").alias("sh"))
    band_vals = [
        F.col("sh") if hi - lo == 64  # single-band: mask would overflow long
        else F.shiftright(F.col("sh"), lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1))
        for lo, hi in zip(bounds, bounds[1:])
    ]
    banded = side.select("id", F.posexplode(F.array(*band_vals)).alias("band", "bucket"))
    return blocked_self_pairs(banded, side, lambda pairs: (
        pairs.withColumn("hamming", hamming64("sh_a", "sh_b"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    ))


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    shingle_n: int = 3,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs within a block
    (e.g. same lang/source). The equi-join on the block key keeps the pair
    space bounded; SQL-expressible, so it has a DuckDB oracle."""
    base = parallelize_narrow(docs).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.array_distinct(ngram_shingles(text_col, shingle_n)).alias("sh"),
    )
    l, r = base.alias("l"), base.alias("r")
    pairs = l.join(r, (F.col("l.block") == F.col("r.block")) & (F.col("l.id") < F.col("r.id")))
    inter = F.size(F.array_intersect("l.sh", "r.sh"))
    jac = inter / (F.size("l.sh") + F.size("r.sh") - inter).cast("double")
    # raw-value threshold (oracle parity); round only for output
    return (
        pairs.select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"), jac.alias("__j")
        )
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
    )


# Pair graphs up to this many edges resolve on the driver (one bounded
# collect, union-find); larger ones run the distributed label propagation.
_DRIVER_EDGES = 1 << 18


def dup_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 20) -> DataFrame:
    """Connected components over near-duplicate PAIRS — the step that turns
    pairwise similarity into dedup GROUPS (a~b and b~c must collapse to one
    keep-decision even when a~c was never emitted as a pair).

    Returns (id, comp): every vertex of a pair, with comp = the min id of
    its component.

    A graph of at most ``_DRIVER_EDGES`` pairs — the usual case: near-dup
    pairs are few next to the corpus — is resolved on the driver: one
    bounded collect (one job over checkpointed pairs, which every banded
    generator returns), union-find keeping each component's smallest id as
    its root, and the answer comes back as a local relation with the
    pairs' id type.

    Larger graphs run hash-min label propagation: every vertex starts
    labeled with its own id; each round takes the min of its label and its
    neighbors' labels; converges to the component's min id in O(graph
    diameter) rounds — near-dup graphs are shallow (stars/chains around a
    canonical doc), so a handful of rounds suffice at any data size. Each
    round is one equi-join + groupBy on vertex ids (shuffle ∝ |edges|,
    never all-pairs); ``localCheckpoint`` truncates the iterative lineage
    so plans stay flat.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # coalesce(1): the bounded collect reads every partition in ONE job
    # (a plain limit scans one partition first, then the rest)
    head = edges.coalesce(1).limit(_DRIVER_EDGES + 1).collect()
    if len(head) <= _DRIVER_EDGES:
        return _components_on_driver(pairs.sparkSession, head,
                                     edges.schema["src"].dataType)
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("comp").alias("dcomp")), "dst"
            )
            .groupBy("src")
            .agg(F.min("dcomp").alias("ncomp"))
        )
        new_labels = (
            labels.join(neighbor_min.withColumnRenamed("src", "id"), "id", "left")
            .select("id", F.least("comp", F.coalesce("ncomp", "comp")).alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausting max_iter without converging would silently SPLIT
        # components (under-deduplication) — fail loudly instead
        raise RuntimeError(
            f"dup_components did not converge in {max_iter} iterations — the "
            "pair graph has a longer chain than expected; raise max_iter"
        )
    return labels


def _components_on_driver(spark, edges: list, id_type) -> DataFrame:
    """``dup_components`` over collected ``(src, dst)`` rows: union-find
    with the smaller root winning, so every root is its component's min
    id. Null ids follow the label propagation: a null endpoint links
    nothing, and the null vertex is one ``(null, null)`` row."""
    from pyspark.sql.types import StructField, StructType

    from vectordb_cloud_spark.session import local_df

    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    has_null = False
    for a, b in edges:
        if a is None or b is None:
            has_null = True
            for v in (a, b):
                if v is not None:
                    find(v)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(v, find(v)) for v in parent]
    if has_null:
        rows.append((None, None))
    schema = StructType([StructField("id", id_type), StructField("comp", id_type)])
    return local_df(spark, rows, schema)


def dedup_keep_canonical(docs: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Deduplicated corpus from near-dup pairs: resolve pairs to components,
    keep only each component's canonical (min-id) member plus every document
    that appears in no pair. One broadcast-size anti-join against the
    non-canonical ids (components are tiny relative to the corpus)."""
    comp = dup_components(pairs)
    losers = comp.filter(F.col("id") != F.col("comp")).select(F.col("id").alias(id_col))
    return docs.join(losers, on=id_col, how="left_anti")


def embedding_near_dup_lsh(
    vectors: DataFrame,
    threshold: float = 0.9,
    bucket_length: float = 2.0,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model=None,
    projections_per_table: int = 1,
) -> DataFrame:
    """Embedding near-dup pairs blocked by LSH buckets — the 100 TB-safe
    blocking key (VERDICT round 1: blocking on a low-cardinality label is
    n²/|labels| within blocks; an LSH bucket's expected occupancy is constant
    in n, so the candidate pair space stays linear).

    Plan: fit ``BucketedRandomProjectionLSH`` (L2 ≈ angular blocking once
    vectors share scale) -> explode each row to (table_idx, bucket) ->
    blocked_self_pairs on the skinny (table, bucket) rows -> exact cosine
    verify on the joined-back vectors. Recall is governed by num_tables (any
    single-table collision produces the candidate); verify keeps precision
    exact.

    ``model``: a pre-fitted ``BucketedRandomProjectionLSHModel`` to reuse —
    the fit only draws seeded random hyperplanes (it is data-independent),
    so callers may legitimately fit once per (dim, params) and share it.
    """
    from vectordb_cloud_spark.functions.vector import dot_product, l2_norm
    from vectordb_cloud_spark.operators.ann import (
        lsh_bucket_columns,
        lsh_fit,
        lsh_planes,
    )

    # the double-cast vector and its norm once per row, not per pair
    side = parallelize_narrow(vectors).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        l2_norm(F.col(vec_col)).alias("norm"),
    )
    if model is None:
        model, _ = lsh_fit(
            vectors, vector_col=vec_col, bucket_length=bucket_length,
            num_hash_tables=num_tables * projections_per_table,
        )
    # hash with the model's planes as literal expressions (one codegen scan,
    # no MLlib transform / caching); bucket math is MLlib-identical —
    # floor(dot/L) in element order; projections_per_table > 1 AND-composes
    # planes into compound buckets (ann.lsh_bucket_columns)
    buckets = lsh_bucket_columns(
        "vec", lsh_planes(model), float(model.getBucketLength()),
        projections_per_table,
    )
    banded = side.select("id", F.posexplode(F.array(*buckets)).alias("band", "bucket"))
    cos = dot_product(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b"))
    return blocked_self_pairs(banded, side, lambda pairs: (
        pairs.withColumn("__cos_raw", cos)
        .filter(F.col("__cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("__cos_raw", 6).alias("cosine"))
    ))


def embedding_near_dup(
    vectors: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine-similarity near-duplicate pairs over an embedding column.

    With ``block_col`` the join is an equi-join on the block (LSH bucket,
    label, IVF centroid id...); without, it falls back to a broadcast cross
    join — only acceptable for small/filtered inputs.
    """
    from vectordb_cloud_spark.functions.vector import dot_product, l2_norm

    # Precompute the double-cast vector and its norm ONCE per row (not per
    # pair): each pair then costs a single dot-product fold. The norm value
    # is bit-identical to an inline recomputation, so results still match a
    # per-pair oracle formulation exactly.
    base = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        l2_norm(F.col(vec_col)).alias("norm"),
        *([F.col(block_col).alias("block")] if block_col else []),
    )
    l, r = base.alias("l"), base.alias("r")
    cond = F.col("l.id") < F.col("r.id")
    if block_col:
        # block equi-join: shuffles on the block key only (AQE handles skewed
        # blocks); correct default for cluster scale
        cond = (F.col("l.block") == F.col("r.block")) & cond
        pairs = l.join(r, cond)
    else:
        pairs = l.join(F.broadcast(r), cond)
    cos = dot_product(F.col("l.vec"), F.col("r.vec")) / (F.col("l.norm") * F.col("r.norm"))
    # threshold on the RAW value (matches the SQL oracle), round only for output
    return (
        pairs.select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            cos.alias("__cos_raw"),
        )
        .filter(F.col("__cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("__cos_raw", 6).alias("cosine"))
    )


def line_dedup_corpus(
    docs: DataFrame,
    min_repeats: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 10,
) -> DataFrame:
    """Line-level boilerplate removal — the C4/RefinedWeb curation step the
    document-level dedup family can't express: a LINE that repeats across
    ``min_repeats``+ distinct documents (nav bars, cookie banners, license
    footers) is dropped from every document; the documents themselves
    survive with the surviving lines re-joined in original order.

    Plan shape (all JVM, two shuffles, both on skinny rows):
      1. ``posexplode(split(text, '\\n'))`` → (doc, pos, line) rows.
      2. boilerplate = group by ``xxhash64(line)`` (the 64-bit key keeps
         the shuffle narrow; full text never moves twice), count DISTINCT
         docs, keep hashes with count >= min_repeats — at corpus scale
         this aggregate is the whole cost, and it's a partial-agg
         (map-side combine) shuffle of (hash, doc) pairs.
      3. left-anti join lines against the (broadcastable, boilerplate-only)
         hash set, then ``sort_array(collect_list(struct(pos, line)))`` per
         doc to rebuild text in order.

    Lines shorter than ``min_line_chars`` are exempt (short lines — "",
    "---", headings — repeat naturally and carry no boilerplate signal;
    same motivation as C4's three-sentence rule). Documents whose every
    line was boilerplate come back with empty text rather than vanishing,
    so downstream joins keep their row count.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    eligible = lines.filter(F.length("line") >= min_line_chars)
    boilerplate = (
        eligible.groupBy(F.xxhash64("line").alias("line_hash"))
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_repeats)
        .select("line_hash")
    )
    kept = lines.join(
        F.broadcast(boilerplate),
        (F.xxhash64("line") == F.col("line_hash"))
        & (F.length("line") >= min_line_chars),
        "left_anti",
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s.getField("line"),
                ),
                "\n",
            ).alias(text_col)
        )
    )
    # every-line-boilerplate docs: restore with empty text
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .fillna({text_col: ""})
    )


def span_dedup_corpus(
    docs: DataFrame,
    window: int = 50,
    stride: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring (span-level) deduplication — the suffix-array family
    from "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022), re-expressed for Spark: any token span of length >= ``window``
    that occurs more than once in the corpus is removed from every
    occurrence EXCEPT the first (min ``(doc_id, start)``); documents survive
    with the duplicated spans cut out. This catches the partial-overlap
    duplication (shared paragraphs, quoted passages, templated sections)
    that document-level exact/MinHash dedup can't touch without dropping
    whole documents.

    Not a literal suffix array (a distributed suffix array shuffles the
    corpus O(n log n) times); the fixed-window-hash formulation gives the
    same guarantee at granularity ``window``: with ``stride=1`` EVERY
    repeated span of length >= window shares all its window hashes, so
    detection is exact. Plan shape (all JVM, two skinny shuffles):

      1. per doc: window start positions -> ``xxhash64`` of the
         ``window``-token slice -> (doc, start, whash) rows. Hashing cost is
         O(tokens x window) chars, map-side.
      2. group by whash: occurrence count + the canonical (min struct)
         occurrence; hashes with count >= 2 flag every NON-canonical
         occurrence. One shuffle of (whash, doc, start) rows.
      3. per doc: sorted flagged starts -> merged [lo, hi) intervals (one
         ``aggregate`` fold, intervals ~= number of duplicated regions, not
         windows) -> index-aware ``filter`` drops covered tokens, text is
         re-joined. One shuffle of (doc, start) rows.

    ``stride > 1`` samples window starts CONTENT-DEFINED (keep start ``p``
    iff ``xxhash64(token[p]) % stride == 0``) rather than positionally —
    both copies of a repeated span select the same in-span anchors, so
    cross-doc detection still works at arbitrary offsets (a positional
    stride would only match phase-aligned copies); expected hashing cost
    drops by ``stride`` and detection stays deterministic per content,
    though spans shorter than ``window`` + the local anchor gap can slip
    through — the standard winnowing trade. Removal granularity stays the
    flagged windows, so with stride > 1 a removed region's edges may keep
    up to an anchor gap of duplicated tokens.

    Documents shorter than ``window`` tokens and documents with no flagged
    span pass through byte-identical; only rewritten documents get their
    whitespace normalized (tokens re-joined with single spaces) — the same
    contract as token-level pipelines.
    """
    from vectordb_cloud_spark.functions.text import words

    if window < 2:
        raise ValueError("window must be >= 2 tokens")
    if stride < 1:
        raise ValueError("stride must be >= 1")

    tox = words(F.col(text_col))
    t = docs.withColumn("__toks", tox)
    eligible = parallelize_narrow(t.filter(F.size("__toks") >= window))
    all_starts = F.sequence(F.lit(0), F.size("__toks") - window)
    if stride > 1:
        starts_expr = F.filter(
            all_starts,
            lambda p: F.pmod(
                F.xxhash64(F.element_at("__toks", p + 1)), F.lit(stride)
            ) == 0,
        )
    else:
        starts_expr = all_starts
    occ = (
        eligible.select(
            F.col(id_col),
            F.explode(starts_expr).alias("start"),
            F.col("__toks"),
        )
        # \x01 joiner: a byte that whitespace tokenization can never emit,
        # so window hashes respect token boundaries
        .select(
            id_col,
            "start",
            F.xxhash64(
                F.concat_ws("\x01", F.slice("__toks", F.col("start") + 1, window))
            ).alias("whash"),
        )
    )
    # r14 (guide §2.4): flag non-canonical occurrences with WINDOW functions
    # over whash instead of aggregate-then-join-back — the join formulation
    # re-ran the tokenize→window-hash map pass for BOTH the aggregate side
    # and the probe side. r15: ONE running row_number over (doc, start)
    # instead of two full-partition aggregates (count + min-struct): rn > 1
    # is exactly "count >= 2 and not the min-(doc,start) occurrence" — the
    # oracle's own formulation — on the same single whash exchange, without
    # buffering each hash group twice for unbounded-frame aggregates.
    from pyspark.sql import Window

    wrn = Window.partitionBy("whash").orderBy(id_col, "start")
    flagged = (
        occ.withColumn("__rn", F.row_number().over(wrn))
        .filter(F.col("__rn") > 1)
        .select(id_col, "start")
    )
    # collect_list, not collect_set: each (doc, start) emits exactly one
    # window hash, so flagged rows are already distinct pairs
    spans = flagged.groupBy(id_col).agg(
        F.sort_array(F.collect_list("start")).alias("__starts")
    )

    empty_ivs = F.array().cast("array<struct<lo:int,hi:int>>")
    merged = F.aggregate(
        F.col("__starts"),
        empty_ivs,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["hi"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["lo"].alias("lo"),
                    F.greatest(F.element_at(acc, -1)["hi"], s + window).alias("hi"),
                )),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(s.alias("lo"), (s + window).alias("hi"))))
        ),
    )
    # r15: the rebuild side joins the RAW docs and re-tokenizes inside the
    # otherwise-branch only — If codegen is branch-lazy per row, so the
    # (usually few) flagged docs pay a second tokenize and every other doc
    # pays none; the old form computed __toks for the whole corpus a second
    # time on the join's left side and carried the token arrays through it.
    kept_toks = F.filter(
        tox,
        lambda tok, i: ~F.exists(
            F.col("__ivs"), lambda iv: (i >= iv["lo"]) & (i < iv["hi"])
        ),
    )
    return (
        docs.join(spans, id_col, "left")
        .withColumn("__ivs", merged)
        .withColumn(
            text_col,
            F.when(F.col("__starts").isNull(), F.col(text_col))
            .otherwise(F.array_join(kept_toks, " ")),
        )
        .drop("__starts", "__ivs")
    )
