"""Dedup operators: constructed duplicates must be found; clean rows must not."""

import pytest
from pyspark.sql import functions as F

from vectordb_cloud_spark.operators.dedup import (
    dedup_keep_first,
    embedding_near_dup,
    embedding_near_dup_lsh,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup_pairs,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "THE  quick Brown fox jumps over the lazy dog and runs away fast"),  # case/ws dup of 1
        (3, "the quick brown fox jumps over the lazy dog and runs away slowly"),  # near-dup of 1
        (4, "completely different content about spark dataframe execution plans"),
        (5, "completely different content about spark dataframe execution plans"),  # exact dup of 4
        (6, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(corpus):
    groups = exact_dedup(corpus).collect()
    members = sorted(tuple(g["member_ids"]) for g in groups)
    assert members == [(1, 2), (4, 5)]  # normalization folds case/whitespace


def test_dedup_keep_first(corpus):
    kept = {r["doc_id"] for r in dedup_keep_first(corpus).collect()}
    assert kept == {1, 3, 4, 6}


def test_minhash_lsh_finds_near_dup(corpus):
    pairs = minhash_lsh_pairs(corpus, num_hashes=32, bands=16, shingle_n=2,
                              jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 3) in got or (1, 2) in got  # near-dups collide in some band
    assert (4, 5) in got  # exact dups always collide
    assert all(a != 6 and b != 6 for a, b in got)  # clean doc never pairs


def test_ngram_jaccard_identical_is_one(corpus):
    blocked = corpus.withColumn("block", F.lit("all"))
    pairs = ngram_jaccard_pairs(blocked, "block", shingle_n=2, threshold=0.99)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.get((4, 5)) == 1.0


def test_simhash_identical_zero_hamming(corpus):
    sh = {r["doc_id"]: r["simhash"] for r in simhash64(corpus).collect()}
    assert sh[4] == sh[5]
    assert sh[1] != sh[4]


def test_simhash_near_dup_pairs(corpus):
    pairs = simhash_near_dup_pairs(corpus, max_hamming=16)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((4, 5)) == 0


def test_simhash_banding_pigeonhole_guarantee(spark, documents):
    """Every pair within max_hamming MUST be found (bands = max_hamming + 1
    pigeonhole) — compare against a brute-force all-pairs hamming scan."""
    docs = documents.limit(60).select("doc_id", "text")
    max_h = 3
    sh = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    ids = sorted(sh)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sh[a] ^ sh[b]).count("1") <= max_h
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(docs, max_hamming=max_h).collect()
    }
    assert got == expected  # no misses (guarantee) and no extras (verify)


def test_simhash_md5_variant_matches_python_reference(spark, documents):
    """hash_fn='md5_60' (the oracle-checkable primitive) must equal an
    independent Python re-derivation: md5 top-60-bit shingle hashes, +1/-1
    votes, sign pack — and the banded pair search must still equal brute
    force under the pigeonhole guarantee."""
    import hashlib

    docs = documents.limit(40).select("doc_id", "text")
    rows = docs.collect()

    def py_simhash(text, n=2):
        ws = (text or "").split()
        shingles = [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)] if len(ws) >= n \
            else [" ".join(ws)]
        votes = [0] * 60
        for s in shingles:
            h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            for i in range(60):
                votes[i] += 1 if (h >> i) & 1 else -1
        return sum((1 << i) for i, v in enumerate(votes) if v > 0)

    expected = {r["doc_id"]: py_simhash(r["text"]) for r in rows if r["text"] is not None}
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash64(docs, hash_fn="md5_60").collect()
    }
    assert {k: got[k] for k in expected} == expected
    max_h = 3
    brute = {
        (a, b)
        for i, a in enumerate(sorted(expected))
        for b in sorted(expected)[i + 1:]
        if bin(expected[a] ^ expected[b]).count("1") <= max_h
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(docs, max_hamming=max_h, hash_fn="md5_60").collect()
    }
    assert banded == brute


def test_minhash_md5_variant_same_shape_as_xxhash(corpus):
    """The md5_60 affine-permutation path must behave like the xxhash64
    path on the canonical corpus: exact dups always pair, the clean doc
    never does, and jaccard values (verify stage, hash-independent) agree
    exactly for shared pairs."""
    kwargs = dict(num_hashes=32, bands=16, shingle_n=2, jaccard_threshold=0.5)
    p_xx = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_pairs(corpus, **kwargs).collect()}
    p_md5 = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(corpus, hash_fn="md5_60", **kwargs).collect()}
    assert (4, 5) in p_md5  # exact dups collide under any permutation set
    assert all(a != 6 and b != 6 for a, b in p_md5)
    for pair in set(p_xx) & set(p_md5):
        assert p_xx[pair] == p_md5[pair]  # verify stage is hash-independent


def test_dup_components_transitive_closure(spark):
    """a~b, b~c must land in one component even though a~c was never a
    pair; disjoint pairs stay separate; chain forces >1 propagation round."""
    from vectordb_cloud_spark.operators.dedup import dup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),  # 5-chain: needs several rounds
         (10, 11),                        # separate pair
         (20, 22), (21, 22)],             # star via shared neighbor
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["comp"] for r in dup_components(pairs).collect()}
    assert {comp[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20


def test_dedup_keep_canonical_from_pairs(spark, corpus):
    """End-to-end dedup pipeline: near-dup pairs -> components -> corpus
    keeps one canonical doc per group + all unpaired docs."""
    from vectordb_cloud_spark.operators.dedup import dedup_keep_canonical

    pairs = minhash_lsh_pairs(corpus, num_hashes=32, bands=16, shingle_n=2,
                              jaccard_threshold=0.5)
    kept = {r["doc_id"] for r in dedup_keep_canonical(corpus, pairs).collect()}
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every pair loses its higher id; doc 6 (never paired) always survives
    assert 6 in kept
    for a, b in got_pairs:
        assert min(a, b) in kept or any(  # canonical may itself lose to a lower id
            min(a, b) > min(x, y) for x, y in got_pairs if {a, b} & {x, y}
        )
        assert b not in kept or all(b < x for x, y in got_pairs if y == b)
    assert (4, 5) in got_pairs and 5 not in kept and 4 in kept


def test_embedding_near_dup_lsh_subset_of_exact(spark, embeddings):
    """LSH-blocked pairs must be a subset of the exact all-pairs result with
    identical cosines (precision exact; recall governed by num_tables)."""
    emb = embeddings.limit(150)
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup(emb, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_lsh(emb, threshold=0.5, bucket_length=4.0,
                                        num_tables=6).collect()
    }
    assert set(lsh).issubset(set(exact))
    for k, v in lsh.items():
        assert v == exact[k]
    # with several hash tables the blocked join should recover most pairs
    if exact:
        assert len(lsh) / len(exact) >= 0.5


def test_embedding_near_dup_lsh_compound_buckets_recall_and_pruning(spark, embeddings):
    """Compound (AND g, OR b) buckets on a unit-norm corpus with planted
    near-dups: high recall on the planted pairs AND a candidate space that
    is a small fraction of n² — the property single-projection buckets lose
    on unit vectors (round-6 finding: bucket_length 2.0 collapsed the whole
    corpus into 2 buckets per table)."""
    from pyspark.sql import functions as F

    from vectordb_cloud_spark.operators.ann import (
        lsh_bucket_columns,
        lsh_fit,
        lsh_planes,
    )

    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # plant a perturbed copy of every 5th vector (deterministic jitter)
    pert = (
        emb.filter(F.col("vec_id") % 5 == 0)
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x + (F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(100))
                                  .cast("double") / 100.0 * 0.06 - 0.03),
            ).alias("embedding"),
        )
    )
    aug = emb.unionByName(pert)
    n = aug.count()
    planted = emb.filter(F.col("vec_id") % 5 == 0).count()

    bl, g, b = 0.075, 3, 6
    model, _ = lsh_fit(aug, bucket_length=bl, num_hash_tables=g * b)
    pairs = embedding_near_dup_lsh(
        aug, threshold=0.9, model=model, projections_per_table=g
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    hits = sum(1 for a, b2 in got if b2 == a + 100000)
    assert hits / planted >= 0.85  # recall on planted near-dups

    # candidate-space selectivity: distinct colliding pairs << n^2/2
    buckets = lsh_bucket_columns(
        "embedding", lsh_planes(model), bl, projections_per_table=g
    )
    banded = aug.select("vec_id", F.posexplode(F.array(*buckets)).alias("t", "bk"))
    l, r = banded.alias("l"), banded.alias("r")
    n_cand = (
        l.join(r, (F.col("l.t") == F.col("r.t")) & (F.col("l.bk") == F.col("r.bk"))
               & (F.col("l.vec_id") < F.col("r.vec_id")))
        .select("l.vec_id", "r.vec_id").distinct().count()
    )
    assert n_cand <= 0.15 * n * (n - 1) / 2, f"candidates {n_cand} vs n²/2"


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    from vectordb_cloud_spark.operators.dedup import line_dedup_corpus

    banner = "This site uses cookies to improve your experience"
    footer = "Copyright 2020 Example Corp All rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nunique alpha content line one\n{footer}"),
            (2, f"{banner}\nunique beta content line two\n{footer}"),
            (3, f"{banner}\nunique gamma content line three\n{footer}"),
            (4, "standalone document with its own words entirely"),
            (5, f"{banner}\n{footer}"),  # all boilerplate
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"]
           for r in line_dedup_corpus(docs, min_repeats=3).collect()}
    assert out[1] == "unique alpha content line one"
    assert out[2] == "unique beta content line two"
    assert out[3] == "unique gamma content line three"
    assert out[4] == "standalone document with its own words entirely"
    assert out[5] == ""            # survives as a row, text emptied
    assert len(out) == 5


def test_line_dedup_threshold_and_short_line_exemption(spark):
    from vectordb_cloud_spark.operators.dedup import line_dedup_corpus

    docs = spark.createDataFrame(
        [
            (1, "repeated exactly twice across documents\nkeep one"),
            (2, "repeated exactly twice across documents\nkeep two"),
            (3, "---\nshort sep stays\n---"),
            (4, "---\nanother with seps\n---"),
            (5, "---\nthird with seps\n---"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"]
           for r in line_dedup_corpus(docs, min_repeats=3).collect()}
    # 2 repeats < min_repeats=3: kept
    assert "repeated exactly twice" in out[1] and "keep one" in out[1]
    # "---" repeats 6x but is under min_line_chars: exempt
    assert out[3].count("---") == 2
    # order within a doc is preserved
    assert out[3].splitlines() == ["---", "short sep stays", "---"]


def test_line_dedup_matches_python_truth_on_fixture(documents):
    from vectordb_cloud_spark.operators.dedup import line_dedup_corpus

    rows = documents.limit(60).select("doc_id", "text").collect()
    import collections
    counts = collections.Counter()
    for r in rows:
        for ln in set(l for l in r["text"].split("\n") if len(l) >= 10):
            counts[ln] += 1
    boiler = {ln for ln, c in counts.items() if c >= 3}
    want = {
        r["doc_id"]: "\n".join(
            l for l in r["text"].split("\n")
            if len(l) < 10 or l not in boiler
        )
        for r in rows
    }
    sub = documents.limit(60).select("doc_id", "text")
    got = {r["doc_id"]: r["text"]
           for r in line_dedup_corpus(sub, min_repeats=3).collect()}
    assert got == want


# -- span-level exact-substring dedup (Lee et al. suffix-array family) ------

def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _uniq(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_span_dedup_removes_repeats_keeps_first(spark):
    from vectordb_cloud_spark.operators.dedup import span_dedup_corpus

    passage = " ".join(f"shared{i}" for i in range(60))
    docs = _mk_docs(spark, [
        (1, _uniq("a", 20) + " " + passage + " " + _uniq("b", 20), "en"),
        (2, _uniq("c", 30) + " " + passage, "en"),
        (3, passage + " " + _uniq("d", 15), "en"),
        (4, _uniq("e", 80), "en"),  # no dup, longer than window
        (5, "tiny doc", "en"),      # shorter than window
    ])
    out = {r["doc_id"]: r for r in
           span_dedup_corpus(docs, window=50).collect()}
    # canonical (doc 1) keeps the passage
    assert "shared0" in out[1]["text"] and "shared59" in out[1]["text"]
    # other occurrences lose EXACTLY the passage tokens
    for d, pads in ((2, ["c0", "c29"]), (3, ["d0", "d14"])):
        assert "shared0" not in out[d]["text"] and "shared59" not in out[d]["text"]
        for p in pads:
            assert p in out[d]["text"]
    assert len(out[2]["text"].split()) == 30
    assert len(out[3]["text"].split()) == 15
    # untouched docs pass through byte-identical (no whitespace rewrite)
    assert out[4]["text"] == _uniq("e", 80)
    assert out[5]["text"] == "tiny doc"
    assert out[4]["lang"] == "en"  # payload columns survive


def test_span_dedup_within_doc_repetition(spark):
    from vectordb_cloud_spark.operators.dedup import span_dedup_corpus

    passage = " ".join(f"rep{i}" for i in range(50))
    docs = _mk_docs(spark, [
        (1, passage + " " + _uniq("mid", 10) + " " + passage, "en"),
    ])
    out = span_dedup_corpus(docs, window=50).first()
    toks = out["text"].split()
    # first occurrence survives, second removed
    assert toks[:50] == passage.split()
    assert len(toks) == 60
    assert toks[50:] == [f"mid{i}" for i in range(10)]


def test_span_dedup_short_repeats_untouched(spark):
    from vectordb_cloud_spark.operators.dedup import span_dedup_corpus

    short = " ".join(f"s{i}" for i in range(30))  # < window
    docs = _mk_docs(spark, [
        (1, _uniq("a", 40) + " " + short + " " + _uniq("b", 40), "en"),
        (2, _uniq("c", 40) + " " + short + " " + _uniq("d", 40), "en"),
    ])
    out = {r["doc_id"]: r for r in
           span_dedup_corpus(docs, window=50).collect()}
    assert "s0" in out[1]["text"] and "s0" in out[2]["text"]


def test_span_dedup_content_anchored_stride(spark):
    from vectordb_cloud_spark.operators.dedup import span_dedup_corpus

    # long repeat at DIFFERENT offsets in each doc: a positional stride
    # would miss it; content-defined anchors select the same in-span starts
    passage = " ".join(f"p{i}" for i in range(120))
    docs = _mk_docs(spark, [
        (1, _uniq("a", 7) + " " + passage, "en"),
        (2, _uniq("b", 23) + " " + passage, "en"),
    ])
    out = {r["doc_id"]: r for r in
           span_dedup_corpus(docs, window=40, stride=4).collect()}
    assert "p50" in out[1]["text"]          # canonical keeps it
    assert "p50" not in out[2]["text"]      # bulk of the repeat removed
    assert "b0" in out[2]["text"] and "b22" in out[2]["text"]  # padding kept
    # stride sampling may leave edge tokens, but must remove most of the span
    assert len(out[2]["text"].split()) < 23 + 40


@pytest.mark.parametrize("seed", [7, 23, 1009])
def test_span_dedup_matches_python_truth(spark, seed):
    """Brute-force Python truth on a small corpus: same kept tokens —
    parameterized over seeds so the fixture shape can't mask a boundary
    bug (overlap merge, canonical ties, doc-edge windows)."""
    import random

    from vectordb_cloud_spark.operators.dedup import span_dedup_corpus

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    shared = [rng.choice(vocab) for _ in range(25)]
    rows = []
    for d in range(6):
        toks = [rng.choice(vocab) for _ in range(rng.randint(15, 40))]
        if d in (1, 3, 4):
            at = rng.randint(0, len(toks))
            toks = toks[:at] + shared + toks[at:]
        rows.append((d, " ".join(toks), "en"))
    W = 12

    # python truth
    occ = {}
    for d, text, _ in rows:
        toks = text.split()
        for s in range(len(toks) - W + 1):
            occ.setdefault(tuple(toks[s:s + W]), []).append((d, s))
    flagged = {}
    for key, lst in occ.items():
        if len(lst) >= 2:
            canon = min(lst)
            for o in lst:
                if o != canon:
                    flagged.setdefault(o[0], set()).update(
                        range(o[1], o[1] + W))
    truth = {}
    for d, text, _ in rows:
        toks = text.split()
        drop = flagged.get(d, set())
        truth[d] = " ".join(t for i, t in enumerate(toks) if i not in drop)

    out = {r["doc_id"]: r["text"] for r in
           span_dedup_corpus(_mk_docs(spark, rows), window=W).collect()}
    assert out == truth


def _random_pair_graph(rng, as_str):
    """Chains (up to 15 long), stars and isolated pairs over shuffled ids,
    plus duplicated and mirrored copies of some pairs."""
    pairs, nxt = [], 0

    def ids(n):
        nonlocal nxt
        out = rng.sample(range(nxt, nxt + 3 * n), n)  # min id anywhere
        nxt += 3 * n
        return out

    for _ in range(3):
        chain = ids(rng.randint(2, 15))
        pairs += list(zip(chain, chain[1:]))
    for _ in range(3):
        hub, *leaves = ids(rng.randint(3, 7))
        pairs += [(hub, leaf) for leaf in leaves]
    pairs += [tuple(ids(2)) for _ in range(4)]
    pairs += rng.sample(pairs, 5)
    pairs += [(b, a) for a, b in rng.sample(pairs, 5)]
    rng.shuffle(pairs)
    if as_str:
        return [(f"d{a:04d}", f"d{b:04d}") for a, b in pairs]
    return pairs


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_dup_components_driver_matches_label_propagation(spark, monkeypatch,
                                                         id_type):
    """The driver union-find path returns the rows (and the id type) of the
    distributed label propagation on seeded random pair graphs, and over
    checkpointed pairs it costs one Spark job."""
    import random

    from vectordb_cloud_spark.operators import dedup

    rng = random.Random(7 if id_type == "long" else 11)
    pairs = _random_pair_graph(rng, as_str=id_type == "string")
    if id_type == "long":
        pairs += [(3, None), (None, None)]  # null endpoints link nothing
    df = spark.createDataFrame(
        pairs, f"id_a {id_type}, id_b {id_type}").localCheckpoint()

    sc = spark.sparkContext
    group = f"dup_components_driver_{id_type}"
    sc.setJobGroup(group, "driver path")
    try:
        driver = dedup.dup_components(df)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    monkeypatch.setattr(dedup, "_DRIVER_EDGES", 0)
    spread = dedup.dup_components(df)
    assert ([(f.name, f.dataType) for f in driver.schema]
            == [(f.name, f.dataType) for f in spread.schema])

    def key(r):
        return tuple((v is None, v if v is not None else "") for v in r)
    got = sorted(map(tuple, driver.collect()), key=key)
    assert got == sorted(map(tuple, spread.collect()), key=key)
    assert {a for a, _ in got} >= {v for p in pairs for v in p if v is not None}
