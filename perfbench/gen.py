"""Seeded inputs for every workload, and the NumPy oracle that checks them.

Everything the engine receives is generated here from ``--seed``: the
points of the serving collection, the request stream, and the curation
corpus with a known number of survivors. Nothing is read from disk.
"""

from __future__ import annotations

import random

import numpy as np

DIM = 64
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"]
SITES = ["news", "blog", "forum", "wiki"]
LANGS = ["en", "de", "fr"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "su", "ta", "vo", "ri", "pe", "zu",
              "ba", "co", "di", "fu", "ge", "hi", "jo", "ku", "ly", "mo"]


def vocabulary(size: int = 6000) -> list[str]:
    """Fixed content vocabulary: distinct letter-only words (no digits or
    punctuation, so the quality filter keeps every generated document)."""
    words = []
    n = len(_SYLLABLES)
    i = 0
    while len(words) < size:
        a, b, c = i % n, (i // n) % n, (i // (n * n)) % n
        words.append(_SYLLABLES[a] + _SYLLABLES[b] + _SYLLABLES[c]
                     + ("" if i < n ** 3 else _SYLLABLES[(i // n ** 3) % n]))
        i += 1
    return words


def sentence(rng: random.Random, vocab: list[str], n_words: int) -> str:
    """Content words interleaved with stopwords: every word 3-gram holds a
    content word, so two independent sentences share almost no shingles."""
    out = []
    for j in range(n_words):
        out.append(rng.choice(STOPWORDS) if j % 3 == 2 else rng.choice(vocab))
    return " ".join(out)


def points(seed: int, n: int, n_tenants: int) -> list[dict]:
    """The serving collection: ``n`` points, ids ``0..n-1``, over
    ``n_tenants`` tenants with Zipf-skewed sizes: tenant ``r`` holds a
    share proportional to 1/(r+1). The sizes and tenant ids are the same
    for every seed, so every seed puts the same tenants in the same
    storage buckets and a read costs the same; the seed picks which ids
    each tenant owns, and the texts, sites and languages."""
    rng = random.Random(seed * 7919 + 1)
    vocab = vocabulary()
    weights = [1.0 / (r + 1) for r in range(n_tenants)]
    sizes = [int(n * w / sum(weights)) for w in weights]
    for r in range(n - sum(sizes)):
        sizes[r] += 1
    owners = [t for t, size in enumerate(sizes) for _ in range(size)]
    rng.shuffle(owners)
    return [{"id": i, "user_id": owners[i],
             "text": sentence(rng, vocab, rng.randint(6, 12)),
             "site": rng.choice(SITES), "lang": rng.choice(LANGS)}
            for i in range(n)]


def corpus(seed: int, n_base: int, dup_frac: float = 0.05,
           near_frac: float = 0.05, junk_frac: float = 0.05
           ) -> tuple[list[tuple[int, str]], int]:
    """Curation input: ``n_base`` distinct documents plus exact duplicates
    (case and spacing changed), near duplicates (last word replaced: word
    3-gram Jaccard ~0.97, far above the 0.8 threshold) and junk documents
    below the token floor. Duplicates get higher ids than their original,
    so the original is the one kept. Returns ``(rows, expected survivors)``
    with rows ``(doc_id, text)`` in shuffled order."""
    rng = random.Random(seed * 104729 + 3)
    vocab = vocabulary()
    base = [sentence(rng, vocab, rng.randint(64, 90)) for _ in range(n_base)]
    docs = list(base)
    for _ in range(int(n_base * dup_frac)):
        t = rng.choice(base)
        docs.append("  " + t.upper().replace(" ", "   ") + " ")
    for _ in range(int(n_base * near_frac)):
        w = rng.choice(base).split()
        w[-1] = rng.choice(vocab)
        docs.append(" ".join(w))
    for _ in range(int(n_base * junk_frac)):
        docs.append(" ".join(rng.choice(vocab) for _ in range(3)))
    rows = list(enumerate(docs))
    rng.shuffle(rows)
    return rows, n_base


def embed(texts: list[str]) -> np.ndarray:
    """The engine's deterministic text embedding, as a float32 matrix."""
    from vectordb_cloud_spark.functions.embedding import _mock_vector

    if not texts:
        return np.zeros((0, DIM), dtype=np.float32)
    return np.stack([_mock_vector(t, DIM) for t in texts])


def l2(vecs: np.ndarray, q) -> np.ndarray:
    """L2 distances in float64, as the engine computes them from float32
    storage."""
    d = vecs.astype(np.float64) - np.asarray(q, dtype=np.float64)
    return np.sqrt((d * d).sum(axis=1))


def check_topk(ids: np.ndarray, dists: np.ndarray, got: list[tuple[int, float]],
               k: int, tol: float = 1e-6) -> bool:
    """True when ``got`` (id, score) pairs are a correct L2 top-``k`` of the
    candidates ``ids`` / ``dists``, ties broken by id.

    Scores must equal the oracle's distances, appear in ascending order,
    and cover every candidate strictly closer than the k-th distance.
    Candidates within ``tol`` of the k-th distance may be swapped, since
    the engine and NumPy sum in a different order."""
    want = min(k, len(ids))
    if len(got) != want:
        return False
    if want == 0:
        return True
    by_id = dict(zip(ids.tolist(), dists.tolist()))
    prev = -1.0
    for pid, score in got:
        d = by_id.get(pid)
        if d is None or abs(d - score) > tol * max(1.0, d) or score < prev - tol:
            return False
        prev = score
    kth = np.sort(dists)[want - 1]
    must = set(ids[dists < kth - tol].tolist())
    return must <= {pid for pid, _ in got}
