"""Workload definitions: sizes, traffic mix and tail rule.

Sizes are relative to the service's memo caps: the shape-template memo
holds 128 entries and the plan memo 512 (``api.VectorService``).
"""

from __future__ import annotations

from stats import tail_percentile

# the serving collection: Zipf-sized tenants, so a few are large
N_POINTS = 4_000
N_TENANTS = 400
LIMIT = 10
SEARCH_FILTERS = ("news", "blog")  # site filter documents on /search

WORKLOADS = {
    # read-only traffic on 3 hot tenants: 3 x (1 + 2 filters + 1 /query)
    # = 12 template shapes, all inside the 128-entry memo; every query
    # text is distinct, so the 512-entry plan memo never serves.
    # The mix gives each read route an equal share (no traffic trace
    # exists to take shares from); /search splits evenly between requests
    # with and without a filter document.
    "serve_hot": {
        "kind": "serve",
        "tenants": 3,
        "mix": {"search": 1 / 6, "search_filter": 1 / 6, "query": 1 / 3,
                "batch": 1 / 3},
        # closed loop: requests per second a calm 4-core host completes
        # after the warm-up, for the tail rule (~44 per 8 s run: p75
        # leaves 11 beyond)
        "expect_rps": 5.5,
        "tail_beyond": 10,
    },
    # curate a corpus with known duplicates, ingest the survivors into an
    # IVF-indexed collection, build the index, probe it with exact=false;
    # every miss_every-th probe is instead an exact read with a one-off
    # filter document, so it misses every memo and pays full construction
    "curate_index": {
        "kind": "batch",
        "base_docs": 1_000,
        "tenants": 4,
        "ann_index": {"ivf": {"k_centroids": 16, "nprobe": 4,
                              "full_scan_threshold": 0}},
        "miss_every": 4,
        # untimed probes first: after the batch phases the JVM is still
        # compiling, and the first probes ran up to 1.4 times as long
        "warm_probes": 4,
        "probe_s": 0.4,  # one ANN probe, for the expected sample count
        "tail_beyond": 3,  # ~15 ANN probes per 8 s run: p80 leaves 3
    },
}


def expected_samples(name: str, seconds: float) -> int:
    """Latency samples a run of ``seconds`` is expected to yield."""
    w = WORKLOADS[name]
    if w["kind"] == "batch":
        ann_share = 1.0 - 1.0 / w["miss_every"]
        return int(seconds * ann_share / w["probe_s"])
    return round(w["expect_rps"] * seconds)


def tail_of(name: str, seconds: float) -> float:
    """The workload's fixed tail percentile for a run of ``seconds``."""
    return tail_percentile(expected_samples(name, seconds),
                           WORKLOADS[name]["tail_beyond"])
