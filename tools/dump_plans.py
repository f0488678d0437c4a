"""Generate PLANS.md: formatted physical plans for the flagship queries,
with one-line commentary on why each plan shape is the scale-correct one.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SHOWCASE = {
    "knn_l2_filtered": (
        "Exact tenant-filtered kNN: PushedFilters at the parquet scan + "
        "TakeOrderedAndProject (per-partition bounded heap, ZERO exchanges) — "
        "a single map pass at any scale."
    ),
    "query_funnel_maxsim": (
        "Recursive prefetch funnel (sparse -> dense -> MaxSim): each "
        "stage's top-n candidates collect driver-side (bounded — Qdrant's "
        "sequential prefetch execution) and push into the next stage as "
        "ONE parsed id IN predicate, so only the inner sparse leg ever "
        "scans the corpus and the MaxSim rescore is a row-group-pruned "
        "20-row probe with ZERO exchanges."
    ),
    "tpch_q3_revenue_topk": (
        "Selective dim filter broadcast into the fact join; top-k via "
        "TakeOrderedAndProject instead of a global sort."
    ),
    "tpch_q5_region_revenue": (
        "Star join: every dimension is a BroadcastHashJoin; only fact-fact "
        "(orders-lineitem) shuffles."
    ),
    "embedding_near_dup_lsh": (
        "LSH-bucket-blocked similarity self-join (dedup.blocked_self_pairs): "
        "equi-join on the bucket key; norms precomputed per row, one "
        "dot-product fold per pair. The verified pairs are checkpointed "
        "inside the call, so the plan shown is the checkpoint scan."
    ),
    "sessionize_users": (
        "Sessionization: ONE exchange on user_id shared by both window "
        "functions and the final aggregation."
    ),
    "multivector_maxsim_topk": (
        "MaxSim late-interaction scoring as nested JVM column algebra over "
        "the scan; top-k is a shuffle-free TakeOrderedAndProject."
    ),
    "ann_ivf_topk": (
        "Persisted IVF search: centroid routing happens driver-side and the "
        "centroid_id IN (...) predicate lands in PartitionFilters — only "
        "nprobe of k_centroids partition directories are ever opened."
    ),
    "customer_order_stats": (
        "Profile aggregation incl. latest-per-group as a max_by argmax — "
        "one shuffle on the grouping key, no window pass."
    ),
    "bm25_topk": (
        "Lexical BM25: the query's term isin predicate prunes the postings "
        "build; df/corpus stats broadcast; top-k via TakeOrderedAndProject."
    ),
    "query_mmr_rerank_topk": (
        "MMR diversity rerank: ONE exact top-pool scan "
        "(TakeOrderedAndProject, shuffle-free), greedy selection over the "
        "hard-bounded pool driver-side, broadcast k-row join-back — corpus "
        "size enters only through the candidate scan."
    ),
    "asof_last_purchase_before_click": (
        "As-of join as union + ONE user_id exchange + a single running-last "
        "window; both scans carry PushedFilters on event_type. (r3 check: "
        "the r2 bench delta was run-order noise — 6 consecutive runs settle "
        "at 0.64-0.74 s, at/below the r1 number, plan byte-identical.)"
    ),
    "hybrid_rrf_topk": (
        "Hybrid retrieval: the BM25 candidate list (term-isin-pruned "
        "postings scan) and the dense top-20 (one Arrow batch + "
        "TakeOrderedAndProject) are each bounded at 20 rows before the "
        "rank windows, so the RRF fusion union/group-by touches 40 rows "
        "regardless of corpus size."
    ),
}

# hand-maintained sections after this heading are preserved verbatim on
# regeneration (session notes, bench-forensics write-ups)
_HAND_MARKER = "## Bench note"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from vectordb_cloud_spark import queries as qmod
    from vectordb_cloud_spark.plans.inspect import count_exchanges, explain_str
    from vectordb_cloud_spark.session import get_spark

    # a showcase plan is about the SHAPE, not registry membership: rows
    # rotated out of the registry still resolve from the library
    queries = {**qmod.library(), **qmod.registry()}
    unknown = sorted(set(SHOWCASE) - set(queries))
    if unknown:
        raise SystemExit(f"showcase names in neither registry() nor "
                         f"library(): {', '.join(unknown)}")

    spark = get_spark("dump-plans")
    out = [
        "# PLANS — physical plans of the flagship queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`. The plan shape is",
        "the scale contract: pushed filters, broadcast dims, bounded top-k,",
        "minimal exchanges. Regenerate after optimizer-relevant changes.",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = queries[name](spark, sf_dir)
        plan = explain_str(df)
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Why this shape:** {why}")
        out.append(f"**Exchanges:** {count_exchanges(df)}")
        out.append("")
        out.append("```")
        out.append(plan.strip()[:4000])
        out.append("```")
        out.append("")
    tail = ""
    prev = Path("PLANS.md")
    if prev.exists():
        old = prev.read_text()
        idx = old.find(_HAND_MARKER)
        if idx != -1:
            tail = old[idx:]
    Path("PLANS.md").write_text("\n".join(out) + tail)
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans; hand tail "
          f"{'kept' if tail else 'ABSENT'})")


if __name__ == "__main__":
    main()
