"""Generate RECALL.md: recall@10 vs exact for every ANN family.

Standalone twin of the ``recall`` section bench.py now emits — run it when
iterating on an index family without paying for the full bench:

    python tools/recall_check.py            # sf0.01 default
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/recall_check.py

Floors are asserted in tests/test_recall_report.py; this script only
reports (a markdown table + the raw JSON line), so it stays usable while
experimenting below the gates.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    million = "--million" in sys.argv[1:]
    filtered = "--filtered" in sys.argv[1:]

    from vectordb_cloud_spark.recall import (
        BQ_OVERSAMPLE,
        GRAPH_BEAM,
        GRAPH_DEGREE,
        GRAPH_ENTRIES,
        GRAPH_MAX_HOPS,
        IVF_K_CENTROIDS,
        IVF_NPROBE,
        PQ_RERANK_OVERSAMPLE,
        ann_recall_report,
    )
    from vectordb_cloud_spark.session import get_spark

    spark = get_spark("recall_check")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    report = ann_recall_report(spark, sf_dir, k=10, n_queries=8)
    elapsed = round(time.time() - t0, 1)

    params = {
        "lsh_knn": "registry LSH model (compound buckets)",
        "ann_ivf_topk": f"k_centroids={IVF_K_CENTROIDS}, nprobe={IVF_NPROBE}",
        "pq_adc_topk": "M=16 subspaces, K=256 codes (fixtures.py pq_index; r7 — was M=8/K=16)",
        "ann_graph_topk": (
            f"degree={GRAPH_DEGREE}, beam={GRAPH_BEAM}, "
            f"max_hops={GRAPH_MAX_HOPS}, {GRAPH_ENTRIES} medoid entries "
            "(r7 — was degree=8/beam=32/smallest-id seeds)"
        ),
        "ann_graph_sharded_build": (
            f"r8 scale-path build (hash-shard × capped cells, shards "
            f"FORCED via max_cells=8, refine_rounds=2); searched with the "
            f"same beam={GRAPH_BEAM}/medoid seeds"
        ),
        "sq_adc_topk": "int8 per-dim affine (4x compression)",
        "bq_hamming_rescore_topk": (
            f"1 bit/dim + {BQ_OVERSAMPLE}x-oversample exact rescore "
            "(r7 — was 4x, recall 0.35 at sf0.1)"
        ),
        "pq_adc_rerank_topk": (
            f"PQ ADC + {PQ_RERANK_OVERSAMPLE}x-oversample exact rescore"
        ),
    }
    lines = [
        "# RECALL — recall@10 vs exact brute force "
        "(generated by tools/recall_check.py)",
        "",
        f"Corpus: `{sf_dir}` embeddings fixture; mean over 8 fixture query",
        "vectors; same index parameters as the registry/bench queries.",
        "Floors are asserted in tests/test_recall_report.py — this file is",
        f"the human-readable artifact. Run time {elapsed}s.",
        "",
        "| family | recall@10 | parameters |",
        "|---|---|---|",
    ]
    for name, r in report.items():
        lines.append(f"| {name} | {r:.3f} | {params[name]} |")
    lines += [
        "",
        "Interpretation: IVF/graph trade recall for pruned reads (nprobe /",
        "beam width are the dials); PQ trades recall for 16x compression;",
        "LSH trades recall for bucket-bounded candidate sets. 1.000 on a",
        "small fixture is expected for IVF when nprobe covers the query's",
        "true lists; expect lower at larger corpora. SQ8 is near-lossless",
        "by design; BQ trades the most recall for 32x compression and",
        "leans on the exact rescore.",
        "",
        "Latency cost of the r7 recall fixes (sf0.1, vs BENCH_r06): the",
        "BQ rescore probe grows from k*4 to k*48 candidate ids (still one",
        "isin-pruned base-table probe — ~0.1s extra locally); graph search",
        "cost is unchanged (beam widening is free locally — per-hop cost",
        "is scheduling, not rows — and medoid entries are a build-time",
        "cost). The K=256 PQ lookup table initially cost ~2s/query of",
        "plan-literal overhead; r8 ships it as a broadcast ROW instead",
        "(operators/pq.py) — pq_adc_topk back to ~0.65s with recall",
        "unchanged. The exchange bought: BQ 0.35 -> 0.94,",
        "PQ-rerank 0.50 -> 0.99, graph 0.66 -> 0.94,",
        "pure PQ-ADC 0.26 -> 0.68 at sf0.1.",
    ]
    m_report: dict = {}
    if million:
        # VERDICT r10 #6: show the nprobe/beam dials hold at meaningful
        # scale, not just the 6k-row fixture. ~10 min (the 1M sharded
        # graph build dominates); floors asserted both here and in
        # tests/test_recall_report.py (which parses this artifact).
        from vectordb_cloud_spark.recall import (
            MILLION_RECALL_FLOORS,
            collection_graph_million_recall,
            million_recall_report,
        )

        t1 = time.time()
        m_report = million_recall_report(spark, sf_dir)
        # the lifecycle twin: same corpus/queries/dials THROUGH the
        # collection catalog (sharded ann.v build + coarse-sample sidecar
        # + per-query seeding — the r11 collection integration)
        m_report["collection_graph_1m"] = collection_graph_million_recall(
            spark, sf_dir)
        m_elapsed = round(time.time() - t1, 1)
        lines += [
            "",
            "## 1M-row series (registry parameters; --million)",
            "",
            f"Corpus: `{sf_dir}` embeddings replicated to 1,000,000 rows",
            "with deterministic per-replica jitter (replicas clump around",
            "the originals — cluster structure preserved; a uniform-random",
            "corpus is the known graph-ANN worst case, SCALE.md). Exact",
            f"ground truth by full brute force per query. Run {m_elapsed}s.",
            "",
            "| family | recall@10 | parameters |",
            "|---|---|---|",
            f"| ann_ivf_topk_1m | {m_report['ann_ivf_topk_1m']:.3f} "
            f"| k_centroids={IVF_K_CENTROIDS}, nprobe={IVF_NPROBE} "
            "(25% of lists scanned) |",
            f"| ann_graph_medoid_1m | "
            f"{m_report['ann_graph_medoid_1m']:.3f} "
            f"| sharded build, degree={GRAPH_DEGREE}, beam={GRAPH_BEAM}, "
            f"max_hops={GRAPH_MAX_HOPS}, {GRAPH_ENTRIES} GLOBAL medoid "
            "entries — the honest negative result: a flat kNN graph "
            "loses navigability on a clumped 1M corpus (clusters become "
            "islands; no beam/hop budget recovers it — measured "
            "0.000-0.125 at beam 48-96 / hops 4-12) |",
            f"| ann_graph_coarse_1m | "
            f"{m_report['ann_graph_coarse_1m']:.3f} "
            f"| same graph + per-query coarse-entry seeds "
            f"(graph_coarse_entry_ids: brute-force over a deterministic "
            f"~3% mod-sample, HNSW's upper layer as one bounded scan), "
            f"REGISTRY dials beam={GRAPH_BEAM}/hops={GRAPH_MAX_HOPS} |",
            f"| collection_graph_1m | "
            f"{m_report['collection_graph_1m']:.3f} "
            f"| the same corpus/queries/dials THROUGH the collection "
            f"lifecycle (create with graph config -> bucketed upsert -> "
            f"lazy SHARDED ann.v build + persisted coarse_sample sidecar "
            f"-> search_ann with per-query sample seeding) — the r11 "
            f"navigability fix proven at the catalog level, not just "
            f"operator level |",
        ]
        for fam, floor in MILLION_RECALL_FLOORS.items():
            assert m_report[fam] >= floor, (
                f"{fam} recall {m_report[fam]} below floor {floor}")

    out = Path(__file__).resolve().parent.parent / "RECALL.md"
    prior = out.read_text() if out.exists() else ""
    marker_1m = "## 1M-row series"
    marker_f = "## Filtered graph search"

    def _prior_section(start: str, next_markers: tuple = ()) -> str:
        # carry a committed section verbatim (each costs ~10 min to
        # regenerate; tests/test_recall_report.py parses these rows)
        if start not in prior:
            return ""
        s = prior.index(start)
        e = len(prior)
        for m in next_markers:
            i = prior.find(m, s + len(start))
            if i != -1:
                e = min(e, i)
        return prior[s:e].rstrip()

    if not million:
        kept = _prior_section(marker_1m, (marker_f,))
        if kept:
            lines += ["", kept]

    f_report: dict = {}
    if filtered:
        # VERDICT r12 #3: filtered-graph recall vs filter selectivity —
        # the post-filter series is the honest negative (navigation
        # can't see the predicate), the planned series is the shipped
        # full_scan_threshold fallback. ~10 min (1M sharded build).
        from vectordb_cloud_spark.recall import (
            FILTERED_RECALL_FLOORS,
            filtered_graph_recall_report,
        )

        t2 = time.time()
        f_report = filtered_graph_recall_report(spark, sf_dir)
        f_elapsed = round(time.time() - t2, 1)
        lines += [
            "",
            "## Filtered graph search vs selectivity (1M; --filtered)",
            "",
            "Same 1M clumped corpus and query vectors as the 1M series;",
            "UNCORRELATED predicate `xxhash64(vec_id) % m == 0`",
            "(selectivity ~1/m, thins every cluster uniformly); ground",
            "truth = exact brute force over the SAME filtered subset;",
            f"per-query coarse-entry seeds, registry dials beam="
            f"{GRAPH_BEAM}/hops={GRAPH_MAX_HOPS}. `postfilter` rows are",
            "raw navigate-then-filter (the gap this series exposed: the",
            "beam converges on the overall nearest while the true",
            "filtered top-k sit around overall rank k*N/m). `planned`",
            "rows are the shipped three-way planner",
            "(`full_scan_threshold=10000`): matches <= threshold -> exact",
            "filtered top-k; middle band -> beam widened to 2kN/m (capped",
            "at max(8*beam, 512)); past the cap -> exact again. The",
            "`ivf pushdown` column is the structural contrast: IVF probes",
            f"a REGION (nprobe={IVF_NPROBE} of {IVF_K_CENTROIDS} lists —",
            "~25% of the corpus nearest the query), so the filtered",
            "top-k stay inside the probed region at any selectivity the",
            f"exact-threshold doesn't already catch. Run {f_elapsed}s.",
            "",
            "| selectivity | postfilter recall@10 | planned recall@10 "
            "| ivf pushdown recall@10 | graph planner route |",
            "|---|---|---|---|---|",
        ]
        for m in (10, 100, 1000):
            matches = 1_000_000 // m
            if matches <= 10_000:
                route = "exact filtered top-k (matches <= threshold)"
            else:
                needed = -(-2 * 10 * 1_000_000 // matches)
                route = (f"beam widened to {needed} (2kN/m)"
                         if needed <= max(8 * GRAPH_BEAM, 512)
                         else "exact filtered top-k (needed beam > cap)")
            lines.append(
                f"| ~1/{m} (~{matches:,} of 1M match) "
                f"| {f_report[f'postfilter_1_in_{m}']:.3f} "
                f"| {f_report[f'planned_1_in_{m}']:.3f} "
                f"| {f_report[f'ivf_pushdown_1_in_{m}']:.3f} "
                f"| {route} |")
        lines += [
            "",
            "### The correlated-filter adversarial case (r13 discovery)",
            "",
            "`vec_id % 10 == 0` on this corpus selects WHOLE clusters",
            "(replica ids preserve `orig mod 10`): for 7 of 8 queries no",
            "point in the query's own cluster matches, and the true",
            "filtered neighbors live in a far cluster that",
            "distance-driven navigation never approaches — no beam width",
            "fixes it (raw postfilter 0.125 = the one query whose own",
            "cluster matches). IVF degrades more gracefully (measured",
            "0.875-1.000 across builds: its probed region is ~25% of the",
            "corpus, often wide enough to cover far matching clusters on",
            "this fixture — but nothing guarantees it). The shipped",
            "planner closes this at runtime with the",
            "SAMPLE AUDIT (planned_topk, shared by every ANN kind; default",
            "1/31): after navigation, one pruned scan of a deterministic",
            "slice of the MATCHING rows checks for any point beating the",
            "result's worst distance; a hit means navigation missed the",
            "matching region, and the exact filtered top-k serves",
            "instead. Uncorrelated filters rarely trigger it; correlated",
            "ones trigger almost surely. Payload-clustered layouts",
            "(`create_payload_index` re-clusters files by the field)",
            "remain the right STORAGE answer for standing correlated",
            "filters — the exact route then prunes to the matching files",
            "(SCALE.md tenant_filtered_search_1M ~flat).",
            "",
            "| predicate | graph postfilter (no audit) "
            "| graph planned (widened + audit) | ivf pushdown (raw) "
            "| ivf + sample audit (r14) |",
            "|---|---|---|---|---|",
            f"| `vec_id % 10 == 0` (100,000 match, whole clusters) "
            f"| {f_report['correlated_postfilter_1_in_10']:.3f} "
            f"| {f_report['correlated_planned_1_in_10']:.3f} "
            f"| {f_report['correlated_ivf_1_in_10']:.3f} "
            f"| {f_report['correlated_ivf_audited_1_in_10']:.3f} |",
        ]
        for fam, floor in FILTERED_RECALL_FLOORS.items():
            assert f_report[fam] >= floor, (
                f"{fam} recall {f_report[fam]} below floor {floor}")
    else:
        kept = _prior_section(marker_f)
        if kept:
            lines += ["", kept]

    out.write_text("\n".join(lines) + "\n")
    print(json.dumps({"recall": report, "recall_1m": m_report,
                      "recall_filtered": f_report,
                      "sf_dir": sf_dir, "seconds": elapsed}))


if __name__ == "__main__":
    main()
