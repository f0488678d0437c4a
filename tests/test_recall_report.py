"""Recall floors for the driver-visible ANN recall artifact (VERDICT r5 #6).

The per-family recall gates in test_ann/test_pq/test_graph_ann exercise
hand-built indexes; this gate runs ``ann_recall_report`` — the exact code
path bench.py and tools/recall_check.py use — so the artifact itself is
what's protected: if a registry index parameter change (fixtures.py
lsh_model/ivf_index/pq_index) tanks recall, this fails before a bench
round records it.
"""

import pytest

from vectordb_cloud_spark.recall import ann_recall_report


@pytest.fixture(scope="module")
def report(spark, sf_dir):
    return ann_recall_report(spark, sf_dir, k=10, n_queries=4)


def test_report_covers_every_family(report):
    assert set(report) == {
        "lsh_knn", "ann_ivf_topk", "pq_adc_topk", "ann_graph_topk",
        "ann_graph_sharded_build", "sq_adc_topk",
        "bq_hamming_rescore_topk", "pq_adc_rerank_topk",
    }
    assert all(0.0 <= r <= 1.0 for r in report.values())


def test_ivf_recall_floor(report):
    # r9 geometry: nprobe=48 of 192 lists (75% pruned); measures 0.872 at
    # sf0.1 and 0.912 at the sf0.001 test corpus
    assert report["ann_ivf_topk"] >= 0.7


def test_graph_recall_floor(report):
    # degree=8 / beam=48 / 4 hops / 16 medoid entries — measured 0.94 at
    # sf0.1 (r7); floor leaves slack for the smaller test corpus
    assert report["ann_graph_topk"] >= 0.8


def test_graph_sharded_recall_floor(report):
    # shard term forced on (max_cells=8): the coarser init costs some
    # recall vs the unsharded build on this small corpus; the NN-descent
    # rounds keep it within the parity band
    assert report["ann_graph_sharded_build"] >= 0.6


def test_pq_recall_floor(report):
    # 16x256 codebooks on 64-dim (r7; the 8x16 toy config floored at 0.3)
    assert report["pq_adc_topk"] >= 0.5


def test_lsh_recall_floor(report):
    # loose floor for random 64-dim data (matches test_ann's gate)
    assert report["lsh_knn"] >= 0.3


def test_sq_recall_floor(report):
    # int8 per-dim quantization on 64 dims is near-lossless for top-k
    assert report["sq_adc_topk"] >= 0.8


def test_pq_rerank_beats_pure_adc(report):
    # the rescore stage exists to recover what coarse codebooks lose;
    # at M=16/K=256 + oversample 4 it measures 0.988 at sf0.1 (r7)
    assert report["pq_adc_rerank_topk"] >= report["pq_adc_topk"]
    assert report["pq_adc_rerank_topk"] >= 0.9


def test_bq_recall_floor(report):
    # 1 bit/dim + 48x oversample rescore (r7; 4x floored at 0.3/measured
    # 0.35 — not production-grade, VERDICT r6 #1)
    assert report["bq_hamming_rescore_topk"] >= 0.9


def test_million_row_artifact_rows_meet_floors():
    """The 1M-row recall series (VERDICT r10 #6) is a ~10-minute artifact
    run (tools/recall_check.py --million), so this test parses RECALL.md
    instead of re-measuring: the 1M rows must be present and at/above the
    floors in recall.MILLION_RECALL_FLOORS (the tool asserts the same
    floors at generation time; the corpus and queries are deterministic,
    so the artifact numbers are reproducible, not a cached fluke)."""
    import re
    from pathlib import Path

    from vectordb_cloud_spark.recall import MILLION_RECALL_FLOORS

    text = Path(__file__).resolve().parent.parent.joinpath(
        "RECALL.md").read_text()
    for fam, floor in MILLION_RECALL_FLOORS.items():
        m = re.search(rf"\|\s*{fam}\s*\|\s*([0-9.]+)\s*\|", text)
        assert m, f"RECALL.md lacks the 1M-row {fam} row"
        assert float(m.group(1)) >= floor, (
            f"{fam} artifact recall {m.group(1)} below floor {floor}")


def test_filtered_graph_artifact_rows_meet_floors():
    """The filtered-graph selectivity series (VERDICT r12 #3; tools/
    recall_check.py --filtered, ~15 min at 1M rows) — parse RECALL.md
    like the 1M test: the `planned` columns must be at/above
    recall.FILTERED_RECALL_FLOORS (1%/0.1% are exact by the planner's
    construction; 10% rides the widened beam)."""
    import re
    from pathlib import Path

    from vectordb_cloud_spark.recall import FILTERED_RECALL_FLOORS

    text = Path(__file__).resolve().parent.parent.joinpath(
        "RECALL.md").read_text()
    assert "## Filtered graph search" in text, (
        "RECALL.md lacks the filtered-graph selectivity series")
    for fam, floor in FILTERED_RECALL_FLOORS.items():
        if fam.startswith("correlated_"):
            # the correlated table row: | predicate | postfilter |
            # planned(audit) | ivf |
            m = re.search(
                r"\|\s*`vec_id % 10 == 0`[^|]*\|\s*[0-9.]+\s*\|"
                r"\s*([0-9.]+)\s*\|", text)
            assert m, "RECALL.md lacks the correlated adversarial row"
        else:
            sel = fam.removeprefix("planned_1_in_")
            m = re.search(
                rf"\|\s*~?1/{sel}\s*\([^)]*\)\s*\|\s*[0-9.]+\s*\|"
                rf"\s*([0-9.]+)\s*\|",
                text)
            assert m, f"RECALL.md lacks the filtered 1/{sel} row"
        assert float(m.group(1)) >= floor, (
            f"{fam} artifact recall {m.group(1)} below floor {floor}")
