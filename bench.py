"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries": {name: sec}, "sf"}.

Each query is forced to full materialization with a noop write (no driver
collect bottleneck, no display cost). A warmup query absorbs JVM/codegen
startup so per-query numbers reflect steady-state execution.

Per-query numbers are the MEDIAN of $SPARK_GRAFT_BENCH_RUNS (default 3)
executions: single-shot timing made run-order noise indistinguishable from
real regressions (rounds 2-3 both burned cycles proving drift was noise —
VERDICT r3 "What's wrong" #2). One-off build/stateful sections
(index builds, collection_build, compaction) stay single-shot: their caches
make re-runs no-ops, and they are build-time costs, not query latencies.

Build-time costs are reported SEPARATELY (VERDICT r5 #1): ``value`` /
``suite_seconds`` is the sum of per-query latencies only; one-off index /
collection construction goes under ``builds`` with its own
``build_seconds`` total, so an intentional query->build cost shift (e.g.
r5's persisted IVF layout: build +3.3s, search -2.9s/query) no longer reads
as a suite regression. ``total_seconds`` = suite + build for continuity
with r1-r5 headline numbers.

Ambient-load adjudicability (VERDICT r9 #2): the artifact stamps
``/proc/loadavg`` at suite start/end plus per-query (``query_load``), and
a query whose median exceeds 1.5x its best single run — the signature of a
co-tenant CPU spike contaminating some runs, not a real regression — is
retried (up to 2 extra rounds, best median kept, retry count recorded
under ``retried``). r9's verified 2.5x beam-search win was invisible in
BENCH_r09 exactly because of an unstamped contaminated segment.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

_HERE = Path(__file__).resolve().parent
_DRAWS = _HERE / "bench_draws.jsonl"


def _git_head() -> str:
    """Short HEAD of the repo, stamped on every draw so --median never
    merges measurements of different code (VERDICT r13 #6)."""
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=_HERE,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def emit_median():
    """Merge this round's bench draws into the committed artifact
    (VERDICT r13 #6: per-query MEDIANS across draws, never a selected
    draw). Reads ``bench_draws.jsonl`` (one full bench line per run,
    appended by every ``python bench.py`` invocation), keeps only draws
    stamped with the CURRENT git HEAD (different code = different
    population), and emits the same two-line stdout contract as a live
    run — per-query/build/recall values are the median across draws,
    and a ``draws`` field records each draw's suite value + loadavg so
    the dispersion is adjudicable. Writes bench_out.json."""
    head = _git_head()
    if not _DRAWS.is_file():
        raise SystemExit("no bench_draws.jsonl — run `python bench.py` first")
    draws = []
    for ln in _DRAWS.read_text().splitlines():
        if not ln.strip():
            continue
        d = json.loads(ln)
        if d.get("git_head") == head:
            draws.append(d)
    if not draws:
        raise SystemExit(
            f"no draws for HEAD {head} in bench_draws.jsonl — stale draws "
            "from earlier commits are never merged; re-run `python bench.py`")
    # only merge draws with the SAME query set (a registry rotation mid-
    # round changes the population); use the newest draw's set
    keys = set(draws[-1]["queries"])
    draws = [d for d in draws if set(d["queries"]) == keys]

    def med(field: str) -> dict[str, float]:
        out = {}
        for k in draws[-1].get(field, {}):
            vals = [d[field][k] for d in draws if k in d.get(field, {})]
            out[k] = round(statistics.median(vals), 3)
        return out

    queries, builds, recall = med("queries"), med("builds"), med("recall")
    suite = round(sum(queries.values()), 3)
    build = round(sum(builds.values()), 3)
    merged = dict(draws[-1])  # notes/serving_counters/sf from newest draw
    merged.update({
        "value": suite, "queries": queries, "builds": builds,
        "recall": recall, "build_seconds": build,
        "total_seconds": round(suite + build, 3),
        "median_of_draws": len(draws),
        "draws": [{"value": d["value"], "loadavg": d.get("loadavg"),
                   "total_seconds": d.get("total_seconds")} for d in draws],
    })
    line = json.dumps(merged)
    (_HERE / "bench_out.json").write_text(line + "\n")
    print(line)
    print(json.dumps({
        "metric": "suite_seconds", "value": suite, "unit": "sec",
        "queries": {k: round(v, 2) for k, v in queries.items()},
        "recall": {k: round(v, 3) for k, v in recall.items()},
        "build_seconds": build,
        "total_seconds": round(suite + build, 3),
        "median_of_draws": len(draws),
        "sf": merged.get("sf"),
    }, separators=(",", ":")))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from vectordb_cloud_spark.session import get_spark
    from vectordb_cloud_spark import fixtures as fx
    from vectordb_cloud_spark import queries as qmod

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + parquet footer reads + codegen
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    results: dict[str, float] = {}
    builds: dict[str, float] = {}

    def loadavg() -> float:
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except (OSError, ValueError, IndexError):
            return -1.0

    # ambient baseline BEFORE the index-build phase (the builds themselves
    # push the 1-min load average up; 'start' should mean the co-tenant
    # load the suite walked into)
    load_start = loadavg()

    # Index construction (IVF: KMeans + centroid-partitioned write; PQ:
    # codebook training + code encoding) is a build-time cost like
    # collection_build, not per-query work — measure each once explicitly so
    # ann_ivf_topk / pq_adc_topk reflect the pruned/codes-only searches.
    t0 = time.time()
    fx.ivf_index(spark, sf_dir)
    builds["ivf_index_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    fx.pq_index(spark, sf_dir)
    builds["pq_index_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    fx.lsh_model(spark, sf_dir)
    builds["lsh_model_fit"] = round(time.time() - t0, 3)
    t0 = time.time()
    fx.bm25_index(spark, sf_dir)
    builds["bm25_index_build"] = round(time.time() - t0, 3)
    # r15: passage retrieval's chunk-TF-IDF index is a persisted build
    # artifact now (the bm25/IVF/PQ treatment — VERDICT r14 #1): chunk +
    # embed + write is index construction; passage_topk probes it.
    t0 = time.time()
    fx.passage_index(spark, sf_dir)
    builds["passage_index_build"] = round(time.time() - t0, 3)
    # r7 registry rotation: SQ/BQ/sparse/graph searches are oracle-gated
    # registry rows now, each over a fixture index built once here (the
    # same ingest-vs-query cost split as IVF/PQ above)
    t0 = time.time()
    fx.quantized_collection(spark, sf_dir)
    builds["quantized_collection_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    fx.bq_index(spark, sf_dir)
    builds["bq_index_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    fx.sparse_index(spark, sf_dir)
    builds["sparse_index_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    fx.graph_index(spark, sf_dir)
    builds["graph_index_build"] = round(time.time() - t0, 3)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    query_load: dict[str, float] = {}
    retried: dict[str, int] = {}
    _current_label: list = [None]

    def timed_median(run) -> float:
        # untimed warmup: absorbs lazy per-query caches (classify oracle
        # parquet, first-plan codegen) so the median is steady-state at ANY
        # $SPARK_GRAFT_BENCH_RUNS, including 1 or 2 (ADVICE r4)
        run()

        def one_round() -> list[float]:
            times = []
            for _ in range(n_runs):
                t0 = time.time()
                run()
                times.append(time.time() - t0)
            return times

        label = _current_label[0]
        if label is not None:
            query_load[label] = loadavg()
        times = one_round()
        med = statistics.median(times)
        # contaminated-segment retry (VERDICT r9 #2): a median >1.5x the
        # best single run means SOME runs hit ambient co-tenant load — the
        # best run proves the plan can go that fast on this box. Re-measure
        # (bounded) and keep the best median; never mixes run sets.
        tries = 0
        while n_runs >= 3 and med > 1.5 * min(times) and tries < 2:
            tries += 1
            med = min(med, statistics.median(one_round()))
        if tries and label is not None:
            retried[label] = tries
        return round(med, 3)

    def bench_one(name: str, run) -> None:
        _current_label[0] = name
        try:
            results[name] = timed_median(run)
        finally:
            _current_label[0] = None

    def noop_write(df):
        df.write.format("noop").mode("overwrite").save()

    for name, fn in qmod.registry().items():
        bench_one(name, lambda fn=fn: noop_write(fn(spark, sf_dir)))

    # the sketch-based percentile twin (library-level; the exact variant in
    # the registry is the oracle gate, this is the 100 TB plan shape)
    bench_one(
        "price_percentiles_approx",
        lambda: noop_write(qmod.price_percentiles_by_flag_approx(spark, sf_dir)),
    )

    # rotated-out rows stay timed at library level so BENCH series remain
    # comparable round over round (oracles stay spot-runnable) — dynamic
    # over queries.library() so each rotation keeps its retirees timed
    # without a hand-maintained list (r13: +tpch_q3_revenue_topk,
    # +lsh_similarity_join_pairs, +bm25_topk)
    for name, fn in qmod.library().items():
        bench_one(name, lambda fn=fn: noop_write(fn(spark, sf_dir)))

    # PII scrub over the full corpus (library-level, registry is at its
    # 50-entry cap): redaction + audit counts as scan-stage column algebra
    from vectordb_cloud_spark.functions.pii import scrub_corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bench_one("pii_scrub_corpus", lambda: noop_write(scrub_corpus(docs)))

    # line-level boilerplate dedup (r8 curation stage): two skinny-row
    # shuffles (line-hash counts, per-doc rebuild) — linear in corpus lines
    from vectordb_cloud_spark.operators.dedup import line_dedup_corpus

    bench_one("line_dedup_corpus",
              lambda: noop_write(line_dedup_corpus(docs, min_repeats=3)))

    # span-level exact-substring dedup (r8): window hashing + interval
    # merge — two skinny-row shuffles, corpus-token-linear (SCALE.md)
    from vectordb_cloud_spark.operators.dedup import span_dedup_corpus

    bench_one("span_dedup_corpus",
              lambda: noop_write(span_dedup_corpus(docs, window=30)))

    # DSIR importance resampling (r8): hashed-ngram importance weights
    # select raw docs resembling a target slice — two 10k-row model aggs +
    # one broadcast-join scoring pass + Gumbel-top-k
    from pyspark.sql import functions as F  # noqa: PLC0415

    from vectordb_cloud_spark.operators.dsir import dsir_select

    dsir_target = docs.filter(F.col("lang") == "en").limit(50)
    bench_one("dsir_select",
              lambda: noop_write(dsir_select(docs, dsir_target, n=100, seed=7)))

    # real lexical embeddings (hashed TF-IDF + signed random projection,
    # all JVM-side) — the weights-free executable twin of the reference's
    # embed->search path. Embedding the corpus is ingest work (persist
    # once, like the IVF/PQ builds); the timed query searches the
    # persisted embeddings.
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: PLC0415

    from vectordb_cloud_spark.functions.embedding import hashed_tfidf_embed
    from vectordb_cloud_spark.operators.knn import knn_search

    tdir = tempfile.mkdtemp(prefix="bench_tfidf_")
    try:
        t0 = time.time()
        hashed_tfidf_embed(docs).write.mode("overwrite").parquet(
            os.path.join(tdir, "emb")
        )
        builds["tfidf_embed_build"] = round(time.time() - t0, 3)
        temb = spark.read.parquet(os.path.join(tdir, "emb"))
        tqv = [float(x) for x in
               temb.filter(F.col("doc_id") == 1).first()["embedding"]]
        bench_one(
            "tfidf_knn_topk",
            lambda: noop_write(
                knn_search(temb, tqv, k=11, metric="cosine",
                           vector_col="embedding", tiebreak="doc_id")
            ),
        )
        # (the sparse SPLADE-shaped search moved into the registry in r7 —
        # sparse_topk_inverted is timed by the registry loop over the
        # fixtures.sparse_index fixture and oracle-gated per round)
    finally:
        shutil.rmtree(tdir, ignore_errors=True)

    # vector-scan stress: the fixture embeddings table is small (2k rows at
    # sf0.1), so also measure exact filtered kNN over 100k synthetic 64-dim
    # vectors — generated JVM-side (xxhash64-seeded, deterministic), single
    # map pass + TakeOrderedAndProject, the 100-TB plan shape at real width
    from pyspark.sql import functions as F  # noqa: PLC0415

    from vectordb_cloud_spark.operators.knn import knn_search

    vecs = (
        spark.range(100_000)
        .withColumn(
            "embedding",
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)) - 1000.0) / 1000.0,
            ).cast("array<float>"),
        )
        .withColumn("tenant", F.pmod(F.col("id"), F.lit(100)))
    )
    q100k = [((h * 2654435761) % 2000 - 1000) / 1000.0 for h in range(64)]
    bench_one(
        "knn_stress_100k_filtered",
        lambda: noop_write(knn_search(vecs, q100k, k=10,
                                      filters=F.col("tenant") == 7)),
    )

    # graph / SQ / BQ searches are registry rows now (oracle-gated, timed by
    # the registry loop over the fixtures built up top). Two extras stay
    # bench-only: the single-query beam-search form (the registry row is the
    # batch graph_knn_join; the driver-loop form has different latency
    # economics — PLANS.md) and the PQ two-stage rerank.
    from vectordb_cloud_spark.operators.graph_ann import (
        graph_beam_search,
        graph_load_entry_points,
    )
    from vectordb_cloud_spark.recall import (
        GRAPH_BEAM,
        GRAPH_MAX_HOPS,
        PQ_RERANK_OVERSAMPLE,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    entry_ids, adj_path = fx.graph_index(spark, sf_dir)
    adj = spark.read.parquet(adj_path)
    entry_ids = graph_load_entry_points(spark, adj_path) or entry_ids
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    bench_one(
        "graph_beam_search_single",
        lambda: noop_write(
            graph_beam_search(emb, adj, qv, k=10, beam=GRAPH_BEAM,
                              max_hops=GRAPH_MAX_HOPS, entry_ids=entry_ids)
        ),
    )

    # PQ two-stage rerank (the production PQ path): codes-only ADC
    # candidates -> exact rescore join
    from vectordb_cloud_spark.operators.pq import pq_search_rerank

    pq_codebooks, pq_path = fx.pq_index(spark, sf_dir)
    pq_codes = spark.read.parquet(pq_path)
    bench_one(
        "pq_adc_rerank_topk",
        lambda: noop_write(
            pq_search_rerank(pq_codes, pq_codebooks, emb,
                             [float(x) for x in qv], k=10,
                             oversample=PQ_RERANK_OVERSAMPLE)
        ),
    )

    # recall@10 vs exact for every ANN family (VERDICT r5 #6): latency
    # alone can't catch an ANN change that got faster by dropping
    # recall, so the per-round artifact now records quality too. Reuses
    # the fixture indexes (same parameters as the timed queries).
    from vectordb_cloud_spark.recall import ann_recall_report

    recall = ann_recall_report(spark, sf_dir, k=10, n_queries=8,
                               graph=adj, entry_ids=entry_ids)

    # index/collection build time (embed + partitioned write) — mirrors the
    # reference's "Index creation Time" instrumentation (BASELINE.md)

    from pyspark.sql import functions as F

    from vectordb_cloud_spark.collections import CollectionCatalog
    from vectordb_cloud_spark.functions.embedding import mock_embed

    tmp = tempfile.mkdtemp(prefix="bench_cat_")
    try:
        t0 = time.time()
        catalog = CollectionCatalog(spark, tmp)
        catalog.create("bench_col", dim=64)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        points = docs.select(
            F.col("doc_id").alias("id"),
            F.col("doc_id").alias("text_id"),
            "text",
            (F.col("doc_id") % 1000).alias("user_id"),
            F.col("source").alias("site"),
            "lang",
        ).withColumn("embedding", mock_embed("text", 64))
        catalog.upsert("bench_col", points)
        builds["collection_build"] = round(time.time() - t0, 3)

        # small-file churn + OPTIMIZE: fan one rewrite out to many tasks
        # (AQE off, as every multi-executor bucket rewrite is at real scale
        # — locally AQE coalesces the tiny shuffle to one file per bucket),
        # then measure the bucket-scoped compaction pass
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            catalog.upsert("bench_col", points.repartition(32))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        t0 = time.time()
        catalog.compact("bench_col")
        builds["compaction"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # end-to-end HTTP serving latency (VERDICT r8 #7): GET /search through
    # the real-socket WSGI front + VectorService into a warm collection —
    # the latency surface the reference actually exposes (app.py:58-75).
    # The warm collection is bulk-loaded once (build cost); the timed unit
    # is one full request: URL parse -> filter compile -> kNN plan ->
    # collect -> JSON envelope.
    import threading
    import urllib.parse
    import urllib.request
    from wsgiref.simple_server import WSGIRequestHandler, make_server

    from vectordb_cloud_spark.api import VectorService
    from vectordb_cloud_spark.http_app import make_wsgi_app

    tmp_http = tempfile.mkdtemp(prefix="bench_http_")
    try:
        t0 = time.time()
        svc = VectorService(spark, tmp_http, index_name="BenchVDB", dim=64)
        svc.catalog.upsert("BenchVDB", points)
        builds["service_collection_build"] = round(time.time() - t0, 3)

        class _Quiet(WSGIRequestHandler):
            def log_message(self, *args):
                pass

        httpd = make_server("127.0.0.1", 0, make_wsgi_app(svc),
                            handler_class=_Quiet)
        th = threading.Thread(target=httpd.serve_forever, daemon=True)
        th.start()
        base = f"http://127.0.0.1:{httpd.server_address[1]}/search?"

        # DISTINCT query text per request (VERDICT r10 wrong#1 gate): a
        # production mix is unique texts, so the headline serving number
        # must not lean on the exact-repeat plan memo — each hit pays the
        # per-text cost (r11: one spark.sql of the shape-keyed template).
        seq = [0]

        def _hit():
            seq[0] += 1
            url = base + urllib.parse.urlencode(
                {"user_id": 7, "text": f"data pipeline {seq[0]}",
                 "limit": 5})
            with urllib.request.urlopen(url) as resp:
                resp.read()

        bench_one("service_search_http", _hit)

        # /query with a DISTINCT body per request (r11: the plain dense
        # subset serves from the same shape-keyed template as /search —
        # one spark.sql per distinct text instead of full query_points
        # construction)
        qseq = [0]

        def _hit_query():
            qseq[0] += 1
            body = json.dumps({"query": {"text": f"corpus probe {qseq[0]}"},
                               "limit": 5})
            url = base.replace("/search?", "/query?") + urllib.parse.urlencode(
                {"user_id": 7, "body": body})
            with urllib.request.urlopen(url) as resp:
                resp.read()

        bench_one("service_query_http", _hit_query)

        # r13 (VERDICT r12 #5): a MIXED /query_batch — dense + by-id +
        # recommend average_vector — served by ONE shared corpus scan and
        # ONE example-resolution probe, vs the same bodies dispatched
        # per-request. Bodies are made DISTINCT per run (rotating text +
        # limit) so neither variant rides the exact-repeat plan memo; the
        # pair quantifies the shared-scan win on the non-dense branches
        # (results are parity-tested in test_api.py).
        ids7 = [int(r["id"]) for r in
                svc.catalog.read_for_user("BenchVDB", 7)
                .select("id").orderBy("id").limit(3).collect()]
        while len(ids7) < 3:
            ids7.append(ids7[-1])
        mseq = [0]

        def _mixed_bodies():
            mseq[0] += 1
            s = mseq[0]
            return [
                {"query": {"text": f"shared scan alpha {s}"}, "limit": 5},
                {"query": {"text": f"shared scan beta {s}"}, "limit": 5},
                {"query": ids7[0], "limit": 5 + (s % 7)},
                {"query": {"nearest": ids7[1]}, "limit": 5 + ((s + 1) % 7)},
                {"query": {"recommend": {"positive": ids7[:2],
                                         "negative": [ids7[2]]}},
                 "limit": 5 + ((s + 2) % 7)},
            ]

        bench_one("query_batch_mixed_shared",
                  lambda: svc.query_batch(7, _mixed_bodies()))
        bench_one("query_batch_mixed_per_request",
                  lambda: [svc.query(7, b) for b in _mixed_bodies()])

        # exact-repeat form (the r10 basis): plan-memo hit, zero
        # construction — kept as its own entry for comparability
        url_rep = base + urllib.parse.urlencode(
            {"user_id": 7, "text": "data pipeline", "limit": 5})

        def _hit_repeat():
            with urllib.request.urlopen(url_rep) as resp:
                resp.read()

        bench_one("service_search_http_repeat", _hit_repeat)
        # which path actually served (VERDICT r11 #5): the artifact itself
        # proves the service entries above ran on the fast paths — every
        # distinct-text request must be a shape-template hit and every
        # exact-repeat request a plan-memo hit, or the measured numbers
        # describe full construction, not serving
        serving_counters = {
            "shape_hits": svc._shape_hits,
            "plan_hits": svc._plan_hits,
            "requests_distinct": seq[0] + qseq[0],
        }
        httpd.shutdown()
        th.join(timeout=5)
    finally:
        shutil.rmtree(tmp_http, ignore_errors=True)

    suite = round(sum(results.values()), 3)
    build = round(sum(builds.values()), 3)
    # methodology-change notes (VERDICT r8 #8): entries whose measurement
    # BASIS changed carry an explanation, so round-over-round diffs aren't
    # misread as regressions/wins
    notes = {
        "compaction": ("r8+: measures OPTIMIZE after injected 32-way "
                       "small-file churn with AQE off — not comparable to "
                       "r7 and earlier (which compacted a clean table)"),
        "ann_ivf_topk": ("r9: pruning geometry k_centroids=192/nprobe=48 "
                         "(75% of files pruned, recall 0.872) replaced "
                         "k=8/nprobe=4 (50% scanned); searches reuse a "
                         "memoized read relation (re-listing 192 partition "
                         "dirs per query cost ~0.85s — a serving tier "
                         "keeps the table registered)"),
        "graph_beam_search_single": ("r9: per-hop probes reformulated as "
                                     "two pruned SQL-IN collects (no "
                                     "broadcast/distinct jobs) — identical "
                                     "results, ~2.5x faster"),
        "query_batch_mixed_shared": (
            "r13: shared vs per-request is ~parity LOCALLY (both ~0.5s "
            "at sf0.1) because Spark plan construction dominates and the "
            "dense legs of the per-request variant legitimately ride the "
            "warm shape template; the shared path's win is structural — "
            "ONE corpus scan + ONE example-resolution probe instead of "
            "five scans + three probes — which is the scan-bound 100 TB "
            "regime, not the local plan-bound one. Bodies rotate per run "
            "so neither variant rides the exact-repeat memo."),
        "registry": ("r14 rotation: in distance_matrix_pairs (the r13 "
                     "library oracle promoted — newest-code-least-proof "
                     "rule); out grouping_sets_order_stats "
                     "(shape-redundant, timed at library level below, "
                     "oracle spot-runnable). "
                     "r13 rotation: in query_by_id_topk, "
                     "context_only_topk, query_mmr_rerank_topk (the "
                     "greedy MMR selection replayed as unrolled SQL); "
                     "out tpch_q3_revenue_topk, lsh_similarity_join_"
                     "pairs, bm25_topk (shape-redundant, timed at "
                     "library level below, oracles spot-runnable). "
                     "r12 rotation: in query_template_threshold_paged "
                     "(the warm /query template with score_threshold + "
                     "offset + with_payload, counter-asserted) and "
                     "query_ann_params_topk (params.exact=false through "
                     "the ann.v sidecar with threshold/paging); out "
                     "tpch_q5_region_revenue, lang_id_counts "
                     "(shape-redundant, timed at library level below, "
                     "oracles spot-runnable). r11 rotation: in "
                     "collection_search_sparse, query_text_rewrite_search, "
                     "query_batch_shared_scan; out simhash_near_dup_pairs, "
                     "geo_radius_search, discover_topk. r10 rotation: in "
                     "text_routed_search, query_funnel_maxsim, "
                     "collection_search_ann; out knn_batch_topk, "
                     "scalar_functions_parity, price_percentiles_by_flag"),
        "serving_counters": ("r12 (VERDICT r11 #5): shape_hits/plan_hits "
                             "from the benched VectorService — proves the "
                             "service_* entries were served by the "
                             "template/memo fast paths, not full "
                             "construction"),
        "service_search_http": ("r11: BASIS CHANGED — now a DISTINCT query "
                                "text per request (the production mix; "
                                "served by the shape-keyed SQL template, "
                                "one spark.sql parse per text). The r10 "
                                "exact-repeat basis continues as "
                                "service_search_http_repeat"),
        "measurement": ("r10: /proc/loadavg stamped at suite start/end + "
                        "per query (query_load); a median >1.5x the best "
                        "single run is re-measured up to 2x and the best "
                        "median kept (retried) — VERDICT r9 #2"),
    }
    line = json.dumps({
        "metric": "suite_seconds",
        "value": suite,
        "unit": "sec",
        "queries": results,
        "recall": recall,
        "builds": builds,
        "build_seconds": build,
        "total_seconds": round(suite + build, 3),
        "loadavg": {"start": load_start, "end": loadavg()},
        "query_load": query_load,
        "retried": retried,
        "serving_counters": serving_counters,
        "notes": notes,
        "git_head": _git_head(),
        "sf": sf,
    })
    # accumulate the draw for `bench.py --median` (VERDICT r13 #6): the
    # committed artifact is per-query medians ACROSS the round's draws,
    # not a hand-selected draw; the head stamp keeps populations honest
    with _DRAWS.open("a") as f:
        f.write(line + "\n")
    # also persist to a file: the driver captures stdout through a bounded
    # tail buffer, and BENCH_r06 lost the HEAD of this line to truncation
    # (VERDICT r6 "What's wrong" #4) — the file copy survives regardless
    Path(__file__).resolve().parent.joinpath("bench_out.json").write_text(
        line + "\n"
    )
    print(line)
    # the full line is ~4.4 KB and the driver's tail buffer is ~4 KB, so
    # the line above can lose its head (BENCH_r07 parsed: null). Emit a
    # compact line LAST — spec-complete (metric/value/unit/queries/sf),
    # minimal separators, 2-decimal times — sized to survive the buffer
    # whole. The recall dict rides in the compact line too (r8's truncation
    # dropped it from BENCH entirely — VERDICT r8 #8); builds/notes stay in
    # the full line + bench_out.json
    print(json.dumps({
        "metric": "suite_seconds",
        "value": suite,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in results.items()},
        "recall": {k: round(v, 3) for k, v in recall.items()},
        "build_seconds": build,
        "total_seconds": round(suite + build, 3),
        "load": {"start": load_start, "end": loadavg()},
        "sf": sf,
    }, separators=(",", ":")))


if __name__ == "__main__":
    if "--median" in sys.argv[1:]:
        emit_median()
    else:
        main()
