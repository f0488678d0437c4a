"""The engine side of one benchmark run, in its own process.

``run.py`` starts this with the workload and seed. For a serving workload
it bulk-loads the collection, then serves the engine's WSGI app
(``http_app.make_wsgi_app``) on a localhost port until told to stop. For
``curate_index`` it runs the batch steps and probes, then exits. Either
way it prints one JSON line per event on stdout; Spark logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from wsgiref.simple_server import WSGIRequestHandler, make_server

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import storage  # noqa: E402
from workloads import N_POINTS, N_TENANTS, WORKLOADS  # noqa: E402

INDEX = "EverGrowingVDB"  # VectorService's default collection name


def emit(**event) -> None:
    print(json.dumps(event), flush=True)


def cpu_s(spark) -> float:
    """CPU seconds used so far by this process and by its JVM."""
    jvm = spark._jvm.java.lang.ProcessHandle.current().info()
    return time.process_time() + jvm.totalCpuDuration().get().toNanos() / 1e9


def start_session():
    t = time.perf_counter()
    from vectordb_cloud_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


class _Quiet(WSGIRequestHandler):
    def log_message(self, *args) -> None:
        pass


def serve(spark, session_s: float, name: str, seed: int, work: str,
          tracer) -> None:
    from vectordb_cloud_spark.api import VectorService
    from vectordb_cloud_spark.http_app import make_wsgi_app

    pts = gen.points(seed, N_POINTS, N_TENANTS)
    root = os.path.join(work, "catalog")
    t = time.perf_counter()
    svc = VectorService(spark, root)
    svc.insert_batch(pts)
    load_s = time.perf_counter() - t
    coll_dir = os.path.join(root, INDEX)
    if tracer is not None:
        tracer.install()
    app = make_wsgi_app(svc)
    state = {"stop": False}

    def reset() -> None:
        state.update(n=0, shape0=svc._shape_hits,
                     plan0=svc._plan_hits, cpu0=cpu_s(spark))

    def report() -> dict:
        return {"n": state["n"],
                "cpu_s": cpu_s(spark) - state["cpu0"],
                "shape_hits": svc._shape_hits - state["shape0"],
                "plan_hits": svc._plan_hits - state["plan0"],
                "stored_bytes": storage.stored_bytes(coll_dir),
                "trace": None if tracer is None else tracer.summary()}

    def bench_app(environ, start_response):
        path = environ.get("PATH_INFO", "/")
        if path.startswith("/_bench/"):
            if path == "/_bench/reset":
                reset()
                if tracer is not None:
                    tracer.clear()  # drop warm-up spans
                out = {}
            elif path == "/_bench/report":
                out = report()
            else:
                state["stop"] = True
                out = {}
            body = json.dumps(out).encode()
            start_response("200 OK", [("Content-Type", "application/json")])
            return [body]
        group = None if tracer is None else tracer.begin("read", "http_app")
        captured = []
        t0 = time.perf_counter()
        chunks = app(environ, lambda s, h, exc=None: captured.append((s, h)))
        body = b"".join(chunks)
        t1 = time.perf_counter()
        if group is not None:
            tracer.end(group)
        state["n"] += 1
        status, headers = captured[0]
        # perf_counter is the system-wide monotonic clock, so the client
        # can set these against its own send and receive times
        start_response(status, headers + [("X-Bench-App", f"{t0!r} {t1!r}")])
        return [body]

    reset()
    httpd = make_server("127.0.0.1", 0, bench_app, handler_class=_Quiet)
    emit(event="ready", port=httpd.server_port, session_s=session_s,
         load_s=load_s, setup_s=session_s + load_s)
    with httpd:
        while not state["stop"]:
            httpd.handle_request()


def batch(spark, session_s: float, name: str, seed: int, seconds: float,
          work: str, tracer) -> None:
    """curate_index: curate -> ingest survivors -> build IVF -> probe. The
    pass runs in a fresh JVM, so its cold cost (class loading, compilation,
    code generation) is part of what it measures."""
    from vectordb_cloud_spark import pipeline
    from vectordb_cloud_spark.api import VectorService

    cfg = WORKLOADS[name]
    t = time.perf_counter()
    rows, expected = gen.corpus(seed, cfg["base_docs"])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    setup_s = session_s + time.perf_counter() - t
    if tracer is not None:
        tracer.install()
    phases = {}

    def phase(kind, fn):
        group = tracer.begin(kind, kind) if tracer is not None else None
        t0 = time.perf_counter()
        out = fn()
        phases[kind] = time.perf_counter() - t0
        if group is not None:
            tracer.end(group)
        return out

    cpu0 = cpu_s(spark)
    survivors = phase("curate", lambda: pipeline.curate_corpus(docs)
                      .select("doc_id", "text").collect())
    tenants = cfg["tenants"]
    points = [{"id": r["doc_id"], "user_id": r["doc_id"] % tenants,
               "text": r["text"], "site": "", "lang": ""} for r in survivors]
    svc = VectorService(spark, os.path.join(work, "catalog"),
                        ann_index=cfg["ann_index"])
    coll_dir = os.path.join(work, "catalog", INDEX)
    before = storage.inodes(coll_dir)
    phase("ingest", lambda: svc.insert_batch(points))
    after = storage.inodes(coll_dir)
    new_bytes, buckets = storage.write_delta(
        before, after, storage.newest_data_dir(coll_dir))
    stored = storage.stored_bytes(coll_dir)
    phase("index", lambda: svc.catalog.build_ann_index(INDEX))
    pass_cpu_s = cpu_s(spark) - cpu0
    rng = gen.random.Random(seed * 13 + 5)
    vocab = gen.vocabulary()
    by_tenant: dict[int, list[int]] = {}
    for p in points:
        by_tenant.setdefault(p["user_id"], []).append(p["id"])
    probes = []
    warm = cfg["warm_probes"]
    end = float("inf")  # the window starts after the warm-up probes
    while time.perf_counter() < end:
        i = len(probes)
        if i == warm:
            end = time.perf_counter() + seconds
        tenant = i % tenants
        text = gen.sentence(rng, vocab, 8)
        # warm-up probes compile the ANN path: checked, not timed
        probe = {"tenant": tenant, "text": text, "kind": "ann",
                 "warm": i < warm}
        group = (tracer.begin("read", "probe")
                 if tracer is not None and i >= warm else None)
        t0 = time.perf_counter()
        if (i + 1) % cfg["miss_every"]:
            hits = svc.query(tenant, {"query": {"text": text}, "limit": 10,
                                      "params": {"exact": False}})
            hits = [[h["id"], h["dist"]] for h in hits]
        else:
            # a one-off filter document: a new shape, so no memo serves it
            probe["exclude"] = rng.choice(by_tenant[tenant])
            flt = {"must_not": [{"has_id": [probe["exclude"]]}]}
            if (i + 1) // cfg["miss_every"] % 2:
                probe["kind"] = "search"
                found = svc.search(tenant, text, 10, query_filter=flt).collect()
                hits = [[r["id"], r["score"]] for r in found]
            else:
                probe["kind"] = "query"
                hits = svc.query(tenant, {"query": {"text": text},
                                          "limit": 10, "filter": flt})
                hits = [[h["id"], h["dist"]] for h in hits]
        probe["latency_s"] = time.perf_counter() - t0
        if group is not None:
            tracer.end(group)
        probe["hits"] = hits
        probes.append(probe)
    emit(event="report", setup_s=setup_s, session_s=session_s,
         pass_cpu_s=pass_cpu_s,
         phases=phases, n_docs=len(rows), expected=expected,
         survivors=[[p["id"], p["user_id"], p["text"]] for p in points],
         stored_bytes=stored, ingest_bytes=new_bytes,
         ingest_buckets=buckets, probes=probes,
         trace=None if tracer is None else tracer.summary())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    a = ap.parse_args()
    spark, session_s = start_session()
    tracer = None
    if a.trace:
        from spans import Tracer

        tracer = Tracer(spark)
    try:
        if WORKLOADS[a.workload]["kind"] == "serve":
            serve(spark, session_s, a.workload, a.seed, a.work, tracer)
        else:
            batch(spark, session_s, a.workload, a.seed, a.seconds, a.work,
                  tracer)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
