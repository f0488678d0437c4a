"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 8 --trace 0

Starts the engine in a child process (``engine.py``), drives it, checks
every response against a NumPy oracle, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's layers and
reports the per-layer metrics instead (see README.md). Everything it
writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # a run must end within 180 s
T0 = time.perf_counter()

E2E = {"setup_s": "s", "cpu_ms_per_op": "ms",
       "stored_bytes_per_user_byte": "ratio"}
# wall-clock figures: printed on the line before the result, and as
# ``trace.*`` per-layer metrics; this host's run-to-run spread of them is
# wider than any bound a gate could use (README.md, Steadiness)
WALL = {"p50_ms": "ms", "tail_ms": "ms", "throughput_per_s": "1/s"}


def per_layer_units() -> dict[str, str]:
    from spans import SPARK_COUNTERS

    units = {
        "http_app.self_ms": "ms", "http_app.inbound_ms": "ms",
        "http_app.outbound_ms": "ms",
        "http_app.search_p50_ms": "ms", "http_app.query_p50_ms": "ms",
        "http_app.batch_p50_ms": "ms",
        "api.shape_hit_ratio": "ratio", "api.plan_hit_ratio": "ratio",
        "api.construct_ms": "ms", "api.collect_ms": "ms",
        "functions.embedding.mock_vector_ms": "ms",
        "filters.compile_ms": "ms", "operators.knn.search_ms": "ms",
        "query_api.query_points_ms": "ms",
        "collections.meta_reads_per_req": "count",
        "collections.read_for_user_ms": "ms",
        "collections.upsert_ms": "ms",
        "collections.buckets_rewritten_per_write": "count",
        "collections.write_amp": "ratio",
        "collections.build_ann_index_s": "s",
        "collections.search_ann_ms": "ms",
        "collections.ann_recall_at_10": "ratio",
        "pipeline.curate_s": "s", "pipeline.construct_ms": "ms",
    }
    units.update({f"trace.{k}": u for k, u in {**E2E, **WALL}.items()})
    for group in ("read", "curate", "ingest", "index"):
        for c in SPARK_COUNTERS:
            units[f"spark.{group}.{c}"] = ("s" if c.endswith("_s") else
                                          "bytes" if c.endswith("bytes")
                                          else "count")
    return units


# per-layer metrics with no meaning without HTTP serving
SERVE_ONLY = ("http_app.inbound_ms", "http_app.outbound_ms",
              "http_app.search_p50_ms", "http_app.query_p50_ms",
              "http_app.batch_p50_ms",
              "api.shape_hit_ratio", "api.plan_hit_ratio")

# per-layer metrics of the batch path
BATCH_ONLY = ("collections.upsert_ms", "collections.buckets_rewritten_per_write",
              "collections.write_amp", "collections.ann_recall_at_10",
              "pipeline.curate_s")

# per-layer span (self time) metrics over read requests: metric -> span
READ_SPANS = {
    "http_app.self_ms": "http_app", "api.construct_ms": "api",
    "api.collect_ms": "api.collect",
    "functions.embedding.mock_vector_ms": "functions.embedding.mock_vector",
    "filters.compile_ms": "filters.compile",
    "operators.knn.search_ms": "operators.knn.search",
    "query_api.query_points_ms": "query_api.query_points",
    "collections.read_for_user_ms": "collections.read_for_user",
    "collections.search_ann_ms": "collections.search_ann",
}


def layer_metrics(trace: dict) -> dict[str, float]:
    """Per-layer numbers from the engine's span summary: read-path spans
    per read request, batch spans per phase."""
    from spans import SPARK_COUNTERS

    def kind(k):
        return trace.get(k) or {"self_s": {}, "calls": {}, "units": 0,
                                "spark": {}}

    read = kind("read")
    out = {}
    reads = read["units"]
    for metric, span in READ_SPANS.items():
        out[metric] = 1e3 * read["self_s"].get(span, 0.0) / reads if reads else 0.0
    out["collections.meta_reads_per_req"] = (
        read["calls"].get("collections.meta", 0) / reads if reads else 0.0)
    out["collections.upsert_ms"] = 1e3 * kind("ingest")["self_s"].get(
        "collections.upsert", 0.0)
    out["collections.build_ann_index_s"] = sum(
        k["self_s"].get("collections.build_ann_index", 0.0)
        for k in trace.values())
    out["pipeline.construct_ms"] = 1e3 * kind("curate")["self_s"].get(
        "pipeline.construct", 0.0)
    for g in ("read", "curate", "ingest", "index"):
        k = kind(g)
        for c in SPARK_COUNTERS:
            out[f"spark.{g}.{c}"] = (k["spark"][c] / k["units"]
                                     if k["units"] else 0.0)
    return out


def _events(proc) -> queue.Queue:
    """The engine's stdout JSON events, read on a thread."""
    q: queue.Queue = queue.Queue()

    def pump():
        for line in proc.stdout:
            if line.startswith("{"):
                q.put(json.loads(line))
        q.put(None)

    threading.Thread(target=pump, daemon=True).start()
    return q


def _next_event(q: queue.Queue, deadline: float) -> dict:
    ev = q.get(timeout=max(0.1, deadline - time.monotonic()))
    if ev is None:
        raise RuntimeError("engine exited before reporting")
    return ev


def run_serve(a, events, deadline) -> tuple[dict, dict, int, int]:
    """Drive a serving workload; returns ``(metrics, samples per
    latency metric, attempted, failed)``."""
    import client
    import gen
    from stats import percentile
    from workloads import N_POINTS, N_TENANTS, tail_of

    pts = gen.points(a.seed, N_POINTS, N_TENANTS)
    shadow = client.Shadow(pts)  # embeds while the engine loads
    reqs = client.Requests(a.workload, a.seed, pts)
    ready = _next_event(events, deadline)
    port = ready["port"]
    t_ready = time.perf_counter()
    warm = client.closed_loop(port, reqs.warmup(), float("inf"))
    client.control(port, "reset")
    t_warm = time.perf_counter()
    sched = client.closed_loop(port, reqs.stream(), a.seconds)
    print(f"perfbench: ready after {t_ready - T0:.1f} s, warm-up "
          f"{t_warm - t_ready:.1f} s ({len(warm)} requests), window "
          f"{time.perf_counter() - t_warm:.1f} s", file=sys.stderr)
    report = client.control(port, "report")
    client.control(port, "stop")

    failed = 0
    for r in warm + sched:
        r["ok"] = shadow.check(r)
        if not r["ok"]:
            failed += 1
            print(f"perfbench: check failed: {r['kind']} tenant={r['tenant']}"
                  f" status={r['status']} {r.get('error', '')}",
                  file=sys.stderr)

    def lat_ms(kinds):
        return [1e3 * (r["done"] - r["sent"]) for r in sched
                if r["kind"] in kinds and r["ok"]]

    reads = lat_ms(("search", "search_filter", "query", "batch"))
    samples = {"p50_ms": len(reads), "tail_ms": len(reads),
               "throughput_per_s": len(sched), "cpu_ms_per_op": len(sched)}
    e2e = {
        "setup_s": ready["setup_s"],
        "p50_ms": percentile(reads, 50),
        "tail_ms": percentile(reads, tail_of(a.workload, a.seconds)),
        "throughput_per_s": len(sched) / (sched[-1]["done"] - sched[0]["sent"]),
        "cpu_ms_per_op": 1e3 * report["cpu_s"] / report["n"],
        "stored_bytes_per_user_byte":
            report["stored_bytes"] / shadow.user_bytes(),
    }
    print(f"perfbench: {len(sched)} requests, tail "
          f"p{tail_of(a.workload, a.seconds)}, load_s {ready['load_s']:.2f}, "
          f"engine cpu {report['cpu_s']:.2f} s", file=sys.stderr)
    for kind in sorted({r["kind"] for r in sched}):
        v = lat_ms((kind,))
        svc = [1e3 * (r["app_out"] - r["app_in"]) for r in sched
               if r["kind"] == kind and "app_in" in r]
        if v:
            print(f"perfbench: {kind:14} n={len(v):3} p50={percentile(v, 50):7.1f}"
                  f" p90={percentile(v, 90):7.1f} max={max(v):7.1f} ms,"
                  f" in app p50={percentile(svc, 50):7.1f} ms", file=sys.stderr)
    if not a.trace:
        return e2e, samples, len(warm) + len(sched), failed
    m = layer_metrics(report["trace"])
    m.update(dict.fromkeys(BATCH_ONLY, 0.0))
    # over single reads: /query_batch bodies do not go through the memos
    singles = sum(r["kind"] != "batch" for r in sched)
    m["api.shape_hit_ratio"] = report["shape_hits"] / singles
    m["api.plan_hit_ratio"] = report["plan_hits"] / singles
    # sent -> WSGI app entered (connect, request parsing);
    # app returned -> response read by the client
    served = [r for r in sched if "app_in" in r]
    m["http_app.inbound_ms"] = 1e3 * sum(
        r["app_in"] - r["sent"] for r in served) / len(served)
    m["http_app.outbound_ms"] = 1e3 * sum(
        r["done"] - r["app_out"] for r in served) / len(served)
    for route, kinds in (("search", ("search", "search_filter")),
                         ("query", ("query",)), ("batch", ("batch",))):
        v = lat_ms(kinds)
        m[f"http_app.{route}_p50_ms"] = percentile(v, 50) if v else 0.0
    m.update({f"trace.{k}": v for k, v in e2e.items()})
    return m, samples, len(warm) + len(sched), failed


def run_batch(a, events, deadline) -> tuple[dict, dict, int, int]:
    import numpy as np

    import gen
    from stats import percentile
    from workloads import tail_of

    rep = _next_event(events, deadline)
    failed = int(len(rep["survivors"]) != rep["expected"])
    if failed:
        print(f"perfbench: {len(rep['survivors'])} survivors, expected "
              f"{rep['expected']}", file=sys.stderr)
    by_tenant: dict[int, list] = {}
    for pid, tenant, text in rep["survivors"]:
        by_tenant.setdefault(tenant, []).append((pid, text))
    vecs = {t: (np.array([p for p, _ in rows]), gen.embed([x for _, x in rows]))
            for t, rows in by_tenant.items()}
    recalls = []
    for p in rep["probes"]:
        ids, v = vecs[p["tenant"]]
        d = gen.l2(v, gen.embed([p["text"]])[0])
        if p["kind"] != "ann":  # exact read: the oracle's top-10
            keep = ids != p["exclude"]
            failed += not gen.check_topk(ids[keep], d[keep],
                                         [tuple(h) for h in p["hits"]], 10)
            continue
        exact = set(ids[np.argsort(d, kind="stable")[:10]].tolist())
        got = {h[0]: h[1] for h in p["hits"]}
        true_d = dict(zip(ids.tolist(), d.tolist()))
        dists = [h[1] for h in p["hits"]]
        good = (len(got) == min(10, len(ids))
                and all(abs(true_d.get(i, -1.0) - s) <= 1e-6 * max(1.0, s)
                        for i, s in got.items())
                and dists == sorted(dists))
        failed += not good
        recalls.append(len(exact & set(got)) / len(exact))
    lat = [1e3 * p["latency_s"] for p in rep["probes"]
           if p["kind"] == "ann" and not p["warm"]]
    user = sum(len(json.dumps({"id": pid, "user_id": t, "text": text,
                               "site": "", "lang": ""}).encode())
               for pid, t, text in rep["survivors"])
    ph = rep["phases"]
    e2e = {
        "setup_s": rep["setup_s"],
        "p50_ms": percentile(lat, 50),
        "tail_ms": percentile(lat, tail_of(a.workload, a.seconds)),
        "throughput_per_s": rep["n_docs"] / (ph["curate"] + ph["ingest"]
                                             + ph["index"]),
        "cpu_ms_per_op": 1e3 * rep["pass_cpu_s"] / rep["n_docs"],
        "stored_bytes_per_user_byte": rep["stored_bytes"] / user,
    }
    print(f"perfbench: phases {ph}, {len(lat)} probes, recall "
          f"{sum(recalls) / max(1, len(recalls)):.3f}", file=sys.stderr)
    samples = {"p50_ms": len(lat), "tail_ms": len(lat),
               "throughput_per_s": rep["n_docs"], "cpu_ms_per_op": rep["n_docs"]}
    attempted = 3 + len(rep["probes"])  # curate, ingest, index, probes
    if not a.trace:
        return e2e, samples, attempted, failed
    m = layer_metrics(rep["trace"])
    m.update(dict.fromkeys(SERVE_ONLY, 0.0))
    m["collections.buckets_rewritten_per_write"] = rep["ingest_buckets"]
    m["collections.write_amp"] = rep["ingest_bytes"] / user
    m["collections.ann_recall_at_10"] = sum(recalls) / max(1, len(recalls))
    m["pipeline.curate_s"] = ph["curate"]
    m.update({f"trace.{k}": v for k, v in e2e.items()})
    return m, samples, attempted, failed


def _stop_group(proc) -> None:
    """End the engine and everything it started (the JVM, Python
    workers), and wait until all of them are gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + 10
        while time.monotonic() < end:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "vectordb_cloud_spark")):
        print("perfbench: engine sources (vectordb_cloud_spark/) not found "
              f"next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable,
               SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
               SPARK_GRAFT_DRIVER_MEM="2g",
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    log_path = os.path.join(ROOT, ".perfbench_work", f"{a.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"),
             "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--work", work],
            stdout=subprocess.PIPE, stderr=log, text=True, cwd=work, env=env,
            start_new_session=True)
        try:
            events = _events(proc)
            fn = run_serve if WORKLOADS[a.workload]["kind"] == "serve" else run_batch
            metrics, samples, attempted, failed = fn(a, events, deadline)
        except Exception:
            print(f"perfbench: run failed; engine log: {log_path}",
                  file=sys.stderr)
            raise
        finally:
            _stop_group(proc)
            shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: wall {time.perf_counter() - T0:.1f} s", file=sys.stderr)
    units = per_layer_units() if a.trace else E2E
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    # how many samples each latency, rate or CPU metric reduces (the
    # result line below carries only values and units)
    info = {"samples": samples}
    if not a.trace:
        info["wall"] = {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in WALL.items()}
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
