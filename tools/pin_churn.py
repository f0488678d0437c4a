"""Cost of exact reads where the pinned tier's reuse does not hold.

Drives ``VectorService.query`` in-process (no HTTP) with distinct-text
dense reads, so every read after a shape's first is a shape-template hit.
Each phase breaks one property of the ``serve_hot`` benchmark (a few small
tenants read over and over, no writes):

  churn    6 small tenants (300 points) read in turn, an insert every
           12 reads: a write makes every shape cold again, so each set
           gets one cold read and one template hit per data version;
  thrash   14 tenants of ~5.6 MiB (500 points with ~11 KB payloads) read
           in turn: more sets than the 64 MiB pin budget holds;
  overcap  3 tenants of ~10 MiB (900 points), over the per-set cap, read
           in turn with an insert every 6 reads;
  filtered 6 small tenants (300 points) read through their plain shape and
           three filter documents each (site, lang, has_id), no writes:
           a tenant's filtered sets beside its own unfiltered one.

A run loads one phase's tenants into a fresh collection, warms the JVM
with 40 reads that no memo serves (a new filter document each), reads
every tenant's shapes twice, then measures ``--reads`` reads. It prints
one JSON line: CPU (this process and its JVM) and wall time per read, the
share of reads that were template hits, and the share of those the pinned
tier served (null when the service has no ``memo_stats``). Point ``--src`` at
two checkouts, alternating, to compare them:

    python tools/pin_churn.py --phase thrash --src . --seed 1
    python tools/pin_churn.py --phase thrash --src /other/checkout --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
from pathlib import Path

WORDS = ("alpha beta gamma delta river stone cloud maple ember quartz "
         "harbor lantern meadow signal copper willow").split()

# phase -> (tenants, points per tenant, payload padding, reads per write)
PHASES = {"churn": (6, 300, 0, 12), "thrash": (14, 500, 11_000, 0),
          "overcap": (3, 900, 11_000, 6), "filtered": (6, 300, 0, 0)}


def _cpu_s(spark) -> float:
    jvm = spark._jvm.java.lang.ProcessHandle.current().info()
    return time.process_time() + jvm.totalCpuDuration().get().toNanos() / 1e9


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--phase", required=True, choices=sorted(PHASES))
    ap.add_argument("--src", default=str(Path(__file__).resolve().parents[1]),
                    help="checkout whose vectordb_cloud_spark is measured")
    ap.add_argument("--reads", type=int, default=56)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    src = str(Path(args.src).resolve())
    sys.path.insert(0, src)
    # Spark's Python workers (the ingest's embedding UDF) import the same
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [src, os.environ.get("PYTHONPATH")]))
    from vectordb_cloud_spark.api import VectorService
    from vectordb_cloud_spark.session import get_spark

    n_tenants, size, pad, write_every = PHASES[args.phase]
    tenants = list(range(1, n_tenants + 1))
    rng = random.Random(args.seed)
    spark = get_spark("pin-churn")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="pin_churn_")
    try:
        svc = VectorService(spark, root)
        svc.insert_batch([
            {"id": i, "user_id": tenants[i // size], "site": f"s{i % 3}",
             "lang": ("en", "de")[i % 2],
             "text": " ".join(rng.choice(WORDS) for _ in range(8))
             + " " + "p" * pad}
            for i in range(n_tenants * size)])
        next_id = n_tenants * size

        def filters(t):
            """The filter documents read on tenant ``t`` (None: plain)."""
            if args.phase != "filtered":
                return [None]
            first = (t - 1) * size
            return [None,
                    {"must": [{"key": "site", "match": {"value": "s1"}}]},
                    {"must": [{"key": "lang", "match": {"value": "en"}}]},
                    {"must": [{"has_id": list(range(first, first + 100))}]}]

        def read(n, t, flt=None):
            nonlocal next_id
            if write_every and n and n % write_every == 0:
                svc.insert(next_id, t, "fresh words", "s", "en")
                next_id += 1
            body = {"query": {"text": f"{n} {rng.random()}"}, "limit": 10}
            if flt is not None:
                body["filter"] = flt
            svc.query(t, body)

        def stats():
            m = getattr(svc, "memo_stats", lambda: {})()
            return svc._shape_hits, m.get("pin_hits")

        for n in range(40):  # no memo serves these
            read(0, tenants[n % n_tenants],
                 {"must_not": [{"has_id": [-1 - n]}]})
        for t in tenants * 2:  # cold shapes, then one template hit each
            for flt in filters(t):
                read(0, t, flt)
        (shape0, pin0), cpu0, t0 = stats(), _cpu_s(spark), time.perf_counter()
        for n in range(args.reads):
            t = tenants[n % n_tenants]
            shapes = filters(t)
            read(n, t, shapes[n // n_tenants % len(shapes)])
        wall, cpu = time.perf_counter() - t0, _cpu_s(spark) - cpu0
        shape1, pin1 = stats()
        hits = shape1 - shape0
        print(json.dumps({
            "phase": args.phase, "seed": args.seed, "reads": args.reads,
            "cpu_ms_per_read": round(1e3 * cpu / args.reads, 2),
            "wall_ms_per_read": round(1e3 * wall / args.reads, 2),
            "template_hit_share": round(hits / args.reads, 3),
            "pin_served_share": (None if pin0 is None or not hits
                                 else round((pin1 - pin0) / hits, 3))}))
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
