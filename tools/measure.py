"""Per-query optimization measurement harness.

For every registry + library query: time (a) driver-side DataFrame
construction (plan build, any bounded collects inside the query fn) and
(b) the noop-sink execution, count Spark jobs triggered during each, and
dump `.explain("formatted")` to <out>/<name>_<tag>.txt, plus a
measure_<tag>.json summary.

Usage: python tools/measure.py --tag TAG --out DIR [--sf-dir DIR] [name ...]
  --tag: file suffix, e.g. "before" / "after"
  --out: output dir, one per round (e.g. plans/r16)
  --sf-dir: the scale-factor data dir (default: $SPARK_GRAFT_SF_DIR)
  name...: restrict to these queries (default: all)
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tag", default="before")
    ap.add_argument("--out", required=True, type=Path,
                    help="output dir, e.g. plans/r16")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir is required when SPARK_GRAFT_SF_DIR is unset")
    tag, sf_dir, only, out_dir = args.tag, args.sf_dir, set(args.names), args.out

    from vectordb_cloud_spark import queries as qmod
    from vectordb_cloud_spark.session import get_spark

    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out_dir.mkdir(parents=True, exist_ok=True)

    # warmup (JVM, codegen, parquet footers)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def jobs_in(group: str, thunk):
        sc.setJobGroup(group, group)
        t0 = time.time()
        out = thunk()
        dt = time.time() - t0
        n = len(tracker.getJobIdsForGroup(group) or [])
        sc.setJobGroup("idle", "idle")
        return out, dt, n

    fns = dict(qmod.registry())
    fns.update(qmod.library())
    rows = []
    for name, fn in fns.items():
        if only and name not in only:
            continue
        # warmup call: absorbs lazy fixture builds/caches so the measured
        # numbers are steady-state (same convention as bench.py)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        _, t_build, j_build = jobs_in(
            f"{name}-fn-{tag}", lambda: fn(spark, sf_dir))
        df = fn(spark, sf_dir)
        _, t_exec, j_exec = jobs_in(
            f"{name}-exec-{tag}",
            lambda: df.write.format("noop").mode("overwrite").save())
        plan = _explain(df)
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        n_ex = plan.count("Exchange")
        rows.append({
            "name": name,
            "build_s": round(t_build, 3),
            "exec_s": round(t_exec, 3),
            "total_s": round(t_build + t_exec, 3),
            "jobs_build": j_build,
            "jobs_exec": j_exec,
            "exchanges": n_ex,
        })
        print(f"{name:34s} build={t_build:6.2f}s exec={t_exec:6.2f}s "
              f"jobs(fn/exec)={j_build}/{j_exec} exch={n_ex}", flush=True)

    rows.sort(key=lambda r: -r["total_s"])
    (out_dir / f"measure_{tag}.json").write_text(json.dumps(rows, indent=1))
    print("\ntop by total:")
    for r in rows[:20]:
        print(f"  {r['total_s']:6.2f}s  {r['name']}  (build {r['build_s']}, "
              f"exec {r['exec_s']}, jobs {r['jobs_build']}/{r['jobs_exec']}, "
              f"exch {r['exchanges']})")


if __name__ == "__main__":
    main()
