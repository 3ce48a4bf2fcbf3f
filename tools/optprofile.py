#!/usr/bin/env python
"""Per-query optimization profiler (round 12, guide §1 "measure first").

For each named query it records, per pass:
  - build_s:  wall spent inside fn() constructing the DataFrame (driver
    side — includes any eager work the query does before returning);
  - plan_s:   wall to produce explain("formatted") for the returned DF
    (analysis + optimization + physical planning, no execution) —
    planning-bound queries show up here;
  - exec_s:   wall of the noop-sink write (the bench's timed action);
  - jobs:     Spark jobs launched by the action (statusTracker delta).

Usage:
  python tools/optprofile.py --out /tmp/prof.json q1 q2 ...
  python tools/optprofile.py --headline-top 25
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def explain_str(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def profile_one(spark, spec, sf_dir: str, passes: int):
    from sales_data_pipeline_spark.queries.base import release_persisted

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = {"passes": []}
    for _ in range(passes):
        release_persisted()
        spark.catalog.clearCache()
        jobs_before = len(tracker.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        t1 = time.perf_counter()
        explain_str(df)
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        jobs_after = len(tracker.getJobIdsForGroup(None) or [])
        out["passes"].append(
            {
                "build_s": round(t1 - t0, 3),
                "plan_s": round(t2 - t1, 3),
                "exec_s": round(t3 - t2, 3),
                "total_s": round(t3 - t0, 3),
                "jobs": jobs_after - jobs_before,
            }
        )
    release_persisted()
    spark.catalog.clearCache()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--headline-top",
        type=int,
        default=0,
        help="profile the N most expensive headline queries per "
        "BENCH_FULL.json instead of explicit names",
    )
    args = ap.parse_args()

    from sales_data_pipeline_spark.queries.base import load_all
    from sales_data_pipeline_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()

    names = list(args.names)
    if args.headline_top:
        import re

        bench_src = open(os.path.join(_REPO_ROOT, "bench.py")).read()
        m = re.search(r"HEADLINE = \[(.*?)\]", bench_src, re.S)
        headline = re.findall(r'"([a-z0-9_]+)"', m.group(1))
        full = json.load(open(os.path.join(_REPO_ROOT, "BENCH_FULL.json")))
        q = full["queries"]
        ranked = sorted(
            (n for n in headline if n in q), key=lambda n: -q[n]
        )
        names.extend(ranked[: args.headline_top])

    spark = build_session("optprofile")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()

    results: dict[str, dict] = {}
    for name in names:
        spec = registry.get(name)
        if spec is None:
            print(f"!! unknown query: {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"optprofile:{name}")
        r = profile_one(spark, spec, sf_dir, args.passes)
        spark.sparkContext.setJobDescription(None)
        results[name] = r
        best = min(p["total_s"] for p in r["passes"])
        p0 = r["passes"][-1]
        print(
            f"{name}: best_total={best:.2f}s last(build={p0['build_s']:.2f} "
            f"plan={p0['plan_s']:.2f} exec={p0['exec_s']:.2f} "
            f"jobs={p0['jobs']})",
            flush=True,
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
