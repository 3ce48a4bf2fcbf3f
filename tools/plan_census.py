"""Full-catalog physical-plan census generator.

Builds every registered query against $SPARK_GRAFT_SF_DIR (default
sf0.01), captures its executed plan, and writes PLAN_CENSUS.md — a
per-query table of plan facts plus the catalog-wide gate summary
(no CartesianProduct, no BatchEvalPython, Arrow only at allowlisted
codec/state boundaries, BroadcastNestedLoopJoin only as 1-row scalar
broadcasts).

Counts are occurrences in the plan STRING: AQE re-renders subtrees, so
exchange counts overstate physical stages — they are comparable across
queries and across rounds, not absolute stage counts.

Run: PYTHONPATH=. python tools/plan_census.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COLS = [
    ("xch", "Exchange"),
    ("smj", "SortMergeJoin"),
    ("bhj", "BroadcastHashJoin"),
    ("bnlj", "BroadcastNestedLoopJoin"),
    ("cart", "CartesianProduct"),
    ("win", "Window"),
    ("pyrow", "BatchEvalPython"),
    ("topk", "TakeOrderedAndProject"),
]
ARROW = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandasWithState",
         "TransformWithStateInPandas")


def main() -> None:
    from pyspark.sql import SparkSession

    from sales_data_pipeline_spark.queries.base import (
        load_all,
        release_persisted,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("plan_census")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, spec in sorted(load_all().items()):
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        counts = {k: plan.count(tok) for k, tok in COLS}
        counts["xch"] -= plan.count("ReusedExchange")
        counts["arrow"] = sum(plan.count(t) for t in ARROW)
        rows.append((name, counts))
        release_persisted()
        spark.catalog.clearCache()

    bnlj = [n for n, c in rows if c["bnlj"]]
    arrow = [n for n, c in rows if c["arrow"]]
    cart = [n for n, c in rows if c["cart"]]
    pyrow = [n for n, c in rows if c["pyrow"]]
    with open("PLAN_CENSUS.md", "w") as f:
        f.write(
            "# Plan census — all catalog queries\n\n"
            f"Generated by `tools/plan_census.py` against `{sf_dir}` "
            "(plan shape is scale-invariant; counts are plan-string "
            "occurrences, AQE re-renders included — comparable, not "
            "absolute stage counts).\n\n"
            "## Catalog-wide gates (all enforced by "
            "tests/test_plan_shapes.py)\n\n"
            f"- `CartesianProduct`: **{len(cart)}** queries\n"
            f"- `BatchEvalPython` (row-wise Python): **{len(pyrow)}** "
            "queries\n"
            f"- Arrow/pandas nodes: **{len(arrow)}** queries, all "
            "allowlisted codec/sequential-state boundaries: "
            f"{', '.join(f'`{n}`' for n in arrow)}\n"
            f"- `BroadcastNestedLoopJoin`: **{len(bnlj)}** queries, every "
            "one a 1-row scalar-aggregate broadcast (a crossJoin with a "
            "global aggregate, whose 1-row side Catalyst broadcasts — a "
            "constant-size build side at any data scale): "
            f"{', '.join(f'`{n}`' for n in bnlj)}\n\n"
            "## Per-query plan facts\n\n"
            "| query | exch | SMJ | BHJ | scalar-BNLJ | window | "
            "arrow | top-k |\n|---|---|---|---|---|---|---|---|\n"
        )
        for name, c in rows:
            f.write(
                f"| `{name}` | {c['xch']} | {c['smj']} | {c['bhj']} | "
                f"{c['bnlj']} | {c['win']} | {c['arrow']} | {c['topk']} |\n"
            )
    print(f"PLAN_CENSUS.md written: {len(rows)} queries")


if __name__ == "__main__":
    main()
