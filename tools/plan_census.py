"""Full-catalog physical-plan census generator.

Builds every registered query against $SPARK_GRAFT_SF_DIR (default
sf0.01), captures its executed plan, and writes PLAN_CENSUS.md — a
per-query table of plan facts plus the catalog-wide gate summary
(no CartesianProduct, no BatchEvalPython, Arrow only at allowlisted
codec/state boundaries, BroadcastNestedLoopJoin only as 1-row scalar
broadcasts).

Counts are physical plan nodes, walked with plan_audit.phys_walk: the
walk enters AQE's initial plan and the plan behind each cached
relation, and counts a cached subplan once however many scans read it,
so adding or removing a persist leaves the counts alone. "exch" counts
shuffle and broadcast exchanges; a ReusedExchange is not a second one.

Run: PYTHONPATH=. python tools/plan_census.py
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COLS = [
    ("xch", ("Exchange", "BroadcastExchange")),
    ("smj", ("SortMergeJoin",)),
    ("bhj", ("BroadcastHashJoin",)),
    ("bnlj", ("BroadcastNestedLoopJoin",)),
    ("cart", ("CartesianProduct",)),
    ("win", ("Window",)),
    ("pyrow", ("BatchEvalPython",)),
    ("topk", ("TakeOrderedAndProject",)),
]
ARROW = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandasWithState",
         "TransformWithStateInPandas")


def main() -> None:
    from pyspark.sql import SparkSession

    from sales_data_pipeline_spark.plan_audit import phys_walk
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
        names = Counter(
            n.nodeName()
            for n in phys_walk(df._jdf.queryExecution().executedPlan())
        )
        counts = {k: sum(names[t] for t in toks) for k, toks in COLS}
        counts["arrow"] = sum(names[t] for t in ARROW)
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
            "(plan shape is scale-invariant; counts are physical plan "
            "nodes from `plan_audit.phys_walk`, each cached subplan "
            "counted once; `exch` is shuffle plus broadcast exchanges, "
            "reused exchanges excluded).\n\n"
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
