"""Unit tests for operators/distributed.ordered_scan (the global
rank / prefix-sum primitive) and the query order of
__spark_entry__."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F


class TestOrderedScan:
    def _frame(self, spark, n=1000, partitions=7):
        # values deliberately non-unique so the tiebreaker matters
        return (
            spark.range(n)
            .select(
                F.col("id"),
                (F.col("id") % 13).alias("key"),
                ((F.col("id") * 37) % 101).alias("val"),
            )
            .repartition(partitions)  # scramble physical order
        )

    def test_rank_matches_global_window(self, spark):
        from sales_data_pipeline_spark.operators.distributed import (
            ordered_scan,
        )

        df = self._frame(spark)
        got = ordered_scan(
            df, [F.col("val"), F.col("id")], rank_col="r"
        ).select("id", "r")
        expect = df.select(
            "id",
            F.row_number()
            .over(W.orderBy(F.col("val"), F.col("id")))
            .cast("long")
            .alias("r"),
        )
        assert got.exceptAll(expect).count() == 0
        assert expect.exceptAll(got).count() == 0

    def test_prefix_sum_matches_global_window(self, spark):
        from sales_data_pipeline_spark.operators.distributed import (
            ordered_scan,
        )

        df = self._frame(spark)
        got = ordered_scan(
            df,
            [F.desc("val"), F.asc("id")],
            sum_cols=[("val", "cum")],
            rank_col="r",
        ).select("id", "r", "cum")
        w = W.orderBy(F.desc("val"), F.asc("id"))
        expect = df.select(
            "id",
            F.row_number().over(w).cast("long").alias("r"),
            F.sum("val")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("cum"),
        )
        assert got.exceptAll(expect).count() == 0
        assert expect.exceptAll(got).count() == 0

    def test_more_partitions_than_rows(self, spark):
        from sales_data_pipeline_spark.operators.distributed import (
            ordered_scan,
        )

        df = spark.createDataFrame(
            [(3,), (1,), (2,)], "x int"
        )
        rows = {
            r.x: r.r
            for r in ordered_scan(
                df, ["x"], rank_col="r", num_partitions=16
            ).collect()
        }
        assert rows == {1: 1, 2: 2, 3: 3}

    def test_no_unbounded_window_in_plan(self, spark):
        import re

        from sales_data_pipeline_spark.operators.distributed import (
            ordered_scan,
        )

        plan = (
            ordered_scan(self._frame(spark), ["val", "id"], rank_col="r")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        hits = re.findall(
            r"windowspecdefinition\(([A-Za-z_][\w.]*#\d+L?) (?:ASC|DESC)",
            plan,
        )
        assert all(h.startswith("__ds_pid") for h in hits), hits
        assert "rangepartitioning" in plan


class TestDriverWindowRotation:
    def test_oracle_keys_subset_and_order(self):
        import __spark_entry__ as e

        qs, osql = list(e.queries()), e.oracle_sql()
        assert qs == sorted(qs)
        assert set(osql) <= set(qs)
        # oracle dict preserves the query order
        pos = {n: i for i, n in enumerate(qs)}
        opos = [pos[n] for n in osql]
        assert opos == sorted(opos)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
