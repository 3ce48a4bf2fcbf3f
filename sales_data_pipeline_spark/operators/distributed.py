"""Scale-safe global-order primitives.

A ``row_number()`` / cumulative-sum window with no PARTITION BY plans as
a single-partition ``WindowExec`` — every row funnels through one task,
which is the classic 100x scale-killer. ``ordered_scan`` computes the
same global rank / running totals with the textbook two-pass plan:

1. ``repartitionByRange`` on the sort key — each partition holds a
   contiguous key range, sorted locally in parallel;
2. per-partition window (partitioned by ``spark_partition_id()``) for
   the local rank / local prefix sums;
3. per-partition row counts and value totals (one tiny shuffled agg,
   <= num_partitions rows) turned into exclusive prefix offsets and
   broadcast back.

Global rank = local rank + offset; global cumsum = local cumsum +
offset. Works because RangePartitioning guarantees partition ``i``
holds keys ordered before partition ``i+1``, and Spark's range-bound
sampling is deterministic (seeded by partition index), so both
consumers of the exchange see identical bounds (the physical plan
reuses the exchange anyway).

No analog in the reference repo (its engine is single-node, a global
sort there is just a sort); this exists so catalog queries advertised
as scale-safe never ship a single-partition WindowExec.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sales_data_pipeline_spark.scale import bounded_broadcast

_PID = "__ds_pid"
_LRN = "__ds_lrn"


def ordered_scan(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    sum_cols: Sequence[tuple[str, str]] = (),
    rank_col: str = "rnk",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a global 1-based row number (``rank_col``) and, per
    ``(value_col, out_col)`` in ``sum_cols``, an inclusive running sum
    of ``value_col`` — all ordered by ``order_cols`` — without a
    single-partition window.

    ``order_cols`` must be a total order (add a unique tiebreaker) for
    deterministic output. ``value_col`` entries must be existing
    columns of ``df``.
    """
    sort_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )

    part = df.repartitionByRange(num_partitions, *sort_exprs).withColumn(
        _PID, F.spark_partition_id()
    )

    wloc = W.partitionBy(_PID).orderBy(*sort_exprs)
    wrun = wloc.rowsBetween(W.unboundedPreceding, W.currentRow)
    local_cols = {_LRN: F.row_number().over(wloc).cast("long")}
    for val, out in sum_cols:
        local_cols[f"__ds_run_{out}"] = F.sum(val).over(wrun)
    local = part.withColumns(local_cols)

    aggs = [F.count(F.lit(1)).alias("__ds_cnt")] + [
        F.sum(val).alias(f"__ds_tot_{out}") for val, out in sum_cols
    ]
    stats = part.groupBy(_PID).agg(*aggs)
    # Exclusive prefix over <= num_partitions rows, bounded by the
    # constant partition count, not data. The single-bucket partition
    # key (pid % 1 == 0; non-foldable, so the optimizer keeps it —
    # lit(0) would be pruned from the spec) keeps execution identical
    # (one task either way for <= 32 rows) while making the boundedness
    # explicit instead of tripping the planner's generic
    # single-partition warning, which is a false alarm here.
    woff = (
        W.partitionBy(F.col(_PID) % 1)
        .orderBy(_PID)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = stats.select(
        _PID,
        F.coalesce(F.sum("__ds_cnt").over(woff), F.lit(0)).alias("__ds_rn_off"),
        *[
            F.coalesce(F.sum(f"__ds_tot_{out}").over(woff), F.lit(0)).alias(
                f"__ds_off_{out}"
            )
            for _, out in sum_cols
        ],
    )

    joined = local.join(
        bounded_broadcast(offs, "one row per shuffle partition"), _PID
    )
    out_cols = {rank_col: F.col(_LRN) + F.col("__ds_rn_off")}
    for _, out in sum_cols:
        out_cols[out] = F.col(f"__ds_run_{out}") + F.col(f"__ds_off_{out}")
    internal = [_PID, _LRN, "__ds_rn_off"] + [
        c for _, out in sum_cols for c in (f"__ds_run_{out}", f"__ds_off_{out}")
    ]
    return joined.withColumns(out_cols).drop(*internal)


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints into a
    Z-order (Morton) key — sorting by it clusters rows that are close
    in BOTH dimensions, so a range-clustered write on the key gives
    every file a narrow min/max envelope on each dimension (multi-
    dimensional file skipping, where single-key clustering only prunes
    one dimension). Pure bit arithmetic — whole-stage codegen. The
    interleave runs in LONG: with 16-bit inputs the top bit of ``a``
    lands at position 31, which overflows an int into the sign bit
    (caught by the hypothesis test in tests/test_properties.py)."""
    al, bl = a.cast("long"), b.cast("long")
    out = None
    for i in range(bits):
        hi = F.shiftleft(F.shiftright(al, i).bitwiseAND(1), 2 * i + 1)
        lo = F.shiftleft(F.shiftright(bl, i).bitwiseAND(1), 2 * i)
        pair = hi.bitwiseOR(lo)
        out = pair if out is None else out.bitwiseOR(pair)
    return out


def normalize_to_bits(col: Column, lo: Column, hi: Column, bits: int = 16) -> Column:
    """Min/max-normalize a numeric column into [0, 2^bits): the rank
    space zorder_key interleaves. lo/hi normally come from a 1-row
    aggregate broadcast (cross join), so the normalization adds no
    shuffle of the data itself.

    NULL inputs map to bucket 0 by explicit choice (cold corner of the
    Z-curve, alongside the below-lo clamp) — without the guard they
    would silently land in the TOP bucket, because frac is null and
    least() skips nulls, so least(lit(top), null) = top."""
    span = (hi.cast("double") - lo.cast("double"))
    frac = F.when(span > 0, (col.cast("double") - lo) / span).otherwise(0.0)
    top = (1 << bits) - 1
    scaled = F.least(
        F.greatest(F.lit(0), F.floor(frac * (1 << bits)).cast("int")),
        F.lit(top),
    )
    return F.coalesce(scaled, F.lit(0)).cast("int")
