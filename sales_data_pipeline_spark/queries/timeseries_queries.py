"""Time-series catalog queries: as-of join, range join, range-frame
windows, ntile — operators beyond the reference surface that a
time-aware analytics engine needs (operators/timeseries.py).

DuckDB expresses as-of/range joins natively (ASOF JOIN, inequality
join), which makes it a strong oracle for our composed-from-builtins
Spark formulations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sales_data_pipeline_spark.operators import timeseries
from sales_data_pipeline_spark.queries.base import (
    det_round,
    det_sum,
    query,
    table,
)
from sales_data_pipeline_spark.scale import bounded_broadcast

SEVEN_DAYS_US = 7 * 86400 * 1_000_000


@query(
    "asof_join_purchase_view",
    oracle="""
        SELECT l.event_id, l.user_id, l.ts, l.value,
               r.ts AS asof_ts, r.value AS asof_value
        FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    survey="timeseries-ext: as-of join (operators/timeseries.py)",
    doc="Each purchase attaches the user's most recent prior-or-equal "
    "view. Spark side is the union+window formulation (ONE shuffle, no "
    "join, no candidate pairs); oracle is DuckDB's native ASOF JOIN.",
    tags=("timeseries",),
)
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = timeseries.asof_join(
        purchases, views, on="user_id", value_cols=["value"]
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "asof_ts", "asof_value"
    )


@query(
    "range_join_error_clicks",
    oracle="""
        SELECT l.user_id, l.ts,
               CAST(count(r.ts) AS BIGINT) AS n_in_range
        FROM (SELECT * FROM events WHERE event_type = 'error') l
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
          ON l.user_id = r.user_id
          AND epoch_us(r.ts) > epoch_us(l.ts) - 3600000000
          AND epoch_us(r.ts) <= epoch_us(l.ts)
        GROUP BY 1, 2
    """,
    survey="timeseries-ext: range join (operators/timeseries.py)",
    doc="Clicks within the hour before each error, per user. Spark side "
    "bucketizes into 1h epoch bands and equi-joins on (user, band) — "
    "bounded 2-bucket fan-out instead of an inequality join.",
    tags=("timeseries",),
)
def range_join_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return timeseries.range_join_count(
        errors, clicks, on="user_id", lookback_seconds=3600
    )


@query(
    "rolling_7d_user_value",
    oracle="""
        SELECT event_id, user_id, ts,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
               ) / 100.0 AS rolling_value
        FROM events
    """,
    survey="timeseries-ext: range-frame window (SURVEY §2.5 gap)",
    doc="7-day trailing per-user value sum via a RANGE frame over "
    "microsecond event time. Cents-integer accumulation inside the "
    "frame keeps the windowed sum exact on both engines.",
    tags=("timeseries",),
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-SEVEN_DAYS_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).over(w)
            / 100.0
        ).alias("rolling_value"),
    )


@query(
    "ntile_customer_quartiles",
    oracle="""
        SELECT c_custkey,
               CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey)
                 AS INTEGER) AS quartile
        FROM customer
    """,
    survey="timeseries-ext: ntile ranking (SURVEY §2.5 gap)",
    doc="Balance quartiles with a total-order tiebreak (ntile over a "
    "non-unique key is partition-order nondeterminism otherwise). "
    "Computed WITHOUT a global ntile window (single-partition "
    "WindowExec): a range-partitioned distributed rank "
    "(operators/distributed.ordered_scan) plus the exact ntile bucket "
    "formula — the first n%4 buckets get floor(n/4)+1 rows — "
    "reproduces ntile(4) semantics bit-for-bit at any customer "
    "cardinality.",
    tags=("timeseries",),
)
def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_spark.operators.distributed import ordered_scan

    c = table(spark, sf_dir, "customer")
    ranked = ordered_scan(
        c.select("c_custkey", "c_acctbal"),
        [F.col("c_acctbal"), F.col("c_custkey")],
        rank_col="__rnk",
    )
    with_n = ranked.crossJoin(
        c.agg(F.count(F.lit(1)).alias("__n"))
    )

    def idiv(a, b):  # exact integer division over positive longs
        return (a - a % b) / b

    n = F.col("__n")
    r = F.col("__rnk")
    base = idiv(n, F.lit(4))  # small-bucket size
    rem = n % 4  # number of (base+1)-sized leading buckets
    thresh = rem * (base + 1)  # ranks <= thresh land in a big bucket
    big = idiv(r + base, base + 1)  # ceil(r / (base+1))
    small_den = F.greatest(base, F.lit(1))  # base=0 only when thresh>=n
    small = rem + idiv(r - thresh + small_den - 1, small_den)
    return with_n.select(
        "c_custkey",
        F.when(r <= thresh, big).otherwise(small).cast("int").alias("quartile"),
    )


@query(
    "gapfill_daily_revenue",
    oracle="""
        WITH spine AS (
          SELECT CAST(d AS DATE) AS day
          FROM generate_series(DATE '1996-01-01', DATE '1996-02-29',
                               INTERVAL 1 DAY) AS t(d)
        ), daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   / 100.0 AS revenue,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1996-03-01'
          GROUP BY day
        )
        SELECT strftime(spine.day, '%Y-%m-%d') AS day,
               COALESCE(daily.revenue, 0.0) AS revenue,
               COALESCE(daily.n_orders, 0) AS n_orders
        FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
    survey="timeseries-ext: calendar-spine gap filling (sequence + "
    "explode + left join — densifies sparse daily aggregates)",
    doc="Daily revenue over a fixed two-month window, zero-filled on "
    "days with no orders. The calendar spine is generated engine-side "
    "(sequence -> explode from a 1-row seed: ~60 rows), so gap "
    "detection never depends on which days happen to have data — the "
    "classic time-series densification every dashboard needs. At "
    "100 TB the daily aggregate is one partial-agg shuffle; the spine "
    "join is UNHINTED (a preserved left side cannot be "
    "build-broadcast — Spark drops such a hint with a WARN), and "
    "Catalyst/AQE broadcasts the calendar-bounded daily agg "
    "(<= 60 rows at any sf) from stats.",
    tags=("timeseries",),
)
def gapfill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-03-01")
    )
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        det_sum(F.col("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("date"),
                F.lit("1996-02-29").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    # NO broadcast hint: the spine is the PRESERVED side of the left
    # join, and Spark cannot build-broadcast a preserved side — the
    # old F.broadcast(spine) hint was silently dropped with a
    # HintErrorLogger WARN (round-9 find). The join is left unhinted:
    # `daily` is a calendar-bounded keyed agg (<= 60 rows at ANY sf,
    # the date filter bounds the key space), so Catalyst/AQE
    # broadcasts it from stats, which is the plan the hint was
    # wrongly trying to force.
    return (
        spine
        .join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0).cast("bigint")).alias("n_orders"),
        )
    )


@query(
    "locf_forward_fill",
    oracle="""
        SELECT event_id, user_id, event_type,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_purchase_value
        FROM events
    """,
    survey="timeseries-ext: LOCF forward fill (last_value IGNORE NULLS "
    "over an unbounded-preceding frame — sparse-signal imputation)",
    doc="Every event annotated with the user's most recent purchase "
    "value at that point — last-observation-carried-forward, the "
    "standard imputation for sparse sensors/prices. One shuffle on "
    "user_id, one ordered pass per partition; the carried value is a "
    "bit-exact copy of a stored double, so cross-engine parity is "
    "exact. NULL until the user's first purchase (no fabricated "
    "zeros). The (ts, event_id) ordering is a total order, so the "
    "fill is deterministic under any partitioning.",
    tags=("timeseries",),
)
def locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_purchase_value"),
    )


# ---------------------------------------------------------------------------
# Smoothing / anomaly detection over the daily revenue series.
#
# Both queries aggregate orders to a daily series first (det_sum cents ->
# exact grid doubles), so the windowed arithmetic downstream starts from
# bit-identical inputs on both engines. The global ordered window runs on
# the AGGREGATED series (~1 row/day — a few thousand rows even at 100 TB
# of raw orders), so the single-partition window is not a scale concern;
# the heavy lifting is the partial-agg groupBy shuffle before it.
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.3
EWMA_LAGS = 10
_EWMA_W = [EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** j for j in range(EWMA_LAGS)]

_DAILY_SQL = """
  daily AS (
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
           SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
             AS revenue
    FROM orders
    GROUP BY 1
  )
"""


def _ewma_sql() -> str:
    num = "0.0"
    den = "0.0"
    for j, w in enumerate(_EWMA_W):
        x = "revenue" if j == 0 else f"LAG(revenue, {j}) OVER win"
        num += f" + {w!r} * COALESCE({x}, 0.0)"
        den += f" + CASE WHEN {x} IS NULL THEN 0.0 ELSE {w!r} END"
    return (
        "SELECT day, revenue,\n"
        f"  FLOOR(({num}) / ({den}) * 10000 + 0.5) / 10000.0 AS ewma\n"
        f"FROM daily\nWINDOW win AS (ORDER BY day)"
    )


@query(
    "ewma_daily_revenue",
    oracle=f"WITH {_DAILY_SQL} {_ewma_sql()}",
    survey="timeseries-ext: exponentially weighted moving average "
    "(truncated-kernel EWMA as a lag-weighted window projection)",
    doc="EWMA (alpha=0.3, 10-day kernel) over daily revenue. The kernel "
    "is unrolled into a literal-weight lag chain — pure codegen window "
    "projection, no UDF, no recursion; weights renormalize over the "
    "rows that exist so the series starts unbiased. Identical "
    "left-fold double chains on both engines make it hash-exact.",
    tags=("timeseries",),
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(det_sum(F.col("o_totalprice"), 2).alias("revenue"))
    # day-grain aggregate input (calendar-bounded); explicit
    # single-bucket partition key, same execution, no empty spec
    win = W.partitionBy(F.length(F.col("day")) % 1).orderBy("day")
    num: F.Column = F.lit(0.0)
    den: F.Column = F.lit(0.0)
    for j, w in enumerate(_EWMA_W):
        x = F.col("revenue") if j == 0 else F.lag("revenue", j).over(win)
        num = num + F.lit(w) * F.coalesce(x, F.lit(0.0))
        den = den + F.when(x.isNull(), F.lit(0.0)).otherwise(F.lit(w))
    return daily.select(
        "day",
        "revenue",
        (F.floor(num / den * 10000 + F.lit(0.5)) / 10000.0).alias("ewma"),
    )


@query(
    "rolling_zscore_anomaly",
    oracle=f"""
        WITH {_DAILY_SQL},
        graded AS (
          SELECT day, revenue,
                 CAST(FLOOR(revenue + 0.5) AS BIGINT) AS xd,
                 SUM(CAST(FLOOR(revenue + 0.5) AS BIGINT)) OVER trail AS s1,
                 SUM(CAST(FLOOR(revenue + 0.5) AS BIGINT)
                     * CAST(FLOOR(revenue + 0.5) AS BIGINT)) OVER trail AS s2,
                 COUNT(*) OVER trail AS n
          FROM daily
          WINDOW trail AS (ORDER BY day ROWS BETWEEN 14 PRECEDING
                           AND 1 PRECEDING)
        )
        SELECT day, revenue,
               CASE WHEN n >= 5 THEN
                 FLOOR((CAST(xd AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   / sqrt(GREATEST(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0) + 1e-9)
                   * 10000 + 0.5) / 10000.0
               END AS zscore,
               CASE WHEN n >= 5 THEN
                 abs((CAST(xd AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   / sqrt(GREATEST(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0) + 1e-9))
                   > 2.0
                 ELSE FALSE END AS is_anomaly
        FROM graded
    """,
    survey="timeseries-ext: rolling z-score anomaly detection "
    "(trailing mean/stddev from integer-grid frame sums)",
    doc="Each day's revenue scored against the trailing 15-day window "
    "(current row excluded). Mean and variance derive from exact "
    "integer frame sums (dollar grid), so the statistic is "
    "order-independent and bit-identical cross-engine — the rolling "
    "stddev a naive stddev_samp window cannot keep deterministic. "
    "NULL until 5 prior days exist.",
    tags=("timeseries",),
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(det_sum(F.col("o_totalprice"), 2).alias("revenue"))
    xd = F.floor(F.col("revenue") + F.lit(0.5)).cast("long")
    # day-grain aggregate input (calendar-bounded); explicit
    # single-bucket partition key, same execution, no empty spec
    trail = (
        W.partitionBy(F.length(F.col("day")) % 1)
        .orderBy("day")
        .rowsBetween(-14, -1)
    )
    graded = daily.select(
        "day",
        "revenue",
        xd.alias("xd"),
        F.sum(xd).over(trail).alias("s1"),
        F.sum(xd * xd).over(trail).alias("s2"),
        F.count(F.lit(1)).over(trail).alias("n"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = F.greatest(
        F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean,
        F.lit(0.0),
    )
    z = (F.col("xd").cast("double") - mean) / F.sqrt(var + F.lit(1e-9))
    return graded.select(
        "day",
        "revenue",
        F.when(
            F.col("n") >= 5, F.floor(z * 10000 + F.lit(0.5)) / 10000.0
        ).alias("zscore"),
        F.when(F.col("n") >= 5, F.abs(z) > 2.0)
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


@query(
    "rolling_7d_distinct_users",
    oracle="""
        WITH pairs AS (
          SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
                 user_id
          FROM events
        ),
        contrib AS (
          SELECT day + CAST(off AS INTEGER) AS report_day, user_id
          FROM pairs, (SELECT unnest(generate_series(0, 6)) AS off) o
        ),
        actual AS (SELECT DISTINCT day FROM pairs)
        SELECT CAST(report_day AS TIMESTAMP) AS report_day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users_7d
        FROM contrib JOIN actual ON contrib.report_day = actual.day
        GROUP BY 1
    """,
    survey="timeseries-ext: sliding-window DISTINCT (7-day active "
    "users — not window-decomposable, solved by bounded-offset "
    "expansion into an equi-join)",
    doc="Trailing-7-day distinct active users per day. COUNT(DISTINCT) "
    "cannot ride a sliding window frame (distinct does not merge "
    "across frame slides), so each (day, user) first-seen pair is "
    "expanded to the <=7 report days it contributes to — a bounded "
    "fan-out equi-join, the same trick the range join uses — then a "
    "plain distinct aggregate per report day. Scale shape: dedup to "
    "day-grain pairs shrinks the input by the events-per-user-day "
    "factor BEFORE the 7x expansion, and every stage partial-aggregates "
    "map-side.",
    tags=("timeseries",),
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pairs = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "user_id",
    ).distinct()
    contrib = pairs.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
        "user_id",
    ).select(F.date_add(F.col("day"), F.col("off")).alias("report_day"), "user_id")
    actual = pairs.select("day").distinct()
    return (
        contrib.join(actual, contrib.report_day == actual.day)
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
        .select(
            F.col("report_day").cast("timestamp").alias("report_day"),
            "active_users_7d",
        )
    )


@query(
    "user_value_trend",
    oracle="""
        WITH pts AS (
          SELECT user_id,
                 CAST(FLOOR(EXTRACT(epoch FROM ts)) AS BIGINT)
                   - 1704067200 AS x,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
          FROM events
        ),
        m AS (
          SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx
          FROM pts GROUP BY user_id
        )
        SELECT user_id, CAST(n AS BIGINT) AS n_events,
               CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE) END
                 AS slope_cents_per_sec
        FROM m
    """,
    survey="timeseries-ext: per-entity OLS trend (regression slope "
    "from mergeable integer moments — the feature-extraction pass "
    "behind churn/engagement models)",
    doc="Per-user least-squares slope of event value over time. The "
    "five moments (n, Sx, Sy, Sxy, Sxx) accumulate as exact int64 — "
    "time is rebased to the 2024-01-01 epoch so Sxy/Sxx stay far from "
    "overflow — and merge associatively across any sharding (partial "
    "aggregation does the distributed work; the slope is one "
    "deterministic double division at the end). Degenerate series "
    "(all events at one instant) yield NULL, not a division error.",
    tags=("timeseries",),
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        (
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
            ).cast("long")
            - 1704067200
        ).alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    m = pts.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.when(det == 0, F.lit(None).cast("double"))
        .otherwise(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / det.cast("double")
        )
        .alias("slope_cents_per_sec"),
    )


@query(
    "click_purchase_conversion",
    oracle="""
        WITH clicks AS (
          SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ),
        converted AS (
          SELECT DISTINCT c.event_id
          FROM clicks c JOIN purchases p
            ON c.user_id = p.user_id
           AND p.ts > c.ts
           AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        )
        SELECT date_trunc('day', c.ts) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_clicks,
               CAST(COUNT(cv.event_id) AS BIGINT) AS n_converted,
               FLOOR(COUNT(cv.event_id) * 10000.0 / COUNT(*) + 0.5) / 100.0
                 AS conversion_pct
        FROM clicks c LEFT JOIN converted cv ON c.event_id = cv.event_id
        GROUP BY 1
    """,
    survey="timeseries-ext: attribution funnel (forward interval join "
    "-> daily conversion rate — the batch twin of the stream-stream "
    "interval join, banded so no inequality join ever runs)",
    doc="Per day: clicks, clicks followed by a same-user purchase "
    "within one hour, and the conversion rate. The forward-looking "
    "interval match uses the same epoch-band trick as the range join "
    "— purchases land in 1h bands, each click probes its own and the "
    "NEXT band (bounded 2x fan-out equi-join, AQE-managed) — then "
    "dedups to at-most-one conversion marker per click before the "
    "daily rollup. Exact integer ratio, det-rounded.",
    tags=("timeseries",),
)
def click_purchase_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    width = 3600 * 1_000_000
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "ts",
        us(F.col("ts")).alias("c_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        us(F.col("ts")).alias("p_us"),
        (us(F.col("ts")) / width).cast("long").alias("band"),
    )
    probes = clicks.select(
        "event_id",
        "user_id",
        "c_us",
        F.explode(
            F.array(
                (F.col("c_us") / width).cast("long"),
                (F.col("c_us") / width).cast("long") + 1,
            )
        ).alias("band"),
    )
    converted = (
        probes.join(
            purchases,
            (probes.user_id == purchases.p_user)
            & (probes.band == purchases.band)
            & (purchases.p_us > probes.c_us)
            & (purchases.p_us <= probes.c_us + width),
        )
        .select("event_id")
        .distinct()
        .withColumn("_conv", F.lit(1))
    )
    return (
        clicks.join(converted, "event_id", "left")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count("*").alias("n_clicks"),
            F.count("_conv").alias("n_converted"),
            (
                F.floor(F.count("_conv") * 10000.0 / F.count("*") + 0.5)
                / 100.0
            ).alias("conversion_pct"),
        )
    )


@query(
    "asof_nearest_either",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts, n.ts AS nearest_view_ts,
               n.value AS nearest_view_value
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN LATERAL (
          SELECT v.ts, v.value
          FROM events v
          WHERE v.event_type = 'view' AND v.user_id = p.user_id
          ORDER BY ABS(epoch_us(v.ts) - epoch_us(p.ts)), v.ts
          LIMIT 1
        ) n ON TRUE
    """,
    survey="timeseries-ext: nearest-in-time join, either direction "
    "(the |delta|-minimizing variant backward-only ASOF can't "
    "express; sensor/label alignment in training pipelines)",
    doc="Each purchase attaches the temporally CLOSEST same-user view "
    "— before or after. One union+window pass per direction (last "
    "non-null backward, first non-null forward — the as-of mechanism "
    "run both ways), then an arithmetic argmin of the two candidate "
    "deltas; ties at equal distance take the earlier view, matching "
    "the oracle's (abs_delta, ts) order. Two key-partitioned window "
    "shuffles, no join, no candidate pairs.",
    tags=("timeseries",),
)
def asof_nearest_either(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("value").alias("v_value")
    )
    lt = purchases.select(
        "user_id",
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_is_left"),
        "event_id",
        "ts",
        F.lit(None).cast(views.schema["v_ts"].dataType).alias("v_ts"),
        F.lit(None).cast("double").alias("v_value"),
    )
    rt = views.select(
        "user_id",
        F.col("v_ts").alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast(purchases.schema["ts"].dataType).alias("ts"),
        "v_ts",
        "v_value",
    )
    u = lt.unionByName(rt)
    # backward pass: most recent view at-or-before; right rows sort
    # first at equal ts so an equal-timestamp view is visible both ways
    wb = (
        W.partitionBy("user_id")
        .orderBy("_ts", "_is_left")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("_ts", "_is_left")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    cand = u.select(
        "*",
        F.last("v_ts", ignorenulls=True).over(wb).alias("b_ts"),
        F.last("v_value", ignorenulls=True).over(wb).alias("b_value"),
        F.first("v_ts", ignorenulls=True).over(wf).alias("f_ts"),
        F.first("v_value", ignorenulls=True).over(wf).alias("f_value"),
    ).filter(F.col("_is_left") == 1)
    b_delta = F.abs(us(F.col("ts")) - us(F.col("b_ts")))
    f_delta = F.abs(us(F.col("f_ts")) - us(F.col("ts")))
    # argmin with earlier-wins tie (backward candidate is the earlier)
    take_backward = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull() | (b_delta <= f_delta)
    )
    return cand.select(
        "event_id",
        "user_id",
        "ts",
        F.when(take_backward, F.col("b_ts"))
        .otherwise(F.col("f_ts"))
        .alias("nearest_view_ts"),
        F.when(take_backward, F.col("b_value"))
        .otherwise(F.col("f_value"))
        .alias("nearest_view_value"),
    )


@query(
    "top_event_paths",
    oracle="""
        WITH marked AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE
                      OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM events
        ),
        numbered AS (
          SELECT user_id, ts, event_id, event_type,
                 SUM(is_new) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                   AS session_no
          FROM marked
        ),
        paths AS (
          SELECT user_id, session_no,
                 string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          FROM numbered GROUP BY user_id, session_no
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path LIMIT 20
    """,
    survey="timeseries-ext: session path analysis (ordered within-"
    "session string aggregation — the user-journey query behind "
    "funnel design)",
    doc="Top-20 most common within-session event sequences (30-minute "
    "gap sessions). Ordered aggregation is the mechanism plain "
    "collect_list can't give deterministically: events collect as "
    "(ts, event_id, type) structs, array_sort fixes the order by the "
    "same total key the oracle's ORDER BY string_agg uses, then the "
    "path string joins. Session assignment reuses the lag/running-sum "
    "sessionization; the whole thing is two key-partitioned window "
    "passes plus two partial-agg shuffles — no driver involvement, "
    "top-k via TakeOrderedAndProject.",
    tags=("timeseries",),
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (
            F.col("ts").cast("timestamp").cast("long")
            - prev_ts.cast("timestamp").cast("long")
            > 1800
        ),
        1,
    ).otherwise(0)
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    numbered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(is_new).over(wrun).alias("session_no"),
    )
    paths = (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


# Shared by the batch operator below and its streaming twin
# (queries/streaming_queries.py streaming_throttle_events): both
# implement the same emit-then-suppress chain, so one oracle certifies
# both. Extracted verbatim — the string (and thus the batch query's
# fingerprint) is byte-identical to its pre-extraction form.
THROTTLE_24H_ORACLE = """
        WITH RECURSIVE ev AS (
          SELECT user_id, CAST(FLOOR(EXTRACT(epoch FROM ts)) AS BIGINT)
                   * 1000000
                 + CAST(EXTRACT(microsecond FROM ts) AS BIGINT) % 1000000
                   AS ts_us
          FROM events
        ),
        em AS (
          SELECT user_id, MIN(ts_us) AS ts_us, 1 AS n
          FROM ev GROUP BY user_id
          UNION ALL
          SELECT em.user_id,
                 (SELECT MIN(e.ts_us) FROM ev e
                  WHERE e.user_id = em.user_id
                    AND e.ts_us >= em.ts_us + 86400000000),
                 em.n + 1
          FROM em
          WHERE (SELECT MIN(e.ts_us) FROM ev e
                 WHERE e.user_id = em.user_id
                   AND e.ts_us >= em.ts_us + 86400000000) IS NOT NULL
        )
        SELECT ev.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(em_agg.n_emitted) AS BIGINT) AS n_emitted,
               CAST(MAX(em_agg.first_emit_us) AS BIGINT) AS first_emit_us,
               CAST(MAX(em_agg.last_emit_us) AS BIGINT) AS last_emit_us
        FROM ev
        JOIN (SELECT user_id, MAX(n) AS n_emitted, MIN(ts_us) AS first_emit_us,
                     MAX(ts_us) AS last_emit_us
              FROM em GROUP BY user_id) em_agg USING (user_id)
        GROUP BY ev.user_id
    """


@query(
    "throttle_events_24h",
    oracle=THROTTLE_24H_ORACLE,
    survey="timeseries-ext: event throttling (emit-then-suppress-24h "
    "per key — sequential state no window function expresses; the "
    "alert-dedup / notification-rate-limit operator), via grouped "
    "applyInPandas (the batch Arrow surface; its streaming twin is "
    "transformWithState)",
    doc="Per user: first event emits, then everything inside 24h of "
    "the LAST EMITTED event is suppressed, repeating down the "
    "timeline — each decision depends on the prior decision, so this "
    "is a per-key sequential fold, not a window. Spark side: hash-"
    "repartition on user_id + sortWithinPartitions(user_id, ts), then "
    "ONE mapInPandas scan per partition that folds the chain and "
    "carries the boundary user's state across Arrow batches — versus "
    "the earlier one-applyInPandas-call-per-user form this is "
    "num_partitions Python invocations instead of num_users (3.3x "
    "faster at sf0.1; the gap widens with user count). The oracle "
    "replays the same chain with a recursive CTE. Integer-microsecond "
    "timestamps keep the >= 24h comparison exact on both engines.",
    tags=("timeseries",),
)
def throttle_events_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    n = spark.sparkContext.defaultParallelism
    return timeseries.throttle_scan(ev, gap_us=86_400_000_000, num_partitions=n)


@query(
    "conversion_lag_percentiles",
    oracle="""
        WITH clicks AS (
          SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ),
        lags AS (
          SELECT c.event_id, date_trunc('day', c.ts) AS day,
                 MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS lag_us
          FROM clicks c JOIN purchases p
            ON c.user_id = p.user_id
           AND p.ts > c.ts
           AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
          GROUP BY c.event_id, day
        )
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_converted,
               CAST(FLOOR(quantile_cont(lag_us, 0.5) / 1000000) AS BIGINT)
                 AS p50_lag_s,
               CAST(FLOOR(quantile_cont(lag_us, 0.9) / 1000000) AS BIGINT)
                 AS p90_lag_s
        FROM lags GROUP BY day
    """,
    survey="timeseries-ext: time-to-convert distribution (per-day "
    "p50/p90 of the click-to-purchase lag — the latency-SLA view of "
    "the attribution funnel)",
    doc="For converting clicks (first same-user purchase within 1h), "
    "the daily median and p90 conversion lag in whole seconds. The "
    "interval match is the same forward epoch-band equi-join as the "
    "conversion-rate query; per-click MIN lag is an exact integer, "
    "so the interpolated percentiles agree across engines and the "
    "floor-to-seconds output is integer-stable.",
    tags=("timeseries",),
)
def conversion_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    width = 3600 * 1_000_000
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        us(F.col("ts")).alias("c_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        us(F.col("ts")).alias("p_us"),
        (us(F.col("ts")) / width).cast("long").alias("band"),
    )
    probes = clicks.select(
        "event_id",
        "user_id",
        "day",
        "c_us",
        F.explode(
            F.array(
                (F.col("c_us") / width).cast("long"),
                (F.col("c_us") / width).cast("long") + 1,
            )
        ).alias("band"),
    )
    lags = (
        probes.join(
            purchases,
            (probes.user_id == purchases.p_user)
            & (probes.band == purchases.band)
            & (purchases.p_us > probes.c_us)
            & (purchases.p_us <= probes.c_us + width),
        )
        .groupBy("event_id", "day")
        .agg(F.min(F.col("p_us") - F.col("c_us")).alias("lag_us"))
    )
    return lags.groupBy("day").agg(
        F.count("*").alias("n_converted"),
        F.floor(F.percentile(F.col("lag_us"), F.lit(0.5)) / 1000000)
        .cast("long")
        .alias("p50_lag_s"),
        F.floor(F.percentile(F.col("lag_us"), F.lit(0.9)) / 1000000)
        .cast("long")
        .alias("p90_lag_s"),
    )


@query(
    "winsorize_event_values",
    oracle="""
        WITH p AS (
          SELECT event_type,
                 FLOOR(quantile_cont(value, 0.01) * 1000000 + 0.5)
                   / 1000000.0 AS p01,
                 FLOOR(quantile_cont(value, 0.99) * 1000000 + 0.5)
                   / 1000000.0 AS p99
          FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n,
               FLOOR(p01 * 10000 + 0.5) / 10000.0 AS p01,
               FLOOR(p99 * 10000 + 0.5) / 10000.0 AS p99,
               FLOOR(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                     / 100.0 / count(*) * 10000 + 0.5) / 10000.0
                 AS mean_raw,
               FLOOR(SUM(CAST(FLOOR(LEAST(GREATEST(value, p01), p99) * 100
                                    + 0.5) AS BIGINT))
                     / 100.0 / count(*) * 10000 + 0.5) / 10000.0
                 AS mean_winsorized
        FROM events e JOIN p USING (event_type)
        GROUP BY e.event_type, p01, p99
    """,
    survey="timeseries-ext: quantile capping / winsorization",
    doc="Outlier-robust metric cleaning: exact per-type p01/p99 "
    "boundaries (aggregate-sized, broadcast back), values clipped into "
    "the band, mean before/after. The clip is a pure projection after "
    "a broadcast join; sums use the integer-cents det_sum contract so "
    "both means are partition-order-exact. At 100 TB swap the exact "
    "percentile for approx_percentile — same two-pass shape.",
    tags=("timeseries",),
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    # boundaries det-rounded to a 1e-6 grid BEFORE the clip (not just in
    # the reported columns): the raw interpolated double can differ by
    # 1 ulp between engines, which would flip floor(clipped*100+0.5)
    # for a row tying the boundary
    p = ev.groupBy("event_type").agg(
        det_round(F.percentile(F.col("value"), F.lit(0.01)), 6).alias("p01"),
        det_round(F.percentile(F.col("value"), F.lit(0.99)), 6).alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    cents = lambda c: F.sum(F.floor(c * 100 + F.lit(0.5)).cast("long"))
    return (
        ev.join(bounded_broadcast(p, "event_type enum"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.floor(F.max("p01") * 10000 + F.lit(0.5)) / 10000.0).alias("p01"),
            (F.floor(F.max("p99") * 10000 + F.lit(0.5)) / 10000.0).alias("p99"),
            (
                F.floor(
                    cents(F.col("value")) / 100.0 / F.count("*") * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("mean_raw"),
            (
                F.floor(
                    cents(clipped) / 100.0 / F.count("*") * 10000 + F.lit(0.5)
                )
                / 10000.0
            ).alias("mean_winsorized"),
        )
    )


@query(
    "ohlc_bars_6h",
    oracle="""
        SELECT event_type,
               CAST(FLOOR(epoch_us(ts) / 21600000000) AS BIGINT) AS bar,
               CAST(count(*) AS BIGINT) AS n,
               arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                              || lpad(CAST(event_id AS VARCHAR), 20, '0'))
                 AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                              || lpad(CAST(event_id AS VARCHAR), 20, '0'))
                 AS close
        FROM events
        GROUP BY 1, 2
    """,
    survey="timeseries-ext: fixed-interval downsampling (OHLC bars)",
    doc="Resample the event stream to 6-hour bars per type with open/"
    "high/low/close — the market-data-style downsampling shape. Open "
    "and close select by min_by/max_by over a zero-padded "
    "(ts, event_id) string key so ties are deterministic on both "
    "engines (bare min_by(ts) with duplicate timestamps is "
    "partition-order nondeterminism). One partial-agg shuffle: min_by/max_by/min/max "
    "all combine map-side, so the exchange carries one bar row per "
    "(partition, type, bar) — the downsample never moves raw events.",
    tags=("timeseries",),
)
def ohlc_bars_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    # zero-padded decimal string == numeric order; mirrors the oracle's
    # key expression exactly (DuckDB arg_min has no composite-key form).
    # 20-wide pads cover any 64-bit value — a 12-wide id pad would
    # silently truncate (still deterministic, but non-numeric order)
    # for snowflake-scale ids beyond 10^12
    key = F.concat(
        F.lpad(ts_us.cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    return (
        ev.select(
            "event_type",
            F.floor(ts_us / 21600000000).cast("long").alias("bar"),
            F.col("value"),
            key.alias("k"),
        )
        .groupBy("event_type", "bar")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min_by("value", F.col("k")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("k")).alias("close"),
        )
    )


@query(
    "event_transition_matrix",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS next_type
          FROM events
        )
        SELECT event_type, next_type,
               CAST(count(*) AS BIGINT) AS n_transitions
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    """,
    survey="timeseries-ext: event transition matrix (Markov counts)",
    doc="First-order behavioral transition counts: each user's event "
    "stream ordered by (ts, event_id) — the total-order tiebreak that "
    "keeps lead() deterministic under equal timestamps — paired with "
    "its successor via a user-partitioned window, then one grouped "
    "count. The input to Markov-chain journey models and anomaly "
    "scores; one shuffle for the window (keyed by user), one "
    "partial-agg shuffle for the matrix.",
    tags=("timeseries",),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )


@query(
    "user_behavior_entropy",
    oracle="""
        WITH ut AS (
          SELECT user_id, event_type, count(*) AS c
          FROM events GROUP BY user_id, event_type
        ),
        tot AS (SELECT user_id, sum(c) AS n FROM ut GROUP BY user_id)
        SELECT ut.user_id,
               CAST(max(n) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               FLOOR(sum(CAST(floor(
                   -(CAST(c AS DOUBLE) / n)
                   * log2(CAST(c AS DOUBLE) / n) * 1000000000 + 0.5)
                   AS BIGINT)) / 1000000000.0 * 10000 + 0.5) / 10000.0
                 AS entropy_bits
        FROM ut JOIN tot USING (user_id)
        GROUP BY ut.user_id
    """,
    survey="timeseries-ext: per-user behavioral entropy",
    doc="Shannon entropy of each user's event-type distribution — the "
    "behavioral-diversity feature (bots and single-purpose scripts "
    "sit near 0, organic users spread). Two-level aggregate: "
    "(user, type) counts, user totals derived from that aggregate and "
    "joined back on user_id (aggregate-sized both sides); each "
    "-p*log2(p) term floors to a nano-grid pre-sum so the "
    "transcendental stays partition-order-exact.",
    tags=("timeseries",),
)
def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    tot = ut.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    term = F.floor(-p * F.log2(p) * 1000000000 + F.lit(0.5)).cast("long")
    return (
        ut.join(tot, "user_id")
        .withColumn("term", term)
        .groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("n_types"),
            (
                F.floor(
                    F.sum("term") / 1000000000.0 * 10000 + F.lit(0.5)
                )
                / 10000.0
            ).alias("entropy_bits"),
        )
    )


@query(
    "revenue_yoy_growth",
    oracle="""
        WITH monthly AS (
          SELECT strftime(o_orderdate, '%Y-%m') AS month,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_cents
          FROM orders GROUP BY 1
        )
        SELECT cur.month,
               cur.rev_cents / 100.0 AS revenue,
               prev.rev_cents / 100.0 AS prev_year_revenue,
               FLOOR((cur.rev_cents - prev.rev_cents) * 1000000.0
                     / prev.rev_cents + 0.5) / 10000.0 AS yoy_pct
        FROM monthly cur
        JOIN monthly prev
          ON prev.month = strftime(
               CAST(cur.month || '-01' AS DATE) - INTERVAL 1 YEAR, '%Y-%m')
    """,
    survey="timeseries-ext: year-over-year growth (window-free)",
    doc="Monthly revenue vs the same month last year — computed as a "
    "SELF-JOIN of the month-grain aggregate on the shifted calendar "
    "key, not a lag-12 window: no ordering requirement at all, both "
    "sides aggregate-sized, and the join key is exact calendar "
    "arithmetic so missing months simply drop out (an ordinal lag "
    "would silently compare against the wrong month across gaps). "
    "Integer-cents ratio floors at 4dp.",
    tags=("timeseries",),
)
def revenue_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev_cents")
    )
    cur, prev = monthly.alias("cur"), monthly.alias("prev")
    prev_key = F.date_format(
        F.add_months(F.to_date(F.concat(F.col("cur.month"), F.lit("-01"))), -12),
        "yyyy-MM",
    )
    return (
        cur.join(prev, F.col("prev.month") == prev_key)
        .select(
            F.col("cur.month").alias("month"),
            (F.col("cur.rev_cents") / 100.0).alias("revenue"),
            (F.col("prev.rev_cents") / 100.0).alias("prev_year_revenue"),
            (
                F.floor(
                    (F.col("cur.rev_cents") - F.col("prev.rev_cents"))
                    * 1000000.0
                    / F.col("prev.rev_cents")
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("yoy_pct"),
        )
    )
