"""Core relational query surface — SURVEY §2 operator inventory expressed
over the driver's TPC-H-ish testdata, each with a DuckDB oracle.

Float policy: no cross-engine ROUND anywhere (Spark's is decimal-string
based, DuckDB's float-multiply based — they disagree at representable
boundaries). Money aggregates use det_sum (exact integer-scaled sums),
per-row derived values use det_round (pure IEEE floor arithmetic) — see
queries/base.py for the proof sketch.

Date/time policy: timestamps never leave a query raw — they are grouped /
compared / formatted via date_format (Spark) and strftime (DuckDB), with
the Spark session pinned to UTC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sales_data_pipeline_spark.scale import bounded_broadcast, gated_broadcast
from sales_data_pipeline_spark.queries.base import (
    det_round,
    det_sum,
    query,
    sql_det_round,
    sql_det_sum,
    table,
)

# ---------------------------------------------------------------------------
# Scans / projections / filters  (S1-S3, P1-P5)
# ---------------------------------------------------------------------------


@query(
    "scan_filter_project",
    oracle="""
        SELECT l_orderkey, l_partkey, l_quantity
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1995-06-01'
          AND l_quantity > 10
    """,
    survey="S1,S3,P1,P5",
    doc="Projection + conjunctive predicate; filter and column pruning must "
    "reach the parquet scan (reference applies filters post-read, "
    "read_csv.py:36-40 — here Catalyst pushes them down).",
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") < "1995-06-01") & (F.col("l_quantity") > 10))
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


@query(
    "derived_cast_projection",
    oracle="""
        SELECT
          l_orderkey,
          l_linenumber,
          CAST(l_quantity AS INTEGER) AS qty_int,
          FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000 + 0.5) / 10000.0 AS total_cost,
          CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
          CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS ship_month
        FROM lineitem
    """,
    survey="P3,P4; scalar date fns §2.10",
    doc="withColumn-derived measures + casts + year/month extraction "
    "(silver sales pattern, sales_transform.py:50-52).",
)
def derived_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_int"),
        det_round(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax")),
            4,
        ).alias("total_cost"),
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
    )


@query(
    "rejection_split_case_when",
    oracle="""
        SELECT reason, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_price
        FROM (
          SELECT CASE
                   WHEN l_quantity > 45 THEN 'HIGH_QTY'
                   WHEN l_discount > 0.08 THEN 'HIGH_DISC'
                   WHEN l_tax > 0.07 THEN 'HIGH_TAX'
                   ELSE 'VALID'
                 END AS reason,
                 l_extendedprice
          FROM lineitem
        ) t
        GROUP BY reason
    """,
    survey="P6,P7",
    doc="First-match-wins CASE WHEN rejection-reason chain + valid/rejected "
    "split (bronze pattern, main.py:117-132 — 'Order matters').",
)
def rejection_split_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    reason = (
        F.when(F.col("l_quantity") > 45, "HIGH_QTY")
        .when(F.col("l_discount") > 0.08, "HIGH_DISC")
        .when(F.col("l_tax") > 0.07, "HIGH_TAX")
        .otherwise("VALID")
    )
    return (
        li.withColumn("reason", reason)
        .groupBy("reason")
        .agg(
            F.count("*").alias("n"),
            det_sum(F.col("l_extendedprice"), 2).alias("total_price"),
        )
    )


@query(
    "value_repair_flags",
    oracle="""
        SELECT
          CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN o_orderpriority ELSE 'OTHER' END AS priority_class,
          o_totalprice > 200000 AS is_big,
          CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY 1, 2
    """,
    survey="P8,P9",
    doc="Conditional value repair + derived boolean flag "
    "(product_transform.py:34-39, store_transform.py:45-55 patterns).",
)
def value_repair_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
                F.col("o_orderpriority"),
            )
            .otherwise("OTHER")
            .alias("priority_class"),
            (F.col("o_totalprice") > 200000).alias("is_big"),
        )
        .groupBy("priority_class", "is_big")
        .agg(F.count("*").alias("n"))
    )


@query(
    "pattern_filter",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE text LIKE '%spark%'
          AND regexp_matches(text, '^[a-z]')
    """,
    survey="P10",
    doc="rlike + contains predicates (customer_transform.py:42,66).",
)
def pattern_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.filter(
        F.col("text").contains("spark") & F.col("text").rlike("^[a-z]")
    ).select("doc_id", "lang", "n_chars")


@query(
    "isin_filter",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
        FROM events
        WHERE event_type IN ('purchase', 'signup')
        GROUP BY event_type
    """,
    survey="P11",
    doc="IN-list predicate (scd_customer_transform.py:139 — there from a "
    "driver-side collect(); here a literal list, and the distributed "
    "alternative is the semi-join query).",
)
def isin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            det_sum(F.col("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Joins  (J1-J6)
# ---------------------------------------------------------------------------


@query(
    "join_string_normalized",
    oracle="""
        WITH seg_dim AS (
          SELECT lower(trim(c_mktsegment)) AS segment_key,
                 CAST(count(*) AS BIGINT) AS segment_size
          FROM customer GROUP BY 1
        )
        SELECT c.c_custkey, c.c_name, s.segment_key, s.segment_size
        FROM customer c
        INNER JOIN seg_dim s ON lower(trim(c.c_mktsegment)) = s.segment_key
    """,
    survey="J1",
    doc="Inner equi-join on a normalized (lower/trim) string key "
    "(sales->product name-resolution join, sales_transform.py:30-43). "
    "The dim side is tiny => broadcast hash join.",
)
def join_string_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    seg_dim = (
        c.groupBy(F.lower(F.trim(F.col("c_mktsegment"))).alias("segment_key"))
        .agg(F.count("*").alias("segment_size"))
    )
    return (
        c.join(
            bounded_broadcast(seg_dim, "c_mktsegment enum (5 values)"),
            F.lower(F.trim(c["c_mktsegment"])) == seg_dim["segment_key"],
            "inner",
        )
        .select("c_custkey", "c_name", "segment_key", "segment_size")
    )


@query(
    "star_join_enriched",
    oracle="""
        SELECT
          l.l_orderkey, l.l_linenumber,
          o.o_custkey, c.c_name, n.n_name, r.r_name,
          FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) / 10000.0 AS revenue
        FROM lineitem l
        INNER JOIN orders o   ON l.l_orderkey = o.o_orderkey
        INNER JOIN customer c ON o.o_custkey = c.c_custkey
        INNER JOIN nation n   ON c.c_nationkey = n.n_nationkey
        INNER JOIN region r   ON n.n_regionkey = r.r_regionkey
    """,
    survey="J2,J5,J6",
    doc="Chained star join fact->dims (sales_gold.py:21-34; legacy 3-way "
    "join dimension_tables_join.py:16-53). Dims broadcast; fact never "
    "shuffles for the dim joins.",
)
def star_join_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "inner")
        .join(gated_broadcast(c), o["o_custkey"] == c["c_custkey"], "inner")
        .join(n, c["c_nationkey"] == n["n_nationkey"], "inner")
        .join(r, n["n_regionkey"] == r["r_regionkey"], "inner")
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            "c_name",
            "n_name",
            "r_name",
            det_round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
        )
    )


@query(
    "anti_join_new_keys",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (
          SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        )
    """,
    survey="J4",
    doc="left_anti join: keys absent from the other side "
    "(SCD new-customer detection, scd_customer_transform.py:160-163).",
)
def anti_join_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "semi_join_active_keys",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        )
    """,
    survey="J4 (complement); §7.4 risk 8",
    doc="left_semi join — the distributed replacement for the reference's "
    "collect()+isin() change-id filter (scd_customer_transform.py:129).",
)
def semi_join_active_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "change_detection_join",
    oracle="""
        WITH existing AS (
          SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
                 md5(concat_ws('|', c_name, c_mktsegment,
                               printf('%.2f', c_acctbal))) AS row_hash
          FROM customer
        ),
        incoming AS (
          SELECT c_custkey, c_name,
                 CASE WHEN c_custkey % 11 = 0 THEN 'MOVED' ELSE c_mktsegment
                 END AS c_mktsegment,
                 CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                      ELSE c_acctbal END AS c_acctbal
          FROM customer
        ),
        incoming_hashed AS (
          SELECT *, md5(concat_ws('|', c_name, c_mktsegment,
                        printf('%.2f', c_acctbal))) AS row_hash
          FROM incoming
        )
        SELECT n.c_custkey, e.row_hash AS old_hash, n.row_hash AS new_hash
        FROM incoming_hashed n
        INNER JOIN existing e ON n.c_custkey = e.c_custkey
        WHERE n.row_hash <> e.row_hash
    """,
    survey="J3; md5 row-hash §2.10",
    doc="SCD change-detection: inner join on business key + row_hash "
    "inequality residual (scd_customer_transform.py:118-127). The "
    "incoming batch is derived deterministically from customer.",
)
def change_detection_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")

    def hashed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "row_hash",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("c_name"),
                    F.col("c_mktsegment"),
                    F.format_string("%.2f", F.col("c_acctbal")),
                )
            ),
        )

    existing = hashed(c.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"))
    incoming = hashed(
        c.select(
            "c_custkey",
            "c_name",
            F.when(F.col("c_custkey") % 11 == 0, F.lit("MOVED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
    )
    return (
        incoming.alias("n")
        .join(existing.alias("e"), "c_custkey", "inner")
        .filter(F.col("n.row_hash") != F.col("e.row_hash"))
        .select(
            "c_custkey",
            F.col("e.row_hash").alias("old_hash"),
            F.col("n.row_hash").alias("new_hash"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations  (A1-A6)
# ---------------------------------------------------------------------------


@query(
    "agg_customer_metrics",
    oracle="""
        SELECT
          o_custkey AS customer_id,
          CAST(count(*) AS BIGINT) AS total_orders,
          SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_spent,
          SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 / COUNT(*) AS avg_order_value,
          strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_purchase_date,
          strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_purchase_date
        FROM orders
        GROUP BY o_custkey
    """,
    survey="A1",
    doc="Grouped multi-aggregate customer metrics "
    "(customer_metrics_gold.py:26-37): count/sum/avg/min/max in one pass "
    "(partial aggregation map-side, single shuffle on the group key).",
)
def agg_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.count("*").alias("total_orders"),
        det_sum(F.col("o_totalprice"), 2).alias("total_spent"),
        (det_sum(F.col("o_totalprice"), 2) / F.count(F.lit(1))).alias(
            "avg_order_value"
        ),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias(
            "first_purchase_date"
        ),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
            "last_purchase_date"
        ),
    )


@query(
    "agg_global_watermark",
    oracle="""
        SELECT strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_ts,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
    """,
    survey="A2,A3,I3",
    doc="Global max timestamp — the watermark-update aggregate "
    "(main.py:412-414) plus the layer row count, in ONE pass instead of "
    "the reference's separate count() actions.",
)
def agg_global_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.count("*").alias("n_rows"),
    )


@query(
    "distinct_keys",
    oracle="SELECT DISTINCT o_custkey FROM orders",
    survey="A4",
    doc="DISTINCT projection (scd_customer_transform.py:158).",
)
def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select("o_custkey").distinct()


@query(
    "revenue_by_nation",
    oracle="""
        SELECT n.n_name AS nation, r.r_name AS region,
               CAST(count(*) AS BIGINT) AS n_orders,
               SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
        FROM orders o
        INNER JOIN customer c ON o.o_custkey = c.c_custkey
        INNER JOIN nation n   ON c.c_nationkey = n.n_nationkey
        INNER JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name, r.r_name
    """,
    survey="A5,J2",
    doc="Dashboard revenue-by-dimension group-by (dashboard.py:192-281) as "
    "a star join + aggregate. Flagship entry() query.",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        o.join(gated_broadcast(c), o["o_custkey"] == c["c_custkey"], "inner")
        .join(n, c["c_nationkey"] == n["n_nationkey"], "inner")
        .join(r, n["n_regionkey"] == r["r_regionkey"], "inner")
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_orders"),
            det_sum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "monthly_customer_totals",
    oracle="""
        SELECT o_custkey AS customer_id,
               strftime(o_orderdate, '%Y-%m') AS sales_date_month,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_sales
        FROM orders
        GROUP BY 1, 2
    """,
    survey="A6,W2",
    doc="Per-(customer, month) totals — the legacy mart's window+distinct "
    "(customer_mart_sql_tranform_write.py:10-19) re-expressed as the "
    "equivalent groupBy (one shuffle, no window state).",
)
def monthly_customer_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.col("o_custkey").alias("customer_id"),
            F.date_format("o_orderdate", "yyyy-MM").alias("sales_date_month"),
        )
        .agg(det_sum(F.col("o_totalprice"), 2).alias("total_sales"))
    )


@query(
    "kpi_dashboard",
    oracle="""
        SELECT SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_revenue,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 / COUNT(*) AS avg_order_value
        FROM orders
    """,
    survey="A5 (KPIs: sum/len/nunique/mean, dashboard.py:131-136)",
    doc="Single-row KPI aggregate incl. exact countDistinct.",
)
def kpi_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.agg(
        det_sum(F.col("o_totalprice"), 2).alias("total_revenue"),
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        (det_sum(F.col("o_totalprice"), 2) / F.count(F.lit(1))).alias(
            "avg_order_value"
        ),
    )


@query(
    "countdistinct_by_type",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
        FROM events
        GROUP BY event_type
    """,
    survey="A5 (nunique)",
    doc="Grouped exact distinct-count. At 100 TB prefer "
    "approx_count_distinct (HLL, no per-key shuffle of distinct values); "
    "exact kept here because the oracle must hash-match.",
)
def countdistinct_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        det_sum(F.col("value"), 2).alias("total_value"),
    )


@query(
    "rollup_revenue",
    oracle="""
        SELECT r_name AS region, n_name AS nation,
               SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) / 100.0 AS total_balance,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM customer c
        INNER JOIN nation n ON c.c_nationkey = n.n_nationkey
        INNER JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    survey="§2.4 extension (grouping sets)",
    doc="ROLLUP hierarchy totals — not in the reference (SURVEY notes it as "
    "a cheap extension); one shuffle, grouping-set expansion map-side.",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(
            bounded_broadcast(n, "25 fixed rows; pins the build side"),
            c["c_nationkey"] == n["n_nationkey"],
            "inner",
        )
        .join(r, n["n_regionkey"] == r["r_regionkey"], "inner")
        .rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            det_sum(F.col("c_acctbal"), 2).alias("total_balance"),
            F.count("*").alias("n_customers"),
        )
    )


@query(
    "set_ops_customers",
    oracle="""
        SELECT 'both_years' AS tag, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT o_custkey FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1995
          INTERSECT
          SELECT o_custkey FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1996
        ) a
        UNION ALL
        SELECT 'only_1995', CAST(count(*) AS BIGINT) FROM (
          SELECT o_custkey FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1995
          EXCEPT
          SELECT o_custkey FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1996
        ) b
    """,
    survey="U1 extension (intersect/except — absent from the reference, "
    "SURVEY §2.7)",
    doc="Distinct set intersection and difference of yearly customer "
    "key sets; each compiles to an aggregate + semi/anti join under "
    "Catalyst.",
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    both = y95.intersect(y96).agg(F.count("*").alias("n")).select(
        F.lit("both_years").alias("tag"), "n"
    )
    only95 = (
        y95.subtract(y96)  # EXCEPT DISTINCT semantics
        .agg(F.count("*").alias("n"))
        .select(F.lit("only_1995").alias("tag"), "n")
    )
    return both.unionByName(only95)


@query(
    "cube_priority_year",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_price,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY CUBE (o_orderpriority,
                       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER))
    """,
    survey="§2.4 extension (grouping sets: cube)",
    doc="CUBE over (priority, year): all four grouping sets in one "
    "shuffle (grouping-set expansion happens map-side before the "
    "partial aggregate).",
)
def cube_priority_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.cube(
            F.col("o_orderpriority").alias("priority"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            det_sum(F.col("o_totalprice"), 2).alias("total_price"),
            F.count("*").alias("n"),
        )
    )


@query(
    "sql_segment_revenue",
    oracle="""
        SELECT c_mktsegment AS segment,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
               CAST(count(*) AS BIGINT) AS n_orders,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                 AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    """,
    survey="§3.3 (Spark SQL surface over registered views)",
    doc="The engine's SQL entry point: testdata tables registered as "
    "temp views, query expressed as a spark.sql() string — identical "
    "Catalyst plan to the DataFrame form (dashboard workload shape).",
)
def sql_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c_mktsegment AS segment,
               year(o_orderdate) AS order_year,
               count(*) AS n_orders,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                 / CAST(100 AS DOUBLE) AS revenue
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY 1, 2
        """
    )


@query(
    "pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
                 AS sum_base_price,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                   AS BIGINT)) / 10000.0 AS sum_disc_price,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                   * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sum_charge,
               SUM(CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT)) / 10000.0
                 / COUNT(*) AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    survey="A1 flagship shape (TPC-H Q1 pricing summary)",
    doc="The canonical wide-aggregate scan: one pass, map-side partial "
    "aggregation, filter pushed to the parquet scan.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            det_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            det_sum(disc_price, 4).alias("sum_disc_price"),
            det_sum(charge, 4).alias("sum_charge"),
            (det_sum(F.col("l_discount"), 4) / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "orders_above_avg",
    oracle="""
        SELECT o_orderkey, o_custkey,
               FLOOR(o_totalprice * 100 + 0.5) / 100.0 AS total_price
        FROM orders
        WHERE o_totalprice > (
          SELECT SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                   / COUNT(*)
          FROM orders
        )
    """,
    survey="§2.2 extension (scalar subquery)",
    doc="Filter against a global scalar aggregate: Spark computes the "
    "deterministic average once and broadcast-cross-joins it (no "
    "collect; the oracle's correlated form decorrelates to the same "
    "plan). Threshold uses det arithmetic so the boundary is "
    "cross-engine stable.",
)
def orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    avg_df = o.agg(
        (det_sum(F.col("o_totalprice"), 2) / F.count(F.lit(1))).alias("_avg")
    )
    return (
        o.crossJoin(avg_df)
        .filter(F.col("o_totalprice") > F.col("_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            det_round(F.col("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "percentile_order_price",
    oracle="""
        SELECT o_orderpriority,
               FLOOR(quantile_cont(o_totalprice, 0.25) * 10000 + 0.5) / 10000.0 AS p25,
               FLOOR(quantile_cont(o_totalprice, 0.50) * 10000 + 0.5) / 10000.0 AS p50,
               FLOOR(quantile_cont(o_totalprice, 0.75) * 10000 + 0.5) / 10000.0 AS p75
        FROM orders
        GROUP BY 1
    """,
    survey="§2.4 extension (exact percentiles)",
    doc="Exact interpolated percentiles per group (both engines use "
    "linear interpolation at rank (n-1)*q). At 100 TB swap to "
    "approx_percentile with an accuracy knob — same plan shape.",
)
def percentile_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        det_round(F.percentile(F.col("o_totalprice"), F.lit(0.25)), 4).alias("p25"),
        det_round(F.percentile(F.col("o_totalprice"), F.lit(0.50)), 4).alias("p50"),
        det_round(F.percentile(F.col("o_totalprice"), F.lit(0.75)), 4).alias("p75"),
    )


@query(
    "pivot_status_by_year",
    oracle="""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
               SUM(CASE WHEN o_orderstatus = 'O'
                        THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) END) / 100.0 AS "O",
               SUM(CASE WHEN o_orderstatus = 'F'
                        THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) END) / 100.0 AS "F",
               SUM(CASE WHEN o_orderstatus = 'P'
                        THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) END) / 100.0 AS "P"
        FROM orders
        GROUP BY 1
    """,
    survey="§2.4 extension (pivot)",
    doc="Pivot on a low-cardinality status column with an explicit value "
    "list (never let Spark scan for distinct pivot values at scale).",
)
def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))))
    )
    return pivoted.select(
        "order_year",
        (F.col("O") / 100.0).alias("O"),
        (F.col("F") / 100.0).alias("F"),
        (F.col("P") / 100.0).alias("P"),
    )


# ---------------------------------------------------------------------------
# Windows / sorts / top-k  (W1-W2, O1-O3)
# ---------------------------------------------------------------------------


@query(
    "dedup_keep_latest",
    oracle="""
        SELECT event_id, user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_sec, value
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
                 ) AS rn
          FROM events
        ) t
        WHERE rn = 1
    """,
    survey="W1,O3",
    doc="Dedup-keep-latest via ranking window (product/customer/store "
    "silver dedup, product_transform.py:72-77). The reference's ordering "
    "is tie-ambiguous (SURVEY §7.4 risk 1); event_id DESC is the added "
    "deterministic tiebreaker.",
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_sec"),
            "value",
        )
    )


@query(
    "running_total_window",
    oracle="""
        SELECT event_id, user_id,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
                 PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) / 100.0 AS running_total
        FROM events
    """,
    survey="W2",
    doc="Partitioned running total with an explicit rows frame "
    "(customer_mart_sql_tranform_write.py:10-14 uses the whole-partition "
    "frame; the ordered frame is the general form).",
)
def running_total_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        (
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).over(w) / 100.0
        ).alias("running_total"),
    )


@query(
    "topk_customers",
    oracle="""
        SELECT o_custkey AS customer_id,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total_spent
        FROM orders
        GROUP BY o_custkey
        ORDER BY total_spent DESC, customer_id ASC
        LIMIT 10
    """,
    survey="O2,A5",
    doc="Top-10 by measure (dashboard.py:222-227 nlargest). Spark compiles "
    "to TakeOrderedAndProject — no global sort, per-partition heaps. "
    "Tiebreak on customer_id makes LIMIT deterministic.",
)
def topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(det_sum(F.col("o_totalprice"), 2).alias("total_spent"))
        .orderBy(F.desc("total_spent"), F.asc("customer_id"))
        .limit(10)
    )


@query(
    "topk_per_group",
    oracle="""
        SELECT o_custkey AS customer_id, o_orderkey, o_totalprice
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
                 ) AS rn
          FROM orders
        ) t
        WHERE rn <= 3
    """,
    survey="O2+W1 composite (top-k per group)",
    doc="Top-3 orders per customer via ranking window; single shuffle on "
    "the partition key.",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("customer_id"), "o_orderkey", "o_totalprice"
        )
    )


@query(
    "ordered_history",
    oracle="""
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_sec,
               row_number() OVER (
                 PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS seq
        FROM events
        WHERE user_id % 10 = 0
    """,
    survey="O1",
    doc="Ordered per-key history read (get_customer_history orderBy "
    "valid_from, scd_customer_transform.py:237-241) — ordering exposed "
    "as an explicit seq column so the order-insensitive hash still "
    "verifies it.",
)
def ordered_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        e.filter(F.col("user_id") % 10 == 0)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_sec"),
            F.row_number().over(w).alias("seq"),
        )
    )


@query(
    "sessionize_lag_gaps",
    oracle="""
        WITH gaps AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                      ) > INTERVAL 30 MINUTE
                      OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                      ) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
        )
        SELECT user_id,
               CAST(SUM(new_session) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events
        FROM gaps
        GROUP BY user_id
    """,
    survey="§2.5 extension (lag + sessionization)",
    doc="Sessionization: lag(ts) gap > 30min starts a session; counts "
    "sessions per user. Streaming twin: session_window(ts, gap).",
)
def sessionize_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (
            F.col("ts").cast("timestamp").cast("long")
            - prev_ts.cast("timestamp").cast("long")
            > 1800
        ),
        1,
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Set ops / scalar functions / hashes  (U1, §2.10)
# ---------------------------------------------------------------------------


@query(
    "union_assembly",
    oracle="""
        SELECT c_custkey, c_name, 'low' AS slice FROM customer WHERE c_acctbal < 0
        UNION ALL
        SELECT c_custkey, c_name, 'mid' AS slice
        FROM customer WHERE c_acctbal >= 0 AND c_acctbal < 5000
        UNION ALL
        SELECT c_custkey, c_name, 'high' AS slice FROM customer WHERE c_acctbal >= 5000
    """,
    survey="U1",
    doc="UNION ALL x2 assembly over a fixed column contract "
    "(SCD result assembly, scd_customer_transform.py:200-204).",
)
def union_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")

    def slice_df(cond, name):
        return c.filter(cond).select(
            "c_custkey", "c_name", F.lit(name).alias("slice")
        )

    low = slice_df(F.col("c_acctbal") < 0, "low")
    mid = slice_df((F.col("c_acctbal") >= 0) & (F.col("c_acctbal") < 5000), "mid")
    high = slice_df(F.col("c_acctbal") >= 5000, "high")
    return low.union(mid).union(high)


@query(
    "row_hash_md5",
    oracle="""
        SELECT c_custkey,
               md5(concat_ws('|',
                   c_name,
                   nullif(c_mktsegment, 'BUILDING'),
                   printf('%.2f', c_acctbal))) AS row_hash
        FROM customer
    """,
    survey="§2.10 hash; §7.4 risk 3",
    doc="md5(concat_ws('|', ...)) row-hash with the reference's null "
    "semantics: concat_ws SKIPS nulls, so ('a',NULL,'b') hashes like "
    "('a','b') (scd_customer_transform.py:59-62). nullif injects nulls "
    "to prove the property on clean data.",
)
def row_hash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5(
            F.concat_ws(
                "|",
                F.col("c_name"),
                F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
                F.format_string("%.2f", F.col("c_acctbal")),
            )
        ).alias("row_hash"),
    )


@query(
    "string_functions_showcase",
    oracle="""
        SELECT c_custkey,
               lower(trim(c_name)) AS name_norm,
               regexp_replace(c_name, '[^0-9]', '', 'g') AS digits_only,
               substring(c_mktsegment, 1, 3) AS seg3,
               concat_ws(' ', lower(c_mktsegment), 'segment') AS seg_label,
               CAST(length(c_name) AS INTEGER) AS name_len
        FROM customer
    """,
    survey="§2.10 string fns",
    doc="trim/lower/regexp_replace/substring/concat_ws/length "
    "(customer_transform.py:21-40, sales_gold.py:47).",
)
def string_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower(F.trim(F.col("c_name"))).alias("name_norm"),
        F.regexp_replace(F.col("c_name"), "[^0-9]", "").alias("digits_only"),
        F.substring(F.col("c_mktsegment"), 1, 3).alias("seg3"),
        F.concat_ws(" ", F.lower(F.col("c_mktsegment")), F.lit("segment")).alias(
            "seg_label"
        ),
        F.length(F.col("c_name")).cast("int").alias("name_len"),
    )


@query(
    "date_functions_showcase",
    oracle="""
        SELECT o_orderkey,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
               CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
               CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS order_day,
               CAST(date_diff('day', CAST(o_orderdate AS DATE),
                              DATE '1998-12-31') AS INTEGER) AS days_to_eoy,
               strftime(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY,
                        '%Y-%m-%d') AS due_date
        FROM orders
    """,
    survey="§2.10 date fns",
    doc="year/month/day extraction, datediff against a fixed as-of date "
    "(never current_date — SURVEY §7.4 risk 2), date arithmetic.",
)
def date_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_eoy"),
        F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("due_date"),
    )


@query(
    "json_extract_props",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
        FROM events
        WHERE event_type = 'purchase'
    """,
    survey="§2.10 extension (JSON)",
    doc="JSON field extraction from a string column — not in the reference "
    "(its JSON parsing is driver-side Python on watermark files); "
    "first-class here via get_json_object.",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


# ---------------------------------------------------------------------------
# Incremental / time-window  (I2; streaming twin in streaming_queries)
# ---------------------------------------------------------------------------

WATERMARK_TS = "2024-01-14 00:00:00"


@query(
    "watermark_incremental_filter",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(MIN(event_id) AS BIGINT) AS min_event_id,
               CAST(MAX(event_id) AS BIGINT) AS max_event_id
        FROM events
        WHERE ts > TIMESTAMP '{WATERMARK_TS}' - INTERVAL 5 MINUTE
    """,
    survey="I1,I2",
    doc="Incremental scan gate: ts > (watermark - 5min late buffer) "
    "(watermark_manager.py:159-177, buffer config.yaml:138). On parquet "
    "this predicate pushes down to row-group pruning; with partitioned "
    "layout it prunes whole partitions.",
)
def watermark_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    gate = F.expr(f"timestamp '{WATERMARK_TS}' - interval 5 minutes")
    return e.filter(F.col("ts") > gate).agg(
        F.count("*").alias("n_rows"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


@query(
    "tumbling_window_agg",
    oracle="""
        SELECT strftime(time_bucket(INTERVAL '5 minutes', ts),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    survey="§2.8 streaming twin (batch form)",
    doc="Tumbling 5-minute window aggregate via F.window — identical "
    "semantics to the Structured Streaming version in "
    "streaming_queries.py, run here in batch.",
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            det_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "array_functions_showcase",
    oracle="""
        SELECT vec_id,
               CAST(len(embedding) AS INTEGER) AS dim,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER)
                 AS n_pos,
               CAST(list_max(embedding) AS DOUBLE) AS max_val,
               CAST(embedding[1] AS DOUBLE) AS first_val,
               list_reduce(list_prepend(0.0, list_transform(
                   list_filter(embedding, x -> x > 0),
                   x -> CAST(x AS DOUBLE))), (a, b) -> a + b) AS pos_sum,
               sqrt(list_reduce(list_prepend(0.0, list_transform(
                   embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   (a, b) -> a + b)) AS l2_norm,
               list_reduce(list_prepend(0.0, list_transform(
                   embedding,
                   (x, i) -> CAST(x AS DOUBLE)
                       * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE))),
                   (a, b) -> a + b) AS rev_dot
        FROM embeddings
    """,
    survey="§2.10 extension (array / higher-order functions — absent from "
    "the reference, which has no nested types at all, SURVEY §1.2)",
    doc="Array surface over the embedding column: size, filter, "
    "element access, transform, left-fold aggregate, and "
    "zip_with-against-reverse (a positional pairing no flat SQL "
    "expresses). All lambdas run inside codegen — no Python. "
    "Cross-engine float parity holds because both sides fold "
    "left-to-right from an explicit 0.0 seed over identically-cast "
    "doubles (DuckDB: list_reduce over list_prepend; index lambdas "
    "are 1-based there vs zip_with+reverse here) and sqrt is "
    "IEEE-exact. Embarrassingly parallel at 100 TB: zero shuffles, "
    "pure per-row projection.",
)
def array_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    embd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    fold = lambda arr: F.aggregate(  # noqa: E731 — left fold, 0.0 seed
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.array_max("embedding").cast("double").alias("max_val"),
        F.get("embedding", 0).cast("double").alias("first_val"),
        fold(F.filter(embd, lambda x: x > 0)).alias("pos_sum"),
        F.sqrt(fold(F.transform(embd, lambda x: x * x))).alias("l2_norm"),
        fold(F.zip_with(embd, F.reverse(embd), lambda x, y: x * y)).alias(
            "rev_dot"
        ),
    )


@query(
    "math_functions_showcase",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(abs(l_extendedprice - l_quantity * 1000.0)
                   * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_abs_dev,
               SUM(CAST(FLOOR(sqrt(l_extendedprice) * 1000000 + 0.5)
                   AS BIGINT)) / 1000000.0 AS sum_sqrt_price,
               SUM(CAST(FLOOR(pow(l_quantity, 2) * 100 + 0.5)
                   AS BIGINT)) / 100.0 AS sum_qty_sq,
               SUM(CAST(FLOOR(exp(l_discount) * 1000000 + 0.5)
                   AS BIGINT)) / 1000000.0 AS sum_exp_disc,
               SUM(CAST(FLOOR(ln(l_extendedprice) * 1000000 + 0.5)
                   AS BIGINT)) / 1000000.0 AS sum_ln_price,
               CAST(SUM(CAST(sign(l_discount - 0.05) AS BIGINT))
                   AS BIGINT) AS net_disc_sign,
               SUM(CAST(FLOOR(greatest(l_tax, l_discount) * 10000 + 0.5)
                   AS BIGINT)) / 10000.0 AS sum_max_rate,
               SUM(CAST(FLOOR(least(l_tax, l_discount) * 10000 + 0.5)
                   AS BIGINT)) / 10000.0 AS sum_min_rate,
               SUM(CAST(FLOOR(fmod(l_extendedprice, 100.0) * 100 + 0.5)
                   AS BIGINT)) / 100.0 AS sum_price_mod
        FROM lineitem
        GROUP BY l_returnflag
    """,
    survey="§2.10 math fns (extension: the reference uses only * and "
    "boolean negation)",
    doc="Math scalar surface aggregated by return flag: abs, sqrt, pow, "
    "exp, ln, sign, greatest, least, fmod — all under the "
    "scaled-integer det_sum contract. Transcendentals (exp/ln) carry "
    "a <=1-ulp JVM-vs-libm risk, so their inputs are kept at "
    "magnitudes where one ulp is ~1e9 times smaller than the "
    "rounding grid; sqrt is IEEE-correctly-rounded and pow has an "
    "exact integer exponent. One partial-agg shuffle, 3 groups.",
)
def math_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        det_sum(
            F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000.0), 2
        ).alias("sum_abs_dev"),
        det_sum(F.sqrt("l_extendedprice"), 6).alias("sum_sqrt_price"),
        det_sum(F.pow("l_quantity", 2), 2).alias("sum_qty_sq"),
        det_sum(F.exp("l_discount"), 6).alias("sum_exp_disc"),
        det_sum(F.log("l_extendedprice"), 6).alias("sum_ln_price"),
        F.sum(F.signum(F.col("l_discount") - 0.05).cast("bigint")).alias(
            "net_disc_sign"
        ),
        det_sum(F.greatest("l_tax", "l_discount"), 4).alias("sum_max_rate"),
        det_sum(F.least("l_tax", "l_discount"), 4).alias("sum_min_rate"),
        det_sum(F.col("l_extendedprice") % 100.0, 2).alias("sum_price_mod"),
    )


@query(
    "variant_json_agg",
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k')
                   AS INTEGER)) AS BIGINT) AS k_total,
               CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k')
                   AS INTEGER) > 50 THEN 1 END) AS BIGINT) AS n_high
        FROM events
        GROUP BY event_type
    """,
    survey="§2.10 extension (semi-structured VariantType — parse once, "
    "extract many, vs per-path get_json_object string re-parsing)",
    doc="JSON props parsed to a VARIANT once per row, then both "
    "extractions read the binary-encoded variant — at 100 TB this "
    "halves (per extra path: n-ths) the JSON parse cost vs "
    "get_json_object, which re-parses the string per path. Exact "
    "integer aggregation; one partial-agg shuffle.",
)
def variant_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_total"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
        )
    )


@query(
    "ansi_safe_casts",
    oracle="""
        SELECT p_partkey,
               TRY_CAST(CASE WHEN p_size > 25 THEN p_name
                        ELSE CAST(p_size AS VARCHAR) END AS INTEGER)
                 AS parsed_size,
               CASE WHEN p_size - 10 = 0 THEN NULL
                    ELSE FLOOR(p_retailprice / (p_size - 10) * 10000 + 0.5)
                         / 10000.0 END AS price_per_excess
        FROM part
    """,
    survey="§2.10/P4 extension (ANSI-mode-safe coercion: try_cast / "
    "try_divide — the bronze-cleaning posture under Spark 4's "
    "ANSI-by-default runtime, SURVEY §7.4 risk 4)",
    doc="Dirty-value coercion without job-killing exceptions: "
    "try_cast turns unparseable strings into NULL (Spark 4 ANSI mode "
    "makes plain CAST throw — the reference's inferSchema-era "
    "'nulls on cast failure' behavior now requires try_cast "
    "explicitly), and try_divide turns division by zero into NULL. "
    "Both stay in codegen; DuckDB mirrors with TRY_CAST and an "
    "explicit zero guard.",
)
def ansi_safe_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    mixed = F.when(
        F.col("p_size") > 25, F.col("p_name")
    ).otherwise(F.col("p_size").cast("string"))
    return p.select(
        "p_partkey",
        mixed.try_cast("int").alias("parsed_size"),
        det_round(
            F.try_divide(F.col("p_retailprice"), F.col("p_size") - 10), 4
        ).alias("price_per_excess"),
    )


@query(
    "schema_evolution_union",
    oracle="""
        WITH unioned AS (
          SELECT o_orderkey, o_orderdate, o_totalprice
          FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
          UNION ALL BY NAME
          SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
          FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        )
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)
                 AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority
        FROM unioned GROUP BY order_year
    """,
    survey="U1 extension (schema evolution across batches: unionByName "
    "with allowMissingColumns — positional union, the reference's only "
    "mode, silently mis-binds when schemas drift, SURVEY §2.7)",
    doc="An old-schema batch (no priority column — the pre-migration "
    "shape) unioned with the current schema by NAME, missing columns "
    "null-padded. This is how a 100 TB lake survives column adds "
    "without rewriting history: readers union epochs by name and "
    "COUNT(col) naturally scopes to rows that have the field. The "
    "reference's positional union would instead shift columns or "
    "throw.",
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    old_batch = o.filter(F.col("o_orderdate") < "1997-01-01").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    new_batch = o.filter(F.col("o_orderdate") >= "1997-01-01").select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"
    )
    return (
        old_batch.unionByName(new_batch, allowMissingColumns=True)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count("*").alias("n_orders"),
            F.count("o_orderpriority").alias("n_with_priority"),
        )
    )


@query(
    "map_functions_pivot",
    oracle="""
        WITH c AS (
          SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY user_id, event_type
        )
        SELECT user_id,
               COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN n END),
                        0) AS purchases,
               COALESCE(MAX(CASE WHEN event_type = 'click' THEN n END),
                        0) AS clicks,
               CAST(COUNT(CASE WHEN n >= 5 THEN 1 END) AS INTEGER)
                 AS n_frequent_types
        FROM c GROUP BY user_id
    """,
    survey="§2.10 extension (map type surface: map_from_entries, "
    "element_at, map_filter — no map functions anywhere in the "
    "reference, SURVEY §1.2/§2.10)",
    doc="Per-user event-type counts assembled into a MAP column, then "
    "read back with element_at lookups and a map_filter cardinality "
    "— the map is the engine-side representation (collect_list order "
    "doesn't matter: key lookup is order-independent and keys are "
    "unique by construction); the oracle computes the same scalars "
    "relationally. Map columns never cross the comparison boundary — "
    "only deterministic scalar extractions do.",
)
def map_functions_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.coalesce(F.element_at("m", F.lit("purchase")), F.lit(0)).alias(
            "purchases"
        ),
        F.coalesce(F.element_at("m", F.lit("click")), F.lit(0)).alias(
            "clicks"
        ),
        F.size(F.map_filter("m", lambda k, v: v >= 5)).alias(
            "n_frequent_types"
        ),
    )


@query(
    "null_safe_join",
    oracle="""
        WITH tagged AS (
          SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg_n
          FROM customer
        ), dim AS (
          SELECT seg_n, CAST(COUNT(*) AS BIGINT) AS seg_size
          FROM tagged GROUP BY seg_n
        )
        SELECT t.seg_n, d.seg_size, CAST(COUNT(*) AS BIGINT) AS n_matched
        FROM tagged t JOIN dim d ON t.seg_n IS NOT DISTINCT FROM d.seg_n
        GROUP BY t.seg_n, d.seg_size
    """,
    survey="§2.3 extension (null-safe equality join <=> — plain equi "
    "joins silently drop NULL keys, the classic lost-rows bug in "
    "dimension lookups with incomplete data)",
    doc="BUILDING is nulled out to manufacture NULL join keys, then the "
    "table joins its own key histogram with eqNullSafe: the NULL "
    "group survives as a first-class key (plain = would drop every "
    "such row). EqualNullSafe remains a hash-joinable equi key — "
    "same broadcast/shuffle strategies, no nested loop. DuckDB "
    "mirrors with IS NOT DISTINCT FROM.",
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_n"),
    )
    dim = c.groupBy("seg_n").agg(F.count("*").alias("seg_size"))
    t, d = c.alias("t"), dim.alias("d")
    return (
        t.join(d, F.col("t.seg_n").eqNullSafe(F.col("d.seg_n")))
        .groupBy(F.col("t.seg_n").alias("seg_n"), "seg_size")
        .agg(F.count("*").alias("n_matched"))
    )


@query(
    "pii_encrypt_roundtrip",
    oracle="""
        SELECT c_custkey,
               CAST(4 * CEIL(16 * (FLOOR(length(c_name) / 16) + 1) / 3.0)
                    AS BIGINT) AS cipher_b64_len,
               c_name AS decrypted
        FROM customer
    """,
    survey="§2.10 extension (reference utility/encrypt_decrypt.py:24-40 "
    "— PBKDF2-HMAC-SHA1 -> AES-256-CBC -> PKCS7 -> base64 column "
    "encryption, the last reference file with no repo analog)",
    doc="PII column encryption round trip: c_name encrypted with the "
    "reference's exact scheme (functions/crypto.py — KDF once on the "
    "driver, JVM-side aes_encrypt per row, bare-ciphertext format), "
    "then decrypted back. The oracle checks what a non-AES engine can: "
    "the ciphertext's base64 length follows deterministically from "
    "PKCS7 arithmetic (4*ceil(16*(floor(len/16)+1)/3)), and the "
    "decrypted value must equal the plaintext cell-for-cell. Pure "
    "projection, zero shuffles; the cipher runs in codegen.",
)
def pii_encrypt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_spark.functions import crypto

    kwargs = dict(
        passphrase="spark-graft-demo-key",
        iv="0123456789abcdef",
        salt="pipeline-demo-salt",
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    enc = crypto.encrypt_col(F.col("c_name"), **kwargs)
    return c.select(
        "c_custkey",
        F.length(enc).cast("long").alias("cipher_b64_len"),
        crypto.decrypt_col(enc, **kwargs).alias("decrypted"),
    )
