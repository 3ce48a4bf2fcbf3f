"""Extended analytic query surface — TPC-H-shaped multi-join workloads
plus the window/join/agg variants absent from the reference inventory
(SURVEY §2.3 "not present: outer/semi joins", §2.4 "no grouping sets /
conditional agg", §2.5 "no lead/lag/ntile").

These are the dashboard-class queries a complete engine must answer at
100 TB: every join keeps the small side broadcastable, every aggregate
is partial-agg friendly (map-side combine), every top-k carries a total
order so LIMIT is deterministic, and all money math uses the det_sum /
det_round integer-scaling contract from queries/base.py so DuckDB
hash-parity holds at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sales_data_pipeline_spark.scale import bounded_broadcast, gated_broadcast
from sales_data_pipeline_spark.queries.base import (
    det_sum,
    query,
    scoped_persist,
    sql_det_sum,
    table,
)

# ---------------------------------------------------------------------------
# Multi-join analytics (TPC-H-shaped; J2 star-join family at scale)
# ---------------------------------------------------------------------------


@query(
    "shipping_priority_topk",
    oracle="""
        SELECT l_orderkey,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                   AS BIGINT)) / 10000.0 AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_shipdate > TIMESTAMP '1997-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    survey="J2,A5,O2 (TPC-H Q3 shape)",
    doc="Shipping-priority top-k: segment-filtered customer dim joined to "
    "fact chain; filters push to both parquet scans, customer side "
    "broadcasts, LIMIT compiles to TakeOrderedAndProject (no global sort).",
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-01-01"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-01-01"
    )
    return (
        li.join(
            o.join(gated_broadcast(c), o.o_custkey == c.c_custkey),
            li.l_orderkey == o.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            det_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "local_supplier_volume",
    oracle="""
        SELECT n_name AS nation,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                   AS BIGINT)) / 10000.0 AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    survey="J2,J6 extension (TPC-H Q5 shape: 6-way join + local-supplier "
    "theta residual)",
    doc="Six-way join with the customer-nation == supplier-nation residual "
    "predicate. region->nation broadcasts prune the fact early; the "
    "c_nationkey = s_nationkey equality rides the join output (no extra "
    "shuffle). At 100 TB the orders/lineitem join is the only sort-merge.",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    asia_nations = n.join(
        r, n.n_regionkey == r.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(asia_nations, s.s_nationkey == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            det_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
    )


@query(
    "returned_items_topk",
    oracle="""
        SELECT c_custkey, c_name, n_name AS nation,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                   AS BIGINT)) / 10000.0 AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    survey="J2,A1,O2 (TPC-H Q10 shape: returned-item reporting)",
    doc="Revenue lost to returns per customer, top-20. The quarter filter "
    "prunes orders before the fact join; nation broadcasts onto the "
    "aggregate output (join-after-agg keeps the shuffle narrow).",
)
def returned_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            det_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "order_priority_semijoin",
    oracle="""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem WHERE l_quantity >= 48
        )
        GROUP BY o_orderpriority
    """,
    survey="§2.3 extension (left-semi join / EXISTS — reference has anti "
    "only, J4); TPC-H Q4 shape",
    doc="EXISTS-subquery order-priority count as a distributed left-semi "
    "join — the scale-safe replacement for the reference's "
    "collect()+isin pattern (scd_customer_transform.py:129,139).",
)
def order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    big = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "customer_order_distribution",
    oracle="""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
          SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey
        ) t
        GROUP BY c_count
    """,
    survey="§2.3 extension (left outer join — absent from reference); "
    "TPC-H Q13 shape",
    doc="Customer order-count distribution via left outer join (customers "
    "with zero orders count as 0). Two hash aggregates; the second input "
    "is one row per customer, so the re-shuffle is tiny at any scale.",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "large_volume_orders",
    oracle="""
        SELECT c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
        )
        GROUP BY c_custkey, o_orderkey, o_orderdate
        ORDER BY total_qty DESC, o_orderkey ASC
        LIMIT 20
    """,
    survey="A1 + HAVING + semi join (TPC-H Q18 shape: large-volume "
    "customers)",
    doc="Orders whose line quantities sum past a threshold (HAVING as a "
    "post-aggregate filter). r4 rewrite: the HAVING sum IS the final "
    "per-order total, so the textbook semi-join-back-to-the-fact and "
    "second aggregation are redundant — one per-order aggregate "
    "computes both the double threshold sum and the BIGINT output sum "
    "in a single lineitem pass; AQE promotes the rare >300 survivors "
    "to a broadcast into the orders/customer joins from runtime stats "
    "(no static hint — survivor cardinality is data-dependent, and "
    "customer is NOT broadcastable at 100 TB). One fact scan, one "
    "fact-sized shuffle; everything after is filtered-order "
    "cardinality.",
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("qty"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
        .filter(F.col("qty") > 300)
    )
    return (
        big_orders.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "promo_revenue_share",
    oracle="""
        SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
               SUM(CAST(CASE WHEN p_type = 'PROMO'
                   THEN FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                   ELSE 0 END AS BIGINT)) / 10000.0 AS promo_revenue,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                   AS BIGINT)) / 10000.0 AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """,
    survey="§2.4 extension (conditional aggregation — sum over CASE); "
    "TPC-H Q14 shape",
    doc="Promo revenue vs total per ship-year: conditional aggregation in "
    "one pass over the lineitem-part join (no second scan, no self-join). "
    "Both sums are integer-scaled so the ratio is reproducible.",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    scaled = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("p_type") == "PROMO", scaled).otherwise(
                        F.lit(0)
                    )
                )
                / F.lit(10000.0)
            ).alias("promo_revenue"),
            (F.sum(scaled) / F.lit(10000.0)).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Window-function family beyond row_number (SURVEY §2.5: "no lead/lag",
# "no ranking beyond row_number")
# ---------------------------------------------------------------------------


@query(
    "window_rank_showcase",
    oracle="""
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(dense_rank() OVER w AS BIGINT) AS drank,
               percent_rank() OVER w AS prank,
               cume_dist() OVER w AS cdist,
               lag(c_acctbal, 1) OVER w AS prev_bal,
               lead(c_acctbal, 1) OVER w AS next_bal,
               first_value(c_custkey) OVER w AS richest_cust
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
    survey="§2.5 extension (dense_rank, percent_rank, cume_dist, lag, "
    "lead, first_value)",
    doc="Full ranking/navigation window family over one window spec — a "
    "single shuffle on the partition key, one sort, six functions "
    "evaluated in the same physical Window operator. Total order "
    "(acctbal desc, custkey) makes every output deterministic.",
)
def window_rank_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
        F.lag("c_acctbal", 1).over(w).alias("prev_bal"),
        F.lead("c_acctbal", 1).over(w).alias("next_bal"),
        F.first("c_custkey").over(w).alias("richest_cust"),
    )


# ---------------------------------------------------------------------------
# Reshaping: unpivot (wide -> long)
# ---------------------------------------------------------------------------


@query(
    "unpivot_measures",
    oracle="""
        WITH wide AS (
          SELECT l_returnflag,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
                 SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
                   AS sum_price,
                 SUM(CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_disc
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
    """,
    survey="§2 reshaping extension (unpivot / melt — inverse of the pivot "
    "query)",
    doc="Wide aggregate unpivoted to (key, measure, value) long form via "
    "DataFrame.unpivot — constant-space stack expansion, no shuffle "
    "beyond the aggregate's own.",
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("double").alias("sum_qty"),
        det_sum(F.col("l_extendedprice"), 2).alias("sum_price"),
        det_sum(F.col("l_discount"), 4).alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="val",
    )


# ---------------------------------------------------------------------------
# Corpus analytics (LLM-data extensions: token stats, histograms,
# deterministic sampling, embedding norms)
# ---------------------------------------------------------------------------


@query(
    "top_tokens",
    oracle="""
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
          FROM documents
        ) t
        WHERE token <> ''
        GROUP BY token
        ORDER BY n DESC, token ASC
        LIMIT 50
    """,
    survey="LLM-text extension (corpus token frequency; explode/UDTF "
    "surface — absent from reference, SURVEY §2.10)",
    doc="Top-50 corpus tokens: split -> posexplode-free explode -> "
    "count -> top-k. The explode output partial-aggregates map-side, so "
    "the shuffle carries one row per distinct token per task, not one "
    "per token occurrence — the only formulation that survives 100 TB.",
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


@query(
    "doc_length_histogram",
    oracle="""
        SELECT CAST(FLOOR(n_chars / 50.0) AS INTEGER) * 50 AS bucket_lo,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS BIGINT) / COUNT(*) AS avg_chars
        FROM documents
        GROUP BY 1
    """,
    survey="LLM-text extension (length-distribution histogram, A5 shape)",
    doc="Document length histogram in 50-char buckets; integer bucket "
    "arithmetic and exact integer sums make the cross-engine compare "
    "exact. One partial-agg shuffle at any scale.",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            (F.floor(F.col("n_chars") / F.lit(50.0)).cast("int") * 50).alias(
                "bucket_lo"
            )
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "bucket_lo",
            "n_docs",
            "total_chars",
            (F.col("total_chars") / F.col("n_docs")).alias("avg_chars"),
        )
    )


@query(
    "sample_docs_md5",
    oracle="""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
              IN ('0', '1', '2', '3')
    """,
    survey="LLM-pipeline extension (deterministic content-hash sampling "
    "— the scale-safe replacement for rand()-based df.sample)",
    doc="Deterministic ~25% corpus sample: first hex nibble of "
    "md5(doc_id) < 4. Unlike rand()-seeded sampling this is stable "
    "across engines, retries, and partitionings — the property a "
    "training-data pipeline needs for reproducible holdouts. Pure "
    "filter: pushes into the scan's row-group pruning path.",
)
def sample_docs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    nibble = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return d.filter(nibble.isin("0", "1", "2", "3")).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _sql_self_dot(vec: str, dim: int) -> str:
    # CAST each element to DOUBLE BEFORE multiplying: DuckDB evaluates
    # FLOAT * FLOAT in single precision (rounding each product to 24
    # bits) while Spark's similarity.sql_dot widens to double first —
    # caught at sf1 where the perturbed replicas' full-mantissa floats
    # made 4% of scaled norms differ by +/-1 (queries/llm.py's
    # _sql_dot always cast; this local builder predated it).
    terms = " + ".join(
        f"CAST({vec}[{j + 1}] AS DOUBLE) * CAST({vec}[{j + 1}] AS DOUBLE)"
        for j in range(dim)
    )
    return f"(0.0 + {terms})"


@query(
    "embedding_norm_stats",
    oracle=f"""
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               SUM(CAST(FLOOR(SQRT({_sql_self_dot('embedding', 64)}) * 1000000
                   + 0.5) AS BIGINT)) / 1000000.0 AS total_norm,
               SUM(CAST(FLOOR(SQRT({_sql_self_dot('embedding', 64)}) * 1000000
                   + 0.5) AS BIGINT)) / 1000000.0 / COUNT(*) AS avg_norm
        FROM embeddings
        GROUP BY label
    """,
    survey="LLM-similarity extension (embedding hygiene stats: per-label "
    "L2-norm profile)",
    doc="Per-label embedding L2-norm statistics — the standard corpus "
    "hygiene check before cosine search (catches unnormalized or "
    "degenerate vectors). Left-fold self-dot + IEEE sqrt is "
    "bit-identical across engines; norms are integer-scaled before "
    "summing (det_sum contract) so the aggregate is order-independent.",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_spark.operators import similarity

    e = table(spark, sf_dir, "embeddings")
    nrm = F.expr(similarity.sql_norm("embedding"))
    scaled = F.floor(nrm * 1000000 + F.lit(0.5))
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum(scaled) / F.lit(1000000.0)).alias("total_norm"),
        )
        .select(
            "label",
            "n_vecs",
            "total_norm",
            (F.col("total_norm") / F.col("n_vecs")).alias("avg_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Join/agg robustness patterns: full outer reconciliation, skew-proof
# salted aggregation, explicit grouping sets, sketch-based distincts
# ---------------------------------------------------------------------------


@query(
    "full_outer_reconciliation",
    oracle="""
        WITH y95 AS (
          SELECT o_custkey AS k,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                   AS rev
          FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
          GROUP BY o_custkey
        ),
        y96 AS (
          SELECT o_custkey AS k,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                   AS rev
          FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
          GROUP BY o_custkey
        )
        SELECT COALESCE(y95.k, y96.k) AS custkey,
               COALESCE(y95.rev, 0.0) AS rev_1995,
               COALESCE(y96.rev, 0.0) AS rev_1996
        FROM y95 FULL OUTER JOIN y96 ON y95.k = y96.k
    """,
    survey="§2.3 extension (full outer join — reference has anti only)",
    doc="Year-over-year revenue reconciliation via full outer join + "
    "COALESCE: customers active in either year appear exactly once, "
    "missing side zero-filled. Both inputs are pre-aggregated to one "
    "row per key before the join, so the full-outer shuffle carries "
    "aggregates, not fact rows.",
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def yearly(y: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == y)
            .groupBy(F.col("o_custkey").alias(f"k{y}"))
            .agg(det_sum(F.col("o_totalprice"), 2).alias(f"rev{y}"))
        )

    y95, y96 = yearly(1995), yearly(1996)
    return (
        y95.join(y96, y95.k1995 == y96.k1996, "full_outer")
        .select(
            F.coalesce(F.col("k1995"), F.col("k1996")).alias("custkey"),
            F.coalesce(F.col("rev1995"), F.lit(0.0)).alias("rev_1995"),
            F.coalesce(F.col("rev1996"), F.lit(0.0)).alias("rev_1996"),
        )
    )


@query(
    "salted_skew_agg",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_value
        FROM events
        GROUP BY event_type
    """,
    survey="§7.4-8 (skew posture: two-phase salted aggregation — "
    "identical results to the plain groupBy it replaces)",
    doc="Skew-proof aggregation over a low-cardinality key: phase 1 "
    "aggregates on (event_type, event_id % 8) spreading each hot key "
    "over 8 reducers; phase 2 re-aggregates the 8 partials. Counts and "
    "integer-scaled sums are re-aggregable without drift, so the result "
    "is bit-identical to the direct groupBy (the oracle). At 100 TB "
    "this caps any single reducer at 1/8th of the hottest key.",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    partial = (
        ev.groupBy("event_type", (F.col("event_id") % 8).alias("_salt"))
        .agg(F.count("*").alias("pn"), F.sum(cents).alias("pcents"))
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n"),
            (F.sum("pcents") / F.lit(100.0)).alias("total_value"),
        )
    )


@query(
    "grouping_sets_revenue",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                 AS revenue,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority),
                                (CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)),
                                ())
    """,
    survey="§2.4 extension (explicit GROUPING SETS — complements the "
    "cube and rollup queries)",
    doc="Hand-picked grouping sets (by-priority, by-year, grand total) "
    "in ONE pass: the grouping-set expansion happens map-side before "
    "the partial aggregate, so three aggregation levels cost one "
    "shuffle instead of three queries.",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               year(o_orderdate) AS order_year,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                 / CAST(100 AS DOUBLE) AS revenue,
               count(*) AS n
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (year(o_orderdate)), ())
        """
    )


@query(
    "approx_distinct_users",
    oracle=None,  # HLL sketches are engine-specific; rows-only check
    survey="§2.4 extension (approximate distinct — the 100 TB path for "
    "the dashboard's nunique, A5)",
    doc="approx_count_distinct (HyperLogLog++, rsd=0.01) next to the "
    "exact countDistinct per event_type. The sketch is mergeable "
    "(partial-agg map-side, constant memory per group) — at 100 TB the "
    "exact distinct needs a two-shuffle expand; the sketch needs one "
    "narrow pass. No oracle: HLL register layouts differ per engine.",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread_small_scan-wrapped (round-7 A/B): this query's serial
    # portion is the file decode itself, which a repartition cannot
    # parallelize — the added shuffle only cost time (2.1 -> 3.0 s).
    # The spread pays off only when CPU-heavy per-row work (shingling,
    # HOF folds, explodes) roots on the scan.
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )


@query(
    "order_keys_agg",
    oracle="""
        SELECT o_custkey AS customer_id,
               CAST(count(*) AS BIGINT) AS n_orders,
               array_to_string(list(o_orderkey ORDER BY o_orderkey), '|')
                 AS order_keys
        FROM orders
        WHERE o_totalprice > 250000
        GROUP BY o_custkey
    """,
    survey="§2.4 extension (array_agg / collect_list — list-valued "
    "aggregation)",
    doc="Per-customer sorted order-key list (big orders only), emitted "
    "as a joined string so the cross-engine hash is representation- "
    "stable. sort_array makes collect_list's nondeterministic arrival "
    "order irrelevant; the aggregate is partial-agg friendly (lists "
    "merge associatively).",
)
def order_keys_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 250000)
        .groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(
            F.count("*").alias("n_orders"),
            F.concat_ws(
                "|", F.sort_array(F.collect_list("o_orderkey"))
            ).alias("order_keys"),
        )
    )


# ---------------------------------------------------------------------------
# Event-sequence analytics (funnel, retention) over the events stream
# ---------------------------------------------------------------------------


@query(
    "funnel_conversion",
    oracle="""
        WITH per_user AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'signup' THEN ts END)
                   AS first_signup,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase
          FROM events
          GROUP BY user_id
        )
        SELECT
          CAST(count(*) AS BIGINT) AS n_users,
          CAST(count(first_signup) AS BIGINT) AS n_signed_up,
          CAST(SUM(CASE WHEN first_purchase > first_signup
               THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
          CAST(SUM(CASE WHEN first_purchase > first_signup
               THEN FLOOR((FLOOR(EXTRACT(epoch FROM first_purchase))
                     - FLOOR(EXTRACT(epoch FROM first_signup))) / 3600.0)
               ELSE 0 END) AS BIGINT) AS total_hours_to_convert
        FROM per_user
    """,
    survey="§2.4/§3.3 extension (funnel analysis: conditional first-"
    "event aggregation over event sequences)",
    doc="Signup -> purchase funnel: per-user first-event timestamps via "
    "conditional MIN (one shuffle on user_id), then a global roll-up. "
    "Conversion requires the purchase to FOLLOW the signup. Epoch "
    "arithmetic is exact integer math — deterministic cross-engine.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = F.col("first_purchase") > F.col("first_signup")
    hours = F.floor(
        (
            F.unix_timestamp("first_purchase")
            - F.unix_timestamp("first_signup")
        )
        / F.lit(3600)
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        F.sum(F.when(converted, 1).otherwise(0)).alias("n_converted"),
        F.sum(F.when(converted, hours).otherwise(0)).alias(
            "total_hours_to_convert"
        ),
    )


@query(
    "retention_cohorts",
    oracle="""
        WITH firsts AS (
          SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
        ),
        activity AS (
          SELECT e.user_id,
                 date_trunc('week', f.first_ts) AS cohort_week,
                 (EXTRACT(epoch FROM date_trunc('week', e.ts))
                  - EXTRACT(epoch FROM date_trunc('week', f.first_ts)))
                   // 604800 AS week_offset
          FROM events e JOIN firsts f ON e.user_id = f.user_id
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               CAST(week_offset AS BIGINT) AS week_offset,
               CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
        FROM activity
        GROUP BY cohort_week, week_offset
    """,
    survey="§2.4/§3.3 extension (retention cohort analysis: self-join "
    "on first-activity, distinct actives per offset)",
    doc="Weekly retention triangle: cohort = ISO week of each user's "
    "first event; active_users = distinct users from that cohort seen "
    "week_offset weeks later. The firsts aggregate is one row per "
    "user, so the enrichment join broadcasts at any realistic user "
    "count relative to the event volume; week arithmetic is exact "
    "integer epoch math.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    week = lambda c: F.date_trunc("week", c)  # noqa: E731
    activity = ev.join(firsts, "user_id").select(
        "user_id",
        week(F.col("first_ts")).alias("cohort_week_ts"),
        F.floor(
            (
                F.unix_timestamp(week(F.col("ts")))
                - F.unix_timestamp(week(F.col("first_ts")))
            )
            / F.lit(604800)
        ).alias("week_offset"),
    )
    return (
        activity.groupBy(
            F.date_format("cohort_week_ts", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Decision-support shapes absent from both the reference and the catalog
# so far: correlated per-group average (TPC-H Q17), disjunctive compound
# predicates (Q19), global scalar threshold + anti-join (Q22).
# ---------------------------------------------------------------------------


@query(
    "small_quantity_revenue",
    oracle="""
        WITH cand AS (
          SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#23' AND p_size < 15
        ),
        thresh AS (
          SELECT l_partkey, 0.5 * AVG(l_quantity) AS max_qty
          FROM cand GROUP BY l_partkey
        )
        SELECT SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                 / 100.0 / 7.0 AS avg_yearly
        FROM cand JOIN thresh USING (l_partkey)
        WHERE l_quantity < max_qty
    """,
    survey="§2.2 extension (correlated per-group scalar subquery; "
    "TPC-H Q17 shape: small-quantity-order revenue)",
    doc="Average yearly revenue lost if small-quantity orders for one "
    "brand's small parts went unfilled. The correlated subquery "
    "(per-part average quantity) is decorrelated into a PARTITIONED "
    "WINDOW over the broadcast-prefiltered candidate rows: avg("
    "l_quantity) over (partition by l_partkey) puts the per-part "
    "threshold on every row in the same pass, so the fact is scanned "
    "ONCE physically (the earlier aggregate-and-join-back form read "
    "lineitem twice) and the only shuffle carries the ~1-brand "
    "candidate slice, state bounded per part (~30 rows). Quantities "
    "are integer-valued doubles, so the AVG is exact cross-engine; "
    "revenue uses the det_sum integer-scaling contract. Reference "
    "parity: extends orders_above_avg (global scalar subquery) to the "
    "correlated case, SURVEY §2 'no subqueries'.",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    cand = li.join(gated_broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    max_qty = F.lit(0.5) * F.avg("l_quantity").over(
        W.partitionBy("l_partkey")
    )
    return (
        cand.withColumn("max_qty", max_qty)
        .filter(F.col("l_quantity") < F.col("max_qty"))
        .agg((det_sum(F.col("l_extendedprice"), 2) / F.lit(7.0)).alias(
            "avg_yearly"
        ))
    )


@query(
    "disjunctive_brand_revenue",
    oracle="""
        SELECT SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                   + 0.5) AS BIGINT)) / 10000.0 AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    survey="§2.2 extension (disjunctive compound predicates spanning "
    "both join sides; TPC-H Q19 shape)",
    doc="Revenue under an OR of three brand/size/quantity conjunctions. "
    "The predicate references both join sides, so it evaluates as a "
    "post-join filter; Spark's CNF conversion still derives the "
    "single-side prefilters (l_quantity in [1,30]; the brand/size "
    "disjunction on part) and pushes them into the parquet scans, so "
    "the broadcast build side carries only candidate parts. One "
    "aggregate row out — no shuffle beyond the final partial-agg "
    "merge.",
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    arm = lambda brand, sz_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, sz_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return (
        li.join(gated_broadcast(p), li.l_partkey == p.p_partkey)
        .filter(
            arm("Brand#12", 5, 1, 11)
            | arm("Brand#23", 10, 10, 20)
            | arm("Brand#3", 15, 20, 30)
        )
        .agg(
            det_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "dormant_customer_balance",
    oracle="""
        WITH thresh AS (
          SELECT SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                   / 100.0 / COUNT(*) AS avg_bal
          FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_custs,
               SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_acctbal
        FROM customer, thresh
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '1998-01-01'
          )
        GROUP BY c_mktsegment
    """,
    survey="§2.2/§2.3 extension (global scalar threshold + NOT EXISTS "
    "anti-join; TPC-H Q22 shape)",
    doc="Well-funded customers gone dormant: balance above the positive-"
    "balance average, no orders since 1998. The global average is a "
    "1-row aggregate broadcast-cross-joined into the filter (never "
    "collected to the driver); dormancy is a left_anti join against "
    "the date-filtered orders scan (filter pushed to parquet). The "
    "threshold derives from det_sum so the comparison is bit-identical "
    "cross-engine. Reference parity: J4's anti-join generalized to a "
    "filtered NOT EXISTS, SURVEY §7.4 risk 8 posture (no driver "
    "materialization).",
)
def dormant_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1998-01-01")
        .select("o_custkey")
    )
    thresh = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (det_sum(F.col("c_acctbal"), 2) / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    return (
        c.crossJoin(thresh)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_custs"),
            det_sum(F.col("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@query(
    "top_supplier_revenue",
    oracle="""
        WITH srev AS (
          SELECT l_suppkey,
                 SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                     + 0.5) AS BIGINT)) AS rev_scaled
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, rev_scaled / 10000.0 AS total_revenue
        FROM supplier JOIN srev ON s_suppkey = l_suppkey
        WHERE rev_scaled = (SELECT MAX(rev_scaled) FROM srev)
        ORDER BY s_suppkey
    """,
    survey="§2.2/§2.4 extension (aggregate-of-aggregate: scalar MAX over "
    "a grouped view; TPC-H Q15 shape: top supplier)",
    doc="Supplier(s) whose 1997 revenue equals the global maximum. The "
    "per-supplier revenue view aggregates once (persisted — consumed "
    "by both the MAX probe and the final filter); the MAX is a 1-row "
    "aggregate broadcast-cross-joined back, so the equality predicate "
    "never touches the driver. Revenues stay in exact scaled-integer "
    "space until the final projection, so the MAX-equality compare is "
    "bit-identical cross-engine (ties would all surface, ordered).",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    srev = scoped_persist(
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 10000
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("rev_scaled")
        )
    )
    mx = srev.agg(F.max("rev_scaled").alias("max_scaled"))
    s = table(spark, sf_dir, "supplier")
    return (
        srev.crossJoin(mx)
        .filter(F.col("rev_scaled") == F.col("max_scaled"))
        .join(gated_broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_scaled") / F.lit(10000.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "nation_revenue_share",
    oracle="""
        WITH nrev AS (
          SELECT n_name AS nation,
                 SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                     + 0.5) AS BIGINT)) AS rev_scaled
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          GROUP BY n_name
        ),
        tot AS (SELECT SUM(rev_scaled) AS total_scaled FROM nrev)
        SELECT nation,
               rev_scaled / 10000.0 AS revenue,
               FLOOR(rev_scaled * 1.0 / total_scaled * 1000000 + 0.5)
                 / 1000000.0 AS share
        FROM nrev, tot
        WHERE rev_scaled * 25 > total_scaled
    """,
    survey="§2.4 extension (share-of-global-total HAVING: scalar "
    "subquery threshold over a grouped view; TPC-H Q11 shape)",
    doc="Nations contributing more than 1/25th of global supplier "
    "revenue. Per-nation revenues aggregate in exact scaled-integer "
    "space; the global total is an exact integer SUM over the 25 "
    "per-nation rows (order-insensitive, unlike a float total), so "
    "the share threshold 'rev*25 > total' is a pure integer compare — "
    "bit-identical in any engine at any scale. The total is a 1-row "
    "broadcast; the grouped view is persisted and consumed twice.",
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nrev = scoped_persist(
        li.join(gated_broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 10000
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("rev_scaled")
        )
    )
    tot = nrev.agg(F.sum("rev_scaled").alias("total_scaled"))
    return (
        nrev.crossJoin(tot)
        .filter(F.col("rev_scaled") * 25 > F.col("total_scaled"))
        .select(
            "nation",
            (F.col("rev_scaled") / F.lit(10000.0)).alias("revenue"),
            (
                F.floor(
                    F.col("rev_scaled")
                    / F.col("total_scaled")
                    * 1000000
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("share"),
        )
    )


@query(
    "moving_avg_rows_frame",
    oracle="""
        WITH w AS (
          SELECT o_custkey, o_orderkey,
                 strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                 ) AS win_scaled,
                 COUNT(*) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                 ) AS win_n
          FROM orders
        )
        SELECT o_custkey, o_orderkey, order_date,
               win_scaled / 100.0 / win_n AS moving_avg_3
        FROM w
    """,
    survey="§2.5 extension (ROWS BETWEEN sliding frame — the reference "
    "has only whole-partition and rank frames, SURVEY §2.5 'no "
    "rowsBetween/rangeBetween')",
    doc="Per-customer 3-order moving average of order value. The frame "
    "orders by (date, orderkey) so ties are fully determined; the "
    "sliding SUM accumulates exact scaled integers, making the result "
    "independent of each engine's incremental-frame evaluation order. "
    "One shuffle on the partition key; rows frames evaluate in a "
    "single sorted pass per partition.",
)
def moving_avg_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    win = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, W.currentRow)
    )
    scaled = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        (
            F.sum(scaled).over(win)
            / F.lit(100.0)
            / F.count(F.lit(1)).over(win)
        ).alias("moving_avg_3"),
    )


@query(
    "nation_pair_volume",
    oracle="""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                   + 0.5) AS BIGINT)) / 10000.0 AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        GROUP BY supp_nation, cust_nation, ship_year
    """,
    survey="§2.3 extension (disjunctive cross-dimension join predicate "
    "over a self-joined dimension; TPC-H Q7 shape: volume shipping)",
    doc="Bilateral trade volume between two nations by ship year. The "
    "nation dimension joins TWICE (supplier side and customer side) "
    "and the pair constraint is an OR spanning both aliases, so it "
    "evaluates after the dims attach — but each alias still prefilters "
    "to the two named nations, which cascades through the broadcast "
    "hash joins to shrink supplier/customer build sides before the "
    "fact streams. lineitem-orders is the only non-broadcast join at "
    "scale.",
)
def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_3", "NATION_7")
    n1 = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)
    ).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)
    ).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(gated_broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(gated_broadcast(c), o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == pair[0])
                & (F.col("cust_nation") == pair[1])
            )
            | (
                (F.col("supp_nation") == pair[1])
                & (F.col("cust_nation") == pair[0])
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            det_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("volume")
        )
    )


@query(
    "salted_skew_join",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_items,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                 / 100.0 AS total_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
    """,
    survey="§7.4 risk 8 (skew-join posture: salted replicated join — "
    "identical results to the plain equi-join it replaces)",
    doc="The two-sided salting pattern for a skewed shuffle join, "
    "verified against the PLAIN join's oracle: the probe side salts "
    "each row by a stable hash (pmod(xxhash64(linenumber), 8)); the "
    "build side replicates every key across all 8 salts via a "
    "posexplode; the join key becomes (key, salt) so one hot orderkey "
    "spreads over 8 reducers instead of one. Results are provably "
    "identical because every (key, salt) pair exists on the build "
    "side exactly once. Use when AQE skew splitting isn't available "
    "(e.g. a non-AQE engine or stream-static joins); the salt count "
    "trades replication volume against reducer spread.",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salt = 8
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    probe = li.withColumn(
        "_salt", F.pmod(F.xxhash64("l_linenumber"), F.lit(n_salt))
    )
    build = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("_salt"),
    ).withColumn("_salt", F.col("_salt").cast("long"))
    return (
        probe.join(
            build,
            (probe.l_orderkey == build.o_orderkey)
            & (probe._salt == build._salt),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            det_sum(F.col("l_extendedprice"), 2).alias("total_price"),
        )
    )


@query(
    "supplier_market_share",
    oracle="""
        WITH vol AS (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)
                   AS order_year,
                 CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                      + 0.5) AS BIGINT) AS v_scaled,
                 sn.n_name AS supp_nation
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region ON cn.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE r_name = 'ASIA'
        )
        SELECT order_year,
               SUM(CASE WHEN supp_nation = 'NATION_3'
                   THEN v_scaled ELSE 0 END) / 10000.0 AS nation_volume,
               SUM(v_scaled) / 10000.0 AS total_volume,
               FLOOR(SUM(CASE WHEN supp_nation = 'NATION_3'
                         THEN v_scaled ELSE 0 END) * 1.0
                     / SUM(v_scaled) * 1000000 + 0.5) / 1000000.0
                 AS mkt_share
        FROM vol GROUP BY order_year
    """,
    survey="§2.4 extension (per-group ratio of conditional aggregates; "
    "TPC-H Q8 shape: national market share)",
    doc="NATION_3 suppliers' share of ASIA-region customers' order "
    "volume by year. Seven-way join where every dimension side "
    "broadcasts (region prefilter cascades through customer-nation); "
    "numerator and denominator aggregate in ONE pass as conditional "
    "sums over exact scaled integers, so the share ratio is a "
    "deterministic division of exact ints — no second scan, no float "
    "drift. Only lineitem-orders is non-broadcast at 100 TB.",
)
def supplier_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    sn = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    v_scaled = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
        + F.lit(0.5)
    ).cast("bigint")
    nation_scaled = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", v_scaled).otherwise(0)
    )
    total_scaled = F.sum(v_scaled)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(gated_broadcast(c), o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == cn.cn_key)
        .join(r, cn.cn_region == r.r_regionkey)
        .join(gated_broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == sn.sn_key)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            (nation_scaled / F.lit(10000.0)).alias("nation_volume"),
            (total_scaled / F.lit(10000.0)).alias("total_volume"),
            (
                F.floor(
                    nation_scaled / total_scaled * 1000000 + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("mkt_share"),
        )
    )


@query(
    "forecast_revenue_change",
    oracle="""
        SELECT SUM(CAST(FLOOR(l_extendedprice * l_discount * 10000 + 0.5)
                   AS BIGINT)) / 10000.0 AS revenue_delta,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    survey="P5,A2 composite (TPC-H Q6 shape: the canonical "
    "filter-pushdown aggregate)",
    doc="Revenue increase if low-discount small-quantity items had "
    "shipped discount-free: a pure scan-filter-aggregate where ALL "
    "three predicates (date range, discount band, quantity cap) push "
    "into the parquet scan and the 4-column ReadSchema prunes the "
    "rest. At 100 TB this is the query shape that proves row-group "
    "min/max skipping: zero joins, zero wide shuffles, one partial-agg "
    "exchange. Discount literals are exactly-representable only as "
    "stored doubles — BETWEEN on the raw column avoids re-rounding.",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            det_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias(
                "revenue_delta"
            ),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "late_shipment_priority",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_returnflag
    """,
    survey="§2.3/§2.4 extension (non-equi join residual + two-way "
    "conditional counts; TPC-H Q12 shape: shipping modes and order "
    "priority)",
    doc="Late shipments (>60 days after order) bucketed by return flag "
    "with urgent-vs-other conditional counts. The date comparison "
    "spans both join sides, so it runs as a post-join residual on the "
    "equi join; only the single-table ship-date range pushes into the "
    "lineitem scan. One conditional-agg pass — no second scan for the "
    "second count. Orders-lineitem is the lone shuffle at 100 TB.",
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.to_date("l_shipdate") > F.date_add(F.to_date("o_orderdate"), 60)
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "waiting_orders_suppliers",
    oracle="""
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier, lineitem l1, orders
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND CAST(l1.l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 120
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3 JOIN orders o3
              ON o3.o_orderkey = l3.l_orderkey
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND CAST(l3.l_shipdate AS DATE)
                  > CAST(o3.o_orderdate AS DATE) + 120)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
    """,
    survey="§2.3 extension (EXISTS + NOT EXISTS self-join composite; "
    "TPC-H Q21 shape: suppliers who kept orders waiting)",
    doc="Suppliers solely responsible for a late multi-supplier order. "
    "The correlated EXISTS/NOT EXISTS pair is decorrelated into a "
    "TWO-LEVEL aggregate — lineitems roll to (order, supplier) grain "
    "(has_late flag + late-item count), then to order grain (supplier "
    "count, late-supplier count, the sole late supplier's key via "
    "conditional max — well-defined exactly when nlate = 1 — and the "
    "order's late-item total) — so the set-valued predicates become "
    "`nsupp > 1 AND nlate = 1`, with NO count_distinct (no Expand "
    "replication) and NO join-back. ONE lineitem+orders pass total "
    "(TPC-H reference implementations scan lineitem three times; "
    "earlier rounds here used two): at 100 TB the fact-table scan IS "
    "the query cost, and everything after level 1 is (order, "
    "supplier)-cardinality. Measured at sf0.1: 1.42 s vs 1.87 s for "
    "the two-scan form. Top-k carries the s_name tiebreaker.",
)
def waiting_orders_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    is_late = F.to_date("l_shipdate") > F.date_add(
        F.to_date("o_orderdate"), 120
    )
    enriched = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late", is_late
    )
    # two-level aggregate instead of multi-countDistinct: level 1 rolls
    # lineitems to (order, supplier) grain, level 2 to order grain —
    # both partial-aggregate map-side and neither needs the Expand
    # replication a two-distinct aggregate plans
    per_supp = enriched.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("is_late")).alias("has_late"),
        F.count(F.when(F.col("is_late"), F.lit(1))).alias("n_late_sup"),
    )
    late_key = F.when(F.col("has_late"), F.col("l_suppkey"))
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("nsupp"),
        F.count(late_key).alias("nlate"),
        # when nlate == 1 there is one late supplier; max IS its key and
        # its n_late_sup is the order's full late-item count
        F.max(late_key).alias("late_suppkey"),
        F.sum(F.when(F.col("has_late"), F.col("n_late_sup"))).alias(
            "n_late_items"
        ),
    )
    return (
        per_order.filter((F.col("nsupp") > 1) & (F.col("nlate") == 1))
        .join(gated_broadcast(s), F.col("late_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_items").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@query(
    "product_profit_by_nation",
    oracle="""
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)
                    - p_retailprice * 0.6 * l_quantity) * 10000 + 0.5)
                   AS BIGINT)) / 10000.0 AS sum_profit
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY n_name, o_year
    """,
    survey="§2.4 extension (substring-filtered dimension driving a "
    "multi-join profit rollup; TPC-H Q9 shape: product-type profit)",
    doc="Profit on widget parts by supplier nation and year, with cost "
    "modeled as 60% of retail. The LIKE filter pushes to the part "
    "scan (StringContains) and the shrunken part dim broadcasts, "
    "pre-filtering lineitem before the orders join — the one "
    "sort-merge at 100 TB. Profit is summed via the scaled-integer "
    "det_sum contract; the float expression is evaluated in identical "
    "left-to-right order on both engines.",
)
def product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    ).select("p_partkey", "p_retailprice")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.6) * F.col("l_quantity")
    )
    return (
        li.join(gated_broadcast(p), li.l_partkey == p.p_partkey)
        .join(gated_broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(det_sum(profit, 4).alias("sum_profit"))
    )


@query(
    "cheapest_supplier_per_part",
    oracle="""
        WITH offers AS (
          SELECT l_partkey, l_suppkey,
                 MIN(l_extendedprice / l_quantity) AS unit_price
          FROM lineitem GROUP BY l_partkey, l_suppkey
        ), ranked AS (
          SELECT *, MIN(unit_price) OVER (PARTITION BY l_partkey)
                   AS min_price
          FROM offers
        )
        SELECT p_partkey, p_name, s_name, n_name AS nation, unit_price
        FROM ranked
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_type = 'ECONOMY' AND unit_price = min_price
    """,
    survey="§2.2/§2.4 extension (correlated per-group MIN join-back / "
    "argmin; TPC-H Q2 shape: minimum-cost supplier)",
    doc="For every ECONOMY part, the supplier(s) offering the lowest "
    "observed unit price. The correlated MIN subquery is decorrelated "
    "to a per-part MIN window over the (part, supplier) aggregate — "
    "two shuffles total (partial-combined agg, then the window "
    "re-key to l_partkey), versus three for the naive "
    "aggregate-then-join-back; both carry aggregate-sized data, not "
    "raw lineitem. Float equality is exact: MIN selects an existing "
    "division result, never accumulates. Ties (several suppliers at "
    "the minimum) are all returned — no LIMIT, so no tiebreak needed.",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    p = table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey", "p_name")
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_price"
        )
    )
    ranked = offers.withColumn(
        "min_price", F.min("unit_price").over(W.partitionBy("l_partkey"))
    )
    return (
        ranked.filter(F.col("unit_price") == F.col("min_price"))
        .join(gated_broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(gated_broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .select("p_partkey", "p_name", "s_name",
                F.col("n_name").alias("nation"), "unit_price")
    )


@query(
    "supplier_part_counts",
    oracle="""
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM part JOIN lineitem ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#13'
          AND p_type <> 'PROMO'
          AND p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 1500)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        LIMIT 20
    """,
    survey="§2.3/§2.4 extension (NOT-IN subquery exclusion + distinct "
    "aggregation; TPC-H Q16 shape: parts/supplier relationship)",
    doc="Distinct supplier counts per (brand, type, size) excluding "
    "low-balance suppliers. The NOT IN subquery runs as a broadcast "
    "LEFT ANTI join — exact NOT IN semantics here because both key "
    "sides are non-null; a nullable key would need Spark's null-aware "
    "anti join, which forces a broadcast nested loop. The negated "
    "brand/type filters and the size IN-list all push to the part "
    "scan; COUNT(DISTINCT) runs as Spark's two-phase distinct "
    "aggregate (expand + two exchanges on the same grouping key). "
    "Full ORDER BY tiebreak (brand, type, size) under the LIMIT.",
)
def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    excluded = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1500)
        .select("s_suppkey")
    )
    return (
        li.join(
            gated_broadcast(excluded),
            li.l_suppkey == excluded.s_suppkey,
            "left_anti",
        )
        .join(gated_broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"),
            F.asc("p_brand"), F.asc("p_type"), F.asc("p_size"),
        )
        .limit(20)
    )


@query(
    "incremental_distinct_sketch",
    oracle=None,  # Datasketches HLL internals aren't reproducible in
    # DuckDB (different HLL implementation); the query self-validates
    # merge-vs-global consistency and tests pin the error bound
    survey="§2.4/I1-I4 extension (mergeable HLL sketches: incremental "
    "distinct counts — the sketch twin of incremental_metrics_merge)",
    doc="Distinct users per event type computed three ways: exact, one "
    "global HLL sketch, and two per-batch sketches unioned with "
    "hll_union_agg. merge_consistent asserts the merged estimate sits "
    "within the sketch error envelope of the one-pass estimate "
    "(5% of exact ≈ 3x the lgConfigK=12 rsd). NOT bit-equality: the "
    "round-7 sf1 pin falsified the earlier merged==global claim — "
    "DataSketches keeps the more accurate HIP estimator only for a "
    "single update stream and falls back to the composite estimator "
    "after a union, so once cardinality leaves the sparse-exact "
    "regime (~>thousands at lgK=12) the two legitimately diverge by "
    "~1 rsd while both stay inside the bound. That bounded-error "
    "merge is still exactly what lets 100 TB of history keep a "
    "per-partition sketch and answer distinct-count queries by "
    "merging kilobytes instead of rescanning: the expand-based exact "
    "countDistinct rescans everything on every refresh.",
)
def incremental_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    cutoff = "2024-01-15"
    sketch = F.hll_sketch_agg("user_id")
    batches = (
        e.withColumn("batch", (F.col("ts") >= cutoff).cast("int"))
        .groupBy("event_type", "batch")
        .agg(sketch.alias("sk"))
    )
    merged = batches.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_merged")
    )
    globl = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(sketch).alias("n_sketch"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    return (
        globl.join(merged, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_sketch",
            "n_merged",
            (
                F.abs(F.col("n_sketch") - F.col("n_merged"))
                <= F.col("n_exact") * F.lit(0.05)
            ).alias("merge_consistent"),
        )
        .orderBy("event_type")
    )


@query(
    "dominant_volume_suppliers",
    oracle="""
        WITH widget AS (
          SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'
        ), sq AS (
          SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
          FROM lineitem JOIN widget ON l_partkey = p_partkey
          GROUP BY l_partkey, l_suppkey
        ), tq AS (
          SELECT l_partkey, SUM(supp_qty) AS total_qty,
                 CAST(COUNT(*) AS BIGINT) AS n_supp
          FROM sq GROUP BY l_partkey
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS n_dominant
        FROM sq JOIN tq USING (l_partkey)
        JOIN supplier ON s_suppkey = l_suppkey
        WHERE supp_qty * n_supp > 2 * total_qty
        GROUP BY s_name
        ORDER BY n_dominant DESC, s_name
    """,
    survey="§2.2/§2.4 extension (nested aggregate subqueries driving a "
    "per-group share threshold; TPC-H Q20 shape: suppliers with "
    "excess volume)",
    doc="Suppliers shipping more than 2x their fair share of a widget "
    "part's volume. Q20's nested IN-subqueries decorrelate to a "
    "per-(part,supplier) aggregate whose per-part totals ride a "
    "PARTITIONED WINDOW over that aggregate (r4: was a second groupBy "
    "joined back, which recomputed the aggregate and re-scanned "
    "lineitem) — ONE fact scan (plan-tested), window state bounded by "
    "suppliers-per-part. The fair-share threshold (share > 2/n_supp) "
    "is scale-invariant, unlike an absolute cutoff. All quantities "
    "are integral-valued doubles, so sums and the cross-multiplied "
    "comparison are exact in any summation order — no epsilon, no "
    "det_round.",
)
def dominant_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    widget = table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    ).select("p_partkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sq = (
        li.join(gated_broadcast(widget), li.l_partkey == widget.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    w = W.partitionBy("l_partkey")
    return (
        sq.withColumn("total_qty", F.sum("supp_qty").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .filter(
            F.col("supp_qty") * F.col("n_supp") > 2 * F.col("total_qty")
        )
        .join(gated_broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("n_dominant"))
        .orderBy(F.desc("n_dominant"), F.asc("s_name"))
    )


# ---------------------------------------------------------------------------
# Trend / interval / statistical quality queries (dashboard + ops class)
# ---------------------------------------------------------------------------


@query(
    "revenue_mom_growth",
    oracle="""
        WITH monthly AS (
          SELECT strftime(o_orderdate, '%Y-%m') AS month,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_cents
          FROM orders GROUP BY 1
        )
        SELECT month,
               rev_cents / 100.0 AS revenue,
               lag(rev_cents) OVER (ORDER BY month) / 100.0 AS prev_revenue,
               CASE WHEN lag(rev_cents) OVER (ORDER BY month) IS NULL
                    THEN NULL
                    ELSE FLOOR((rev_cents - lag(rev_cents) OVER (ORDER BY month))
                               * 10000 / lag(rev_cents) OVER (ORDER BY month)
                               + 0.5) / 100.0
               END AS growth_pct
        FROM monthly
    """,
    survey="§2.4/§2.5 extension (month-over-month growth: lag over a "
    "pre-aggregated monthly series — the dashboard trend query the "
    "reference's static group-bys can't answer)",
    doc="Monthly revenue with percent change vs the previous month. "
    "Cents-integer monthly sums make the lag ratio a deterministic "
    "double on both engines; the global window orders a post-aggregate "
    "series of ~tens of rows, so the single-partition window is "
    "scale-safe (the shuffle-heavy work is the partial-agg groupBy).",
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev_cents")
    )
    # input is the month-grain aggregate (calendar-bounded); the
    # single-bucket key (non-foldable, survives the optimizer) makes
    # that boundedness explicit instead of an empty partition spec
    w = W.partitionBy(F.length(F.col("month")) % 1).orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "month",
        (F.col("rev_cents") / 100.0).alias("revenue"),
        (prev / 100.0).alias("prev_revenue"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(
            F.floor((F.col("rev_cents") - prev) * 10000 / prev + 0.5) / 100.0
        )
        .alias("growth_pct"),
    )


@query(
    "concurrent_events_daily_peak",
    oracle="""
        WITH deltas AS (
          SELECT date_trunc('day', ts) AS day, ts AS t, 1 AS delta
          FROM events
          UNION ALL
          SELECT date_trunc('day', ts) AS day,
                 LEAST(ts + INTERVAL 30 MINUTE,
                       date_trunc('day', ts) + INTERVAL 1 DAY) AS t,
                 -1 AS delta
          FROM events
        ),
        running AS (
          SELECT day,
                 SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                   ROWS UNBOUNDED PRECEDING) AS conc
          FROM deltas
        )
        SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_concurrency
        FROM running GROUP BY day
    """,
    survey="timeseries-ext: interval-overlap sweep line (peak "
    "concurrency — the capacity-planning query no plain groupBy "
    "expresses)",
    doc="Peak number of simultaneously-open 30-minute event windows "
    "per day (windows clipped at midnight so each day is independent). "
    "Classic sweep line as relational ops: +1/-1 boundary deltas, a "
    "per-day running sum ordered by (time, delta) — ends sort before "
    "starts at equal timestamps, giving half-open [s, e) semantics — "
    "then MAX per day. Day partitioning makes the sweep "
    "embarrassingly parallel at 100 TB (no global order); within-tie "
    "row order affects only intermediate prefix values, whose "
    "multiset — and hence the MAX — is order-invariant.",
    tags=("timeseries",),
)
def concurrent_events_daily_peak(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("ts")
    day = F.date_trunc("day", F.col("ts"))
    opens = ev.select(
        day.alias("day"), F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    closes = ev.select(
        day.alias("day"),
        F.least(
            F.col("ts") + F.expr("INTERVAL 30 MINUTES"),
            day + F.expr("INTERVAL 1 DAY"),
        ).alias("t"),
        F.lit(-1).alias("delta"),
    )
    w = (
        W.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        opens.unionByName(closes)
        .select("day", F.sum("delta").over(w).alias("conc"))
        .groupBy("day")
        .agg(F.max("conc").cast("long").alias("peak_concurrency"))
    )


@query(
    "zscore_outlier_counts",
    oracle="""
        WITH cents AS (
          SELECT event_type,
                 CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
          FROM events
        ),
        stats AS (
          SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS ss
          FROM cents GROUP BY 1
        )
        SELECT cents.event_type,
               CAST(MAX(stats.n) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN ABS(cents.c * stats.n - stats.s)
                      > 3.0 * stats.n
                        * SQRT((CAST(stats.ss AS DOUBLE)
                                - CAST(stats.s AS DOUBLE)
                                  * CAST(stats.s AS DOUBLE) / stats.n)
                               / stats.n)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM cents JOIN stats USING (event_type)
        GROUP BY cents.event_type
    """,
    survey="§2.4/§2.9 extension (statistical outlier gate: population "
    "z-score per group — the data-quality check threshold suites "
    "can't express)",
    doc="Per event type, the count of values beyond 3 population "
    "standard deviations. All moments accumulate as exact cents "
    "integers (sum, sum-of-squares fit int64 at any realistic scale "
    "via per-shard partials); the |x-mean| > 3 sigma test is evaluated "
    "in the integer domain multiplied through by n, with sigma the "
    "only float — the identical expression tree on both engines makes "
    "the comparison deterministic. Two narrow shuffles: the stats "
    "aggregate and the broadcast join back.",
    tags=("timeseries",),
)
def zscore_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    stats = cents.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    sigma = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / F.col("n")
    )
    flagged = F.when(
        F.abs(F.col("c") * F.col("n") - F.col("s"))
        > F.lit(3.0) * F.col("n") * sigma,
        1,
    ).otherwise(0)
    return (
        cents.join(bounded_broadcast(stats, "event_type enum"), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.sum(flagged).cast("long").alias("n_outliers"),
        )
    )


@query(
    "key_skew_profile",
    oracle="""
        WITH per_key AS (
          SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id
        ),
        tot AS (SELECT SUM(n_rows) AS total, COUNT(*) AS n_keys FROM per_key)
        SELECT per_key.user_id, CAST(per_key.n_rows AS BIGINT) AS n_rows,
               FLOOR(per_key.n_rows * 1000000.0 / tot.total + 0.5) / 10000.0
                 AS pct_of_rows,
               FLOOR(per_key.n_rows * CAST(tot.n_keys AS DOUBLE) * 100.0
                     / tot.total + 0.5) / 100.0 AS x_mean
        FROM per_key, tot
        ORDER BY n_rows DESC, user_id LIMIT 20
    """,
    survey="§7.4 risk 8 extension (skew audit: heaviest join/agg keys "
    "with share-of-rows and multiple-of-mean — the profiler that "
    "decides between plain, salted, and AQE-skew plans)",
    doc="Top-20 heaviest keys with their row share and hotness as a "
    "multiple of the mean key. This is the diagnostic run BEFORE "
    "picking a 100 TB join strategy: a key at many times the mean "
    "wants salting (salted_skew_agg/join) or AQE skew splitting. One "
    "partial-agg shuffle; the global totals ride in as a 1-row "
    "cross-joined broadcast, never a driver collect; top-k is "
    "TakeOrderedAndProject with an id tiebreak.",
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    tot = per_key.agg(
        F.sum("n_rows").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        per_key.crossJoin(tot)
        .select(
            "user_id",
            "n_rows",
            (F.floor(F.col("n_rows") * 1000000.0 / F.col("total") + 0.5) / 10000.0).alias(
                "pct_of_rows"
            ),
            (
                F.floor(
                    F.col("n_rows")
                    * F.col("n_keys").cast("double")
                    * 100.0
                    / F.col("total")
                    + 0.5
                )
                / 100.0
            ).alias("x_mean"),
        )
        .orderBy(F.desc("n_rows"), F.asc("user_id"))
        .limit(20)
    )


@query(
    "column_profile_orders",
    oracle="""
        SELECT 'o_totalprice' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(o_totalprice) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
               FLOOR(MIN(o_totalprice) * 100 + 0.5) / 100.0 AS min_val,
               FLOOR(MAX(o_totalprice) * 100 + 0.5) / 100.0 AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_custkey',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(o_custkey) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
               CAST(MIN(o_custkey) AS DOUBLE),
               CAST(MAX(o_custkey) AS DOUBLE)
        FROM orders
    """,
    survey="§2.9 extension (column statistics profiling: the "
    "ANALYZE-style null/distinct/min/max summary that feeds both "
    "data-quality suites and CBO-style sizing decisions)",
    doc="Per-column profile (rows, non-nulls, exact distincts, "
    "rounded min/max) for two orders columns in one pass each — the "
    "stats a quality suite compares against expectations and a "
    "planner uses for broadcast decisions. At 100 TB swap exact "
    "COUNT(DISTINCT) for approx_count_distinct (same plan shape, "
    "sketch-mergeable); everything else partial-aggregates.",
)
def column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    price = o.agg(
        F.lit("o_totalprice").alias("column_name"),
        F.count("*").alias("n_rows"),
        F.count("o_totalprice").alias("n_nonnull"),
        F.countDistinct("o_totalprice").alias("n_distinct"),
        (F.floor(F.min("o_totalprice") * 100 + F.lit(0.5)) / 100.0).alias(
            "min_val"
        ),
        (F.floor(F.max("o_totalprice") * 100 + F.lit(0.5)) / 100.0).alias(
            "max_val"
        ),
    )
    prio = o.agg(
        F.lit("o_custkey").alias("column_name"),
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("n_nonnull"),
        F.countDistinct("o_custkey").alias("n_distinct"),
        F.min("o_custkey").cast("double").alias("min_val"),
        F.max("o_custkey").cast("double").alias("max_val"),
    )
    return price.unionByName(prio)


@query(
    "median_imputation_events",
    oracle="""
        WITH seeded AS (
          SELECT event_id, event_type,
                 CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END
                   AS value
          FROM events
        ),
        med AS (
          SELECT event_type,
                 quantile_cont(value, 0.5) AS med_value
          FROM seeded GROUP BY event_type
        )
        SELECT seeded.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN seeded.value IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_imputed,
               SUM(CAST(FLOOR(COALESCE(seeded.value, med.med_value) * 10000
                   + 0.5) AS BIGINT)) / 10000.0 AS imputed_sum
        FROM seeded JOIN med USING (event_type)
        GROUP BY seeded.event_type
    """,
    survey="§2.9/ML-prep extension (group-median imputation: fill "
    "nulls from a per-group statistic — the feature-cleaning pass "
    "between quality gates and model training)",
    doc="Nulls are seeded deterministically (event_id%13), then filled "
    "with the per-type exact interpolated median; the audit output is "
    "the imputed count and a det-rounded sum of the post-imputation "
    "column, which only matches if every imputed cell got the exact "
    "same median on both engines. Two shuffles: the median aggregate "
    "(at 100 TB: approx_percentile, same shape) and the broadcast "
    "join back.",
)
def median_imputation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    seeded = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("value"),
    )
    med = seeded.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("med_value")
    )
    return (
        seeded.join(bounded_broadcast(med, "event_type enum"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("value").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_imputed"),
            (
                F.sum(
                    F.floor(
                        F.coalesce(F.col("value"), F.col("med_value")) * 10000
                        + F.lit(0.5)
                    ).cast("long")
                )
                / 10000.0
            ).alias("imputed_sum"),
        )
    )


@query(
    "referential_integrity_audit",
    oracle="""
        SELECT 'lineitem_orphans' AS check_name,
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                 AS BIGINT) AS n_violations
        UNION ALL
        SELECT 'childless_orders',
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                       WHERE l.l_orderkey = o.o_orderkey))
                 AS BIGINT)
        UNION ALL
        SELECT 'customer_fk_orphans',
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey))
                 AS BIGINT)
    """,
    survey="§2.9 extension (referential-integrity audit: anti-join "
    "orphan checks across the star schema — the FK constraint a "
    "data lake never enforces and a quality gate must)",
    doc="Counts fact rows whose parent key is missing and parents "
    "with no children, for three relationships. r4: both directions "
    "of the orders<->lineitem relationship come from ONE fact pass — "
    "lineitem rolls up to per-key row counts, FULL OUTER joins the "
    "order keys, and a single aggregate reads orphan fact rows "
    "(parent side null: sum of child counts) and childless parents "
    "(child side null) together — instead of two anti-joins that "
    "each re-shuffled the fact. The orders->customer check stays a "
    "broadcast anti-join. Parquet has no FK enforcement — this audit "
    "is how a medallion pipeline catches partial loads and botched "
    "backfills before gold builds on them.",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey")

    li_keys = li.groupBy("l_orderkey").agg(F.count("*").alias("n_rows"))
    both = li_keys.join(
        o.select("o_orderkey"),
        li_keys.l_orderkey == F.col("o_orderkey"),
        "full_outer",
    ).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("o_orderkey").isNull(), F.col("n_rows"))
            ),
            F.lit(0),
        ).alias("orphans"),
        F.count(
            F.when(F.col("l_orderkey").isNull(), F.lit(1))
        ).alias("childless"),
    )
    cust_orphans = o.join(
        gated_broadcast(c), o.o_custkey == c.c_custkey, "left_anti"
    )
    # one consumption of the 1-row aggregate -> two output rows (a
    # second select of `both` would re-run the whole fact pass)
    two_rows = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem_orphans").alias("check_name"),
                    F.col("orphans").cast("long").alias("n_violations"),
                ),
                F.struct(
                    F.lit("childless_orders").alias("check_name"),
                    F.col("childless").cast("long").alias("n_violations"),
                ),
            )
        ).alias("kv")
    ).select("kv.*")
    return two_rows.unionByName(
        cust_orphans.agg(
            F.lit("customer_fk_orphans").alias("check_name"),
            F.count("*").alias("n_violations"),
        )
    )


@query(
    "revenue_pareto_curve",
    oracle="""
        WITH per_cust AS (
          SELECT o_custkey,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_cents
          FROM orders GROUP BY o_custkey
        ),
        ranked AS (
          SELECT rev_cents,
                 row_number() OVER (ORDER BY rev_cents DESC, o_custkey)
                   AS rnk,
                 SUM(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
                   ROWS UNBOUNDED PRECEDING) AS cum_cents,
                 COUNT(*) OVER () AS n_cust,
                 SUM(rev_cents) OVER () AS total_cents
          FROM per_cust
        )
        SELECT top_pct, CAST(n_top AS BIGINT) AS n_top,
               FLOOR(cum * 10000.0 / total + 0.5) / 100.0 AS revenue_share_pct
        FROM (
          SELECT 1 AS top_pct, MAX(CASE WHEN rnk * 100 <= n_cust THEN rnk END) AS n_top,
                 MAX(CASE WHEN rnk * 100 <= n_cust THEN cum_cents END) AS cum,
                 MAX(total_cents) AS total
          FROM ranked
          UNION ALL
          SELECT 5, MAX(CASE WHEN rnk * 20 <= n_cust THEN rnk END),
                 MAX(CASE WHEN rnk * 20 <= n_cust THEN cum_cents END),
                 MAX(total_cents)
          FROM ranked
          UNION ALL
          SELECT 10, MAX(CASE WHEN rnk * 10 <= n_cust THEN rnk END),
                 MAX(CASE WHEN rnk * 10 <= n_cust THEN cum_cents END),
                 MAX(total_cents)
          FROM ranked
        ) t
    """,
    survey="§2.4/§2.5 extension (revenue concentration: cumulative "
    "share at top-k% of customers — the Pareto curve behind account "
    "prioritization)",
    doc="What share of revenue the top 1/5/10 percent of customers "
    "carry. Customer revenues aggregate to exact cents; the DESC "
    "ranking and running revenue come from a range-partitioned "
    "two-pass prefix sum (operators/distributed.ordered_scan) rather "
    "than a single-partition cumulative window, so the scan "
    "parallelizes even when customer cardinality grows with the "
    "corpus; each percentile reads the last rank within its cutoff; "
    "shares are exact integer ratios det-rounded.",
)
def revenue_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_spark.operators.distributed import ordered_scan

    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("rev_cents")
    )
    ranked = ordered_scan(
        per_cust,
        [F.desc("rev_cents"), F.asc("o_custkey")],
        sum_cols=[("rev_cents", "cum_cents")],
        rank_col="rnk",
    ).crossJoin(
        per_cust.agg(
            F.count("*").alias("n_cust"),
            F.sum("rev_cents").alias("total_cents"),
        )
    )
    # All three percentile cutoffs in ONE pass over the ranked frame
    # (conditional aggregates + stack), instead of a 3-way union that
    # would recompute the ordered_scan subtree per slice.
    aggs = [F.max("total_cents").alias("total")]
    for pct, mult in ((1, 100), (5, 20), (10, 10)):
        within = F.col("rnk") * mult <= F.col("n_cust")
        aggs.append(F.max(F.when(within, F.col("rnk"))).alias(f"n_top_{pct}"))
        aggs.append(
            F.max(F.when(within, F.col("cum_cents"))).alias(f"cum_{pct}")
        )
    wide = ranked.agg(*aggs)
    stacked = wide.select(
        F.expr(
            "stack(3, "
            "1, n_top_1, cum_1, "
            "5, n_top_5, cum_5, "
            "10, n_top_10, cum_10) AS (top_pct, n_top, cum)"
        ),
        "total",
    )
    return stacked.select(
        "top_pct",
        "n_top",
        (
            F.floor(F.col("cum") * 10000.0 / F.col("total") + 0.5) / 100.0
        ).alias("revenue_share_pct"),
    )


# ---------------------------------------------------------------------------
# Distributed statistics via exact mergeable moments
# ---------------------------------------------------------------------------


@query(
    "stats_price_quantity_moments",
    oracle="""
        WITH m AS (
          SELECT l_returnflag,
                 CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT))
                      AS DOUBLE) AS sx,
                 CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT))
                      AS DOUBLE) AS sy,
                 CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT)
                        * CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT))
                      AS DOUBLE) AS sxx,
                 CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT)
                        * CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT))
                      AS DOUBLE) AS syy,
                 CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT)
                        * CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT))
                      AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n,
               FLOOR((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1000000 + 0.5) / 1000000.0 AS corr_qty_price,
               FLOOR(sqrt((n * sxx - sx * sx) / (n * (n - 1))) / 100.0
                 * 10000 + 0.5) / 10000.0 AS stddev_qty,
               FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * 1000000 + 0.5) / 1000000.0 AS slope_price_on_qty,
               FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n / 100.0 * 10000 + 0.5) / 10000.0
                 AS intercept_price_on_qty
        FROM m
    """,
    survey="§2.4 extension: corr/stddev/OLS via exact mergeable moments",
    doc="Pearson correlation, sample stddev, and OLS slope/intercept of "
    "extendedprice on quantity per returnflag — computed from six EXACT "
    "integer-scaled moments (n, Σx, Σy, Σx², Σy², Σxy as decimal sums) "
    "rather than Spark's float corr/stddev aggregates, whose partial-"
    "merge order makes final double bits partition-count-dependent. The "
    "moments are associative integer sums -> one partial-agg shuffle, "
    "bit-identical at any partitioning; the closed-form double math then "
    "evaluates on aggregate-sized rows only.",
    tags=("analytics",),
)
def stats_price_quantity_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("decimal(20,0)")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "decimal(20,0)"
    )
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = cov_n / varx_n
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        (F.floor(cov_n / F.sqrt(varx_n * vary_n) * 1000000 + F.lit(0.5))
         / 1000000.0).alias("corr_qty_price"),
        (F.floor(F.sqrt(varx_n / (n * (n - 1))) / 100.0 * 10000 + F.lit(0.5))
         / 10000.0).alias("stddev_qty"),
        (F.floor(slope * 1000000 + F.lit(0.5)) / 1000000.0).alias(
            "slope_price_on_qty"
        ),
        (F.floor((sy - slope * sx) / n / 100.0 * 10000 + F.lit(0.5))
         / 10000.0).alias("intercept_price_on_qty"),
    )


@query(
    "join_fanout_audit",
    oracle="""
        WITH a AS (
          SELECT o_orderkey AS k, count(*) AS na FROM orders GROUP BY 1
        ),
        b AS (
          SELECT l_orderkey AS k, count(*) AS nb FROM lineitem GROUP BY 1
        )
        SELECT CAST((SELECT sum(na) FROM a) AS BIGINT) AS rows_a,
               CAST((SELECT count(*) FROM a) AS BIGINT) AS keys_a,
               CAST((SELECT max(na) FROM a) AS BIGINT) AS max_per_key_a,
               CAST((SELECT sum(nb) FROM b) AS BIGINT) AS rows_b,
               CAST((SELECT count(*) FROM b) AS BIGINT) AS keys_b,
               CAST((SELECT max(nb) FROM b) AS BIGINT) AS max_per_key_b,
               CAST((SELECT sum(na * nb) FROM a JOIN b USING (k)) AS BIGINT)
                 AS exact_join_rows,
               CAST((SELECT max(na * nb) FROM a JOIN b USING (k)) AS BIGINT)
                 AS max_key_fanout
    """,
    survey="analytics-ext: join cardinality / fanout pre-flight audit",
    doc="The check an operator runs BEFORE an expensive join: per-side "
    "key statistics (rows, distinct keys, max rows per key) and the "
    "EXACT join output cardinality — sum over matching keys of "
    "na*nb — computed from two aggregate-sized per-key count tables. "
    "A max_key_fanout orders of magnitude above the median flags a "
    "skewed key that would hot-spot one reducer (feed it to the "
    "salted-join variant); exact_join_rows far above both inputs "
    "flags an unintended many-to-many. r4: one FULL OUTER join of the "
    "two per-key count tables feeds a single aggregate producing all "
    "eight statistics — each fact is scanned exactly once "
    "(plan-verified) and the facts never shuffle together.",
    tags=("analytics",),
)
def join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    a = o.groupBy("k").agg(F.count("*").alias("na"))
    b = li.groupBy("k").agg(F.count("*").alias("nb"))
    # r4: ONE full-outer join of the two per-key count tables yields
    # all eight statistics in a single aggregate — per-side stats
    # count/sum the non-null side, matched-pair stats use na*nb (null
    # when either side is absent, so sum/max skip them exactly like
    # the old inner-join pass) — instead of consuming each aggregate
    # twice (side stats + join), which re-scanned both facts.
    f = F.col("na") * F.col("nb")
    return (
        a.join(b, "k", "full_outer")
        .agg(
            F.sum("na").cast("long").alias("rows_a"),
            F.count("na").cast("long").alias("keys_a"),
            F.max("na").cast("long").alias("max_per_key_a"),
            F.sum("nb").cast("long").alias("rows_b"),
            F.count("nb").cast("long").alias("keys_b"),
            F.max("nb").cast("long").alias("max_per_key_b"),
            F.sum(f).cast("long").alias("exact_join_rows"),
            F.max(f).cast("long").alias("max_key_fanout"),
        )
    )
