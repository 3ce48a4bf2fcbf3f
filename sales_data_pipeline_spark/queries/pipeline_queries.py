"""Pipeline-composite catalog queries: the medallion operators (bronze
split, silver transforms, SCD2 merge, gold marts, quality compiler,
watermark gate) driven end-to-end over the TPC-H-ish testdata, each with
a DuckDB oracle that re-derives the same semantics in ANSI SQL.

Unlike queries/core.py (one Spark primitive per query), every query here
calls the REAL operator module (sales_data_pipeline_spark.operators.*)
on reference-shaped frames derived deterministically from the testdata —
so the driver's correctness gate exercises the same code paths the
pipeline runs in production.

Reference parity targets (file:line into /root/reference/):
 - bronze split: src/main/main.py:94-151 (ordered rejection chain)
 - silver customer/product: src/main/transformations/
   customer_transform.py, product_transform.py
 - SCD2: src/main/transformations/scd_customer_transform.py:66-206
 - gold metrics/marts: src/main/gold/customer_metrics_gold.py,
   src/main/transformations/jobs/customer_mart_sql_tranform_write.py
 - quality: gx/expectations/*.json via data_validator.py
 - watermark: src/main/utility/watermark_manager.py:159-177
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_spark.operators import bronze, gold, scd2, silver
from sales_data_pipeline_spark.quality import compiler
from sales_data_pipeline_spark.scale import gated_broadcast
from sales_data_pipeline_spark.queries.base import (
    det_round,
    det_sum,
    query,
    table,
)

AS_OF = "2024-06-01"


def _dates_to_ts(df: DataFrame) -> DataFrame:
    """Cast DateType output columns to timestamp: Spark dates arrive in
    pandas as datetime.date objects while DuckDB DATEs arrive as
    Timestamps — the driver's value-hash compare needs one canonical
    representation on both sides (oracle SQL casts to TIMESTAMP too)."""
    casts = {
        name: F.col(name).cast("timestamp")
        for name, dtype in df.dtypes
        if dtype == "date"
    }
    return df.withColumns(casts) if casts else df


# ---------------------------------------------------------------------------
# Shaped-input builders: deterministic reference-shaped frames from the
# TPC-H-ish tables (modular-arithmetic "dirt" mirrors the reference's
# dirty-data generators, /root/reference/src/test/generate_*.py).
# ---------------------------------------------------------------------------


def _dirty_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.expr("nullif(l_suppkey % 211, 7)").cast("int").alias("customer_id"),
        F.expr("nullif(l_partkey % 61, 13)").cast("int").alias("store_id"),
        F.when(F.col("l_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("l_shipdate").cast("date"))
        .alias("sales_date"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) - 30000).alias(
            "price"
        ),
        (F.col("l_quantity").cast("int") - 1).alias("quantity"),
    )


def _raw_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    base = c.select(
        k.cast("int").alias("customer_id"),
        F.concat(F.lit("  "), F.col("c_name")).alias("first_name"),
        F.col("c_mktsegment").alias("last_name"),
        F.when(k % 53 == 0, F.lit("invalid-email"))
        .when(k % 71 == 5, F.lit(None))
        .otherwise(F.concat(F.col("c_name"), F.lit("@Example.COM")))
        .alias("email"),
        F.when(
            k % 11 == 0,
            F.concat(
                F.lit("("), F.lpad((k % 10000).cast("string"), 7, "0"), F.lit(")")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("("),
                F.lpad(((k * 37) % 1000000000).cast("string"), 10, "0"),
                F.lit(")"),
            )
        )
        .alias("phone_number"),
        F.when(k % 89 == 3, F.lit("2030-01-01").cast("date"))
        .otherwise(
            F.date_add(F.lit("1970-01-01").cast("date"), (k % 15000).cast("int"))
        )
        .alias("date_of_birth"),
        F.when(k % 2 == 0, F.lit("F")).otherwise(F.lit("M")).alias("gender"),
        F.concat(F.lit("addr-"), k.cast("string")).alias("address"),
        F.concat(F.lit("city-"), F.col("c_nationkey").cast("string")).alias("city"),
        F.concat(F.lit("st-"), (F.col("c_nationkey") % 10).cast("string")).alias(
            "state"
        ),
        F.lpad((k % 100000).cast("string"), 6, "0").alias("pincode"),
        F.date_add(F.lit("2024-01-01").cast("date"), (k % 120).cast("int")).alias(
            "created_date"
        ),
        F.when(
            k % 13 == 2,
            F.date_sub(
                F.date_add(F.lit("2024-01-01").cast("date"), (k % 120).cast("int")),
                10,
            ),
        )
        .otherwise(
            F.date_add(
                F.date_add(F.lit("2024-01-01").cast("date"), (k % 120).cast("int")),
                (k % 30).cast("int"),
            )
        )
        .alias("updated_date"),
        F.lit("2024-03-01").cast("date").alias("ingestion_date"),
    )
    v2 = base.filter(F.col("customer_id") % 7 == 0).withColumns(
        {
            "email": F.concat(F.lit("v2."), F.col("email")),
            "city": F.concat(F.lit("moved-"), F.col("city")),
            "updated_date": F.date_add(F.col("created_date"), 40),
            "ingestion_date": F.lit("2024-04-01").cast("date"),
        }
    )
    return base.unionByName(v2)


_RAW_CUSTOMER_SQL = """
  c0 AS (
    SELECT c_custkey, c_nationkey, c_name, c_mktsegment,
           DATE '2024-01-01' + CAST(c_custkey % 120 AS INTEGER) AS created_date
    FROM customer
  ),
  base AS (
    SELECT CAST(c_custkey AS INTEGER) AS customer_id,
           '  ' || c_name AS first_name,
           c_mktsegment AS last_name,
           CASE WHEN c_custkey % 53 = 0 THEN 'invalid-email'
                WHEN c_custkey % 71 = 5 THEN NULL
                ELSE c_name || '@Example.COM' END AS email,
           CASE WHEN c_custkey % 11 = 0
                THEN '(' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 7, '0') || ')'
                ELSE '(' || lpad(CAST((c_custkey * 37) % 1000000000 AS VARCHAR), 10, '0') || ')'
           END AS phone_number,
           CASE WHEN c_custkey % 89 = 3 THEN DATE '2030-01-01'
                ELSE DATE '1970-01-01' + CAST(c_custkey % 15000 AS INTEGER)
           END AS date_of_birth,
           CASE WHEN c_custkey % 2 = 0 THEN 'F' ELSE 'M' END AS gender,
           'addr-' || CAST(c_custkey AS VARCHAR) AS address,
           'city-' || CAST(c_nationkey AS VARCHAR) AS city,
           'st-' || CAST(c_nationkey % 10 AS VARCHAR) AS state,
           lpad(CAST(c_custkey % 100000 AS VARCHAR), 6, '0') AS pincode,
           created_date,
           CASE WHEN c_custkey % 13 = 2 THEN created_date - 10
                ELSE created_date + CAST(c_custkey % 30 AS INTEGER)
           END AS updated_date,
           DATE '2024-03-01' AS ingestion_date
    FROM c0
  ),
  raw_customer AS (
    SELECT * FROM base
    UNION ALL
    SELECT customer_id, first_name, last_name, 'v2.' || email,
           phone_number, date_of_birth, gender, address,
           'moved-' || city, state, pincode, created_date,
           created_date + 40 AS updated_date,
           DATE '2024-04-01' AS ingestion_date
    FROM base WHERE customer_id % 7 = 0
  )
"""


def _scd_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        k.cast("int").alias("customer_id"),
        F.col("c_name").alias("first_name"),
        F.col("c_mktsegment").alias("last_name"),
        F.concat(F.col("c_name"), F.lit("@x.com")).alias("email"),
        F.lpad(((k * 37) % 1000000000).cast("string"), 10, "0").alias(
            "phone_number"
        ),
        F.concat(F.lit("city-"), F.col("c_nationkey").cast("string")).alias("city"),
        F.concat(F.lit("st-"), (F.col("c_nationkey") % 10).cast("string")).alias(
            "state"
        ),
        F.concat(F.lit("addr-"), k.cast("string")).alias("address"),
        F.lpad((k % 100000).cast("string"), 6, "0").alias("pincode"),
    )


_SCD_V1_SQL = """
  v1 AS (
    SELECT CAST(c_custkey AS INTEGER) AS customer_id,
           c_name AS first_name,
           c_mktsegment AS last_name,
           c_name || '@x.com' AS email,
           lpad(CAST((c_custkey * 37) % 1000000000 AS VARCHAR), 10, '0') AS phone_number,
           'city-' || CAST(c_nationkey AS VARCHAR) AS city,
           'st-' || CAST(c_nationkey % 10 AS VARCHAR) AS state,
           'addr-' || CAST(c_custkey AS VARCHAR) AS address,
           lpad(CAST(c_custkey % 100000 AS VARCHAR), 6, '0') AS pincode
    FROM customer
  )
"""

_SCD_HASH_SQL = (
    "md5(concat_ws('|', first_name, last_name, email, phone_number, "
    "city, state, address, pincode))"
)


def _silver_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver-sales-shaped fact from lineitem x orders (broadcast-free
    equi join on the orderkey; Catalyst picks SMJ/SHJ, AQE tunes it)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .select(
            F.col("o_custkey").cast("int").alias("customer_id"),
            F.col("l_partkey").cast("int").alias("product_id"),
            F.col("l_suppkey").cast("int").alias("store_id"),
            F.col("l_suppkey").cast("int").alias("sales_person_id"),
            F.col("l_shipdate").cast("date").alias("sales_date"),
            F.year("l_shipdate").alias("sales_year"),
            F.month("l_shipdate").alias("sales_month"),
            F.col("l_quantity").cast("int").alias("quantity"),
            F.col("l_extendedprice").alias("price"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_cost"
            ),
        )
    )


_SILVER_SALES_SQL = """
  silver_sales AS (
    SELECT CAST(o_custkey AS INTEGER) AS customer_id,
           CAST(l_partkey AS INTEGER) AS product_id,
           CAST(l_suppkey AS INTEGER) AS store_id,
           CAST(l_suppkey AS INTEGER) AS sales_person_id,
           CAST(l_shipdate AS DATE) AS sales_date,
           CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS sales_year,
           CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS sales_month,
           CAST(l_quantity AS INTEGER) AS quantity,
           l_extendedprice AS price,
           l_extendedprice * (1 - l_discount) AS total_cost
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  )
"""


def _customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").cast("int").alias("customer_id"),
        F.col("c_name").alias("first_name"),
        F.col("c_mktsegment").alias("last_name"),
        F.concat(F.lit("city-"), F.col("c_nationkey").cast("string")).alias("city"),
        F.concat(F.lit("st-"), (F.col("c_nationkey") % 10).cast("string")).alias(
            "state"
        ),
        F.concat(F.lit("addr-"), F.col("c_custkey").cast("string")).alias(
            "address"
        ),
        F.lpad(((F.col("c_custkey") * 37) % 1000000000).cast("string"), 10, "0")
        .alias("phone_number"),
    )


_CUSTOMER_DIM_SQL = """
  customer_dim AS (
    SELECT CAST(c_custkey AS INTEGER) AS customer_id,
           c_name AS first_name,
           c_mktsegment AS last_name,
           'city-' || CAST(c_nationkey AS VARCHAR) AS city,
           'st-' || CAST(c_nationkey % 10 AS VARCHAR) AS state,
           'addr-' || CAST(c_custkey AS VARCHAR) AS address,
           lpad(CAST((c_custkey * 37) % 1000000000 AS VARCHAR), 10, '0') AS phone_number
    FROM customer
  )
"""


# ---------------------------------------------------------------------------
# 1. Bronze validity split (P5-P7 via the bronze operator module)
# ---------------------------------------------------------------------------


@query(
    "bronze_validity_split",
    oracle="""
        SELECT reason, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) / 100.0 AS total_price
        FROM (
          SELECT CASE
                   WHEN l_suppkey % 211 = 7 THEN 'NULL_CUSTOMER_ID'
                   WHEN l_partkey % 61 = 13 THEN 'NULL_STORE_ID'
                   WHEN l_orderkey % 97 = 0 THEN 'NULL_SALES_DATE'
                   WHEN l_extendedprice * (1 - l_discount) - 30000 <= 0
                     THEN 'INVALID_PRICE'
                   WHEN CAST(l_quantity AS INTEGER) - 1 <= 0
                     THEN 'INVALID_QUANTITY'
                   ELSE 'VALID'
                 END AS reason,
                 l_extendedprice * (1 - l_discount) - 30000 AS price
          FROM lineitem
        ) t
        GROUP BY reason
    """,
    survey="P5,P6,P7 (operators/bronze.py end-to-end)",
    doc="The bronze operator module's ordered first-match-wins rejection "
    "chain + one-pass split over a dirtied fact (main.py:94-151). The "
    "reason column is computed once; both split sides share the scan.",
)
def bronze_validity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _dirty_sales(spark, sf_dir)
    tagged = bronze.with_rejection_reason(raw, bronze.sales_validity_rules())
    return (
        tagged.groupBy(
            F.coalesce(F.col(bronze.REJECTION_REASON), F.lit("VALID")).alias(
                "reason"
            )
        )
        .agg(
            F.count("*").alias("n"),
            det_sum(F.col("price"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Silver customer transform (P8,P10,W1 via operators/silver.py)
# ---------------------------------------------------------------------------


@query(
    "silver_customer_transform",
    oracle=f"""
        WITH {_RAW_CUSTOMER_SQL},
        cleaned AS (
          SELECT customer_id,
                 lower(trim(first_name)) AS first_name,
                 lower(trim(last_name)) AS last_name,
                 lower(trim(email)) AS email,
                 CASE WHEN regexp_matches(
                        regexp_replace(phone_number, '[^0-9]', '', 'g'),
                        '^[0-9]{{10,}}$')
                      THEN regexp_replace(phone_number, '[^0-9]', '', 'g')
                      ELSE NULL END AS phone_number,
                 date_of_birth, gender, address,
                 lower(trim(city)) AS city,
                 lower(trim(state)) AS state,
                 pincode,
                 CASE WHEN updated_date < created_date THEN created_date
                      ELSE updated_date END AS updated_date,
                 ingestion_date
          FROM raw_customer
        ),
        gated AS (
          SELECT * FROM cleaned
          WHERE customer_id IS NOT NULL
            AND email IS NOT NULL AND email LIKE '%@%'
            AND date_of_birth IS NOT NULL
            AND date_of_birth <= DATE '{AS_OF}'
        ),
        dedup AS (
          SELECT *, row_number() OVER (
                   PARTITION BY customer_id
                   ORDER BY updated_date DESC, ingestion_date DESC,
                            email DESC NULLS LAST) AS rn
          FROM gated
        )
        SELECT customer_id, first_name, last_name, email, phone_number,
               CAST(date_of_birth AS TIMESTAMP) AS date_of_birth,
               gender, address, city, state, pincode
        FROM dedup WHERE rn = 1
    """,
    survey="P8,P10,W1,A4 (operators/silver.py transform_customer)",
    doc="Full silver customer transform (customer_transform.py:8-104): "
    "normalize, phone digit-strip with >=10 gate, updated>=created "
    "clamp, email/DOB gates, keep-latest dedup window with the engine's "
    "deterministic tiebreaker.",
)
def silver_customer_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dates_to_ts(
        silver.transform_customer(_raw_customer(spark, sf_dir), AS_OF)
    )


# ---------------------------------------------------------------------------
# 3. Silver product transform (P8,P9,W1 via operators/silver.py)
# ---------------------------------------------------------------------------


@query(
    "silver_product_transform",
    oracle=f"""
        WITH p0 AS (
          SELECT p_partkey, p_name, p_type, p_brand, p_retailprice,
                 DATE '2023-01-01' + CAST(p_partkey % 200 AS INTEGER) AS created_date
          FROM part
        ),
        base AS (
          SELECT CAST(p_partkey AS INTEGER) AS product_id,
                 ' ' || upper(p_name) AS product_name,
                 p_type AS category,
                 p_brand AS brand,
                 p_retailprice - 901 AS current_price,
                 CASE WHEN p_partkey % 9 = 0 THEN -5.0
                      WHEN p_partkey % 9 = 1 THEN p_retailprice - 901
                      WHEN p_partkey % 9 = 2 THEN NULL
                      ELSE p_retailprice - 950 END AS old_price,
                 created_date,
                 CASE WHEN p_partkey % 13 = 2 THEN created_date - 10
                      ELSE created_date + CAST(p_partkey % 50 AS INTEGER)
                 END AS updated_date,
                 CASE WHEN p_partkey % 17 = 3 THEN created_date - 5
                      WHEN p_partkey % 17 = 4 THEN DATE '2024-03-01'
                      WHEN p_partkey % 17 = 5 THEN DATE '2030-01-01'
                      ELSE NULL END AS expiry_date,
                 TRUE AS is_active,
                 DATE '2024-03-01' AS ingestion_date
          FROM p0
        ),
        raw_product AS (
          SELECT * FROM base
          UNION ALL
          SELECT product_id, product_name, category, brand,
                 current_price + 7.5, old_price, created_date,
                 created_date + 100, expiry_date, is_active,
                 DATE '2024-04-01'
          FROM base WHERE product_id % 5 = 0
        ),
        cleaned AS (
          SELECT product_id,
                 lower(trim(product_name)) AS product_name,
                 lower(trim(category)) AS category,
                 lower(trim(brand)) AS brand,
                 current_price,
                 CASE WHEN old_price < 0 THEN NULL
                      WHEN old_price = current_price THEN NULL
                      ELSE old_price END AS old_price,
                 created_date,
                 CASE WHEN updated_date < created_date THEN created_date
                      ELSE updated_date END AS updated_date,
                 expiry_date,
                 (expiry_date IS NULL OR expiry_date >= DATE '{AS_OF}')
                   AS is_active,
                 ingestion_date
          FROM raw_product
          WHERE current_price > 0
            AND (expiry_date IS NULL OR expiry_date >= created_date)
        ),
        dedup AS (
          SELECT *, row_number() OVER (
                   PARTITION BY product_id
                   ORDER BY updated_date DESC, product_name DESC NULLS LAST
                 ) AS rn
          FROM cleaned
        )
        SELECT product_id, product_name, category, brand, current_price,
               old_price,
               CAST(created_date AS TIMESTAMP) AS created_date,
               CAST(updated_date AS TIMESTAMP) AS updated_date,
               CAST(expiry_date AS TIMESTAMP) AS expiry_date,
               is_active,
               CAST(ingestion_date AS TIMESTAMP) AS ingestion_date
        FROM dedup WHERE rn = 1
    """,
    survey="P8,P9,W1 (operators/silver.py transform_product)",
    doc="Full silver product transform (product_transform.py:12-100): "
    "price sanity, old-price repair (negative/equal -> NULL), expiry "
    "consistency, is_active re-derivation vs as_of, keep-latest dedup.",
)
def silver_product_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    created = F.date_add(F.lit("2023-01-01").cast("date"), (k % 200).cast("int"))
    base = p.select(
        k.cast("int").alias("product_id"),
        F.concat(F.lit(" "), F.upper(F.col("p_name"))).alias("product_name"),
        F.col("p_type").alias("category"),
        F.col("p_brand").alias("brand"),
        (F.col("p_retailprice") - 901).alias("current_price"),
        F.when(k % 9 == 0, F.lit(-5.0))
        .when(k % 9 == 1, F.col("p_retailprice") - 901)
        .when(k % 9 == 2, F.lit(None))
        .otherwise(F.col("p_retailprice") - 950)
        .alias("old_price"),
        created.alias("created_date"),
        F.when(k % 13 == 2, F.date_sub(created, 10))
        .otherwise(F.date_add(created, (k % 50).cast("int")))
        .alias("updated_date"),
        F.when(k % 17 == 3, F.date_sub(created, 5))
        .when(k % 17 == 4, F.lit("2024-03-01").cast("date"))
        .when(k % 17 == 5, F.lit("2030-01-01").cast("date"))
        .otherwise(F.lit(None))
        .alias("expiry_date"),
        F.lit(True).alias("is_active"),
        F.lit("2024-03-01").cast("date").alias("ingestion_date"),
    )
    v2 = (
        base.filter(F.col("product_id") % 5 == 0)
        .withColumn("current_price", F.col("current_price") + 7.5)
        .withColumn("updated_date", F.date_add(F.col("created_date"), 100))
        .withColumn("ingestion_date", F.lit("2024-04-01").cast("date"))
    )
    return _dates_to_ts(silver.transform_product(base.unionByName(v2), AS_OF))


# ---------------------------------------------------------------------------
# 4. SCD Type 2 merge (J3,J4,U1 via operators/scd2.py — the flagship)
# ---------------------------------------------------------------------------


@query(
    "scd2_merge_history",
    oracle=f"""
        WITH {_SCD_V1_SQL},
        v2 AS (
          SELECT customer_id, first_name, last_name, email, phone_number,
                 city, state,
                 CASE WHEN customer_id % 5 = 0 THEN 'moved-' || address
                      ELSE address END AS address,
                 pincode
          FROM v1
          UNION ALL
          SELECT customer_id + 10000000, first_name, last_name, email,
                 phone_number, city, state,
                 'addr-new-' || CAST(customer_id AS VARCHAR), pincode
          FROM v1 WHERE customer_id % 9 = 0
        ),
        h1 AS (SELECT v1.*, {_SCD_HASH_SQL} AS row_hash FROM v1),
        h2 AS (SELECT v2.*, {_SCD_HASH_SQL} AS row_hash FROM v2),
        changed AS (
          SELECT h2.customer_id
          FROM h2 JOIN h1 USING (customer_id)
          WHERE h2.row_hash <> h1.row_hash
        )
        SELECT h1.*, TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
               CASE WHEN c.customer_id IS NOT NULL
                    THEN TIMESTAMP '2024-02-01 00:00:00'
               END AS valid_to,
               c.customer_id IS NULL AS is_current
        FROM h1 LEFT JOIN changed c USING (customer_id)
        UNION ALL
        SELECT h2.*, TIMESTAMP '2024-02-01 00:00:00',
               CAST(NULL AS TIMESTAMP), TRUE
        FROM h2 WHERE customer_id IN (SELECT customer_id FROM changed)
        UNION ALL
        SELECT h2.*, TIMESTAMP '2024-02-01 00:00:00',
               CAST(NULL AS TIMESTAMP), TRUE
        FROM h2 WHERE customer_id NOT IN (SELECT customer_id FROM v1)
    """,
    survey="J3,J4,U1,§2.12 (operators/scd2.py apply_scd_type2)",
    doc="Two-batch SCD Type 2 lifecycle (scd_customer_transform.py:66-206):"
    " first run seeds history at 2024-01-01; second batch at 2024-02-01 "
    "closes changed keys (valid_to set, is_current=False), appends new "
    "versions, inserts new keys, passes unchanged keys through. The "
    "md5/concat_ws row-hash (null-collapsing) matches the oracle's.",
)
def scd2_merge_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1 = _scd_v1(spark, sf_dir)
    v2_changed = v1.withColumn(
        "address",
        F.when(
            F.col("customer_id") % 5 == 0,
            F.concat(F.lit("moved-"), F.col("address")),
        ).otherwise(F.col("address")),
    )
    v2_new = (
        v1.filter(F.col("customer_id") % 9 == 0)
        .withColumn("customer_id", F.col("customer_id") + 10000000)
        .withColumn(
            "address",
            F.concat(
                F.lit("addr-new-"),
                (F.col("customer_id") - 10000000).cast("string"),
            ),
        )
    )
    v2 = v2_changed.unionByName(v2_new)
    hist1 = scd2.apply_scd_type2(v1.limit(0), v1, "2024-01-01")
    return _dates_to_ts(scd2.apply_scd_type2(hist1, v2, "2024-02-01"))


# ---------------------------------------------------------------------------
# 5. Gold customer metrics over the star (J2,J5,A1 via operators/gold.py)
# ---------------------------------------------------------------------------


@query(
    "gold_customer_metrics",
    oracle=f"""
        WITH {_SILVER_SALES_SQL},
        {_CUSTOMER_DIM_SQL},
        agg AS (
          SELECT customer_id,
                 CAST(count(*) AS BIGINT) AS total_orders,
                 CAST(SUM(quantity) AS BIGINT) AS total_quantity,
                 FLOOR((CAST(SUM(CAST(FLOOR(total_cost * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) / 100.0) * 100 + 0.5) / 100.0
                   AS total_spent,
                 FLOOR((CAST(SUM(CAST(FLOOR(total_cost * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) / 100.0 / count(*)) * 100 + 0.5)
                     / 100.0 AS avg_order_value,
                 CAST(MIN(sales_date) AS TIMESTAMP) AS first_purchase_date,
                 CAST(MAX(sales_date) AS TIMESTAMP) AS last_purchase_date
          FROM silver_sales
          GROUP BY customer_id
        )
        SELECT a.customer_id, d.first_name, d.last_name, d.city, d.state,
               a.total_orders, a.total_quantity, a.total_spent,
               a.avg_order_value, a.first_purchase_date,
               a.last_purchase_date
        FROM agg a JOIN customer_dim d ON a.customer_id = d.customer_id
    """,
    survey="J2,J5,A1 (operators/gold.py build_sales_enriched + "
    "build_customer_metrics)",
    doc="Gold star join (broadcast dims) feeding per-customer behavioral "
    "metrics (sales_gold.py:21-67, customer_metrics_gold.py:12-66). "
    "Money aggregates det-rounded to 2dp on both sides.",
)
def gold_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    sales = _silver_sales(spark, sf_dir)
    cdim = _customer_dim(spark, sf_dir)
    pdim = table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("int").alias("product_id"),
        F.col("p_name").alias("product_name"),
        F.col("p_type").alias("category"),
        F.col("p_brand").alias("brand"),
    )
    sdim = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("int").alias("store_id"),
        F.col("s_name").alias("store_name"),
        F.concat(F.lit("city-"), F.col("s_nationkey").cast("string")).alias(
            "city"
        ),
        F.concat(F.lit("st-"), (F.col("s_nationkey") % 10).cast("string")).alias(
            "state"
        ),
    )
    enriched = gold.build_sales_enriched(sales, cdim, pdim, sdim)
    metrics = gold.build_customer_metrics(enriched, cdim)
    return _dates_to_ts(
        metrics.withColumn("total_spent", det_round(F.col("total_spent"), 2))
        .withColumn("avg_order_value", det_round(F.col("avg_order_value"), 2))
    )


# ---------------------------------------------------------------------------
# 6. Sales-team mart (A6,W2 shape via operators/gold.py)
# ---------------------------------------------------------------------------


@query(
    "sales_team_mart",
    oracle=f"""
        WITH {_SILVER_SALES_SQL},
        monthly AS (
          SELECT sales_person_id,
                 substring(CAST(sales_date AS VARCHAR), 1, 7) AS sales_month,
                 CAST(SUM(CAST(FLOOR(total_cost * 100 + 0.5) AS BIGINT))
                   AS BIGINT) / 100.0 AS raw_total
          FROM silver_sales
          GROUP BY 1, 2
        )
        SELECT m.sales_person_id,
               s_name || ' team-' || CAST(s_nationkey % 10 AS VARCHAR)
                 AS full_name,
               m.sales_month,
               FLOOR(m.raw_total * 100 + 0.5) / 100.0 AS total_sales,
               FLOOR(m.raw_total * 0.01 * 10000 + 0.5) / 10000.0 AS incentive
        FROM monthly m
        JOIN supplier ON CAST(s_suppkey AS INTEGER) = m.sales_person_id
    """,
    survey="A6,W2,§3.2 (operators/gold.py build_sales_team_mart)",
    doc="The declared-but-unimplemented sales_team_data_mart "
    "(table_scripts.sql:152-160): per-salesperson monthly totals + 1% "
    "incentive, supplier as the sales team dimension.",
)
def sales_team_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    sales = _silver_sales(spark, sf_dir)
    team = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("int").alias("id"),
        F.col("s_name").alias("first_name"),
        F.concat(F.lit("team-"), (F.col("s_nationkey") % 10).cast("string")).alias(
            "last_name"
        ),
    )
    mart = gold.build_sales_team_mart(sales, team, incentive_rate=0.01)
    return mart.withColumn(
        "incentive", det_round(F.col("incentive"), 4)
    ).withColumn("total_sales", det_round(F.col("total_sales"), 2))


# ---------------------------------------------------------------------------
# 7. Quality suite compiled to one aggregation pass (§2.9)
# ---------------------------------------------------------------------------

_QUALITY_SUITE = {
    "expectation_suite_name": "customer_testdata_suite",
    "expectations": [
        {
            "expectation_type": "expect_column_values_to_not_be_null",
            "kwargs": {"column": "c_mktsegment"},
        },
        {
            "expectation_type": "expect_column_values_to_be_between",
            "kwargs": {"column": "c_acctbal", "min_value": -999, "max_value": 9000},
        },
        {
            "expectation_type": "expect_column_values_to_match_regex",
            "kwargs": {"column": "c_name", "regex": "^Customer#[0-9]+$"},
        },
        {
            "expectation_type": "expect_column_values_to_be_between",
            "kwargs": {"column": "c_nationkey", "min_value": 0, "max_value": 20},
        },
    ],
}


@query(
    "quality_suite_checks",
    oracle="""
        SELECT 'expect_column_values_to_not_be_null' AS rule,
               'c_mktsegment' AS column_name,
               CAST(COUNT(*) FILTER (c_mktsegment IS NULL) AS BIGINT)
                 AS violations
        FROM customer
        UNION ALL
        SELECT 'expect_column_values_to_be_between', 'c_acctbal',
               CAST(COUNT(*) FILTER (c_acctbal IS NOT NULL
                 AND (c_acctbal < -999 OR c_acctbal > 9000)) AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'expect_column_values_to_match_regex', 'c_name',
               CAST(COUNT(*) FILTER (c_name IS NOT NULL
                 AND NOT regexp_matches(c_name, '^Customer#[0-9]+$')) AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'expect_column_values_to_be_between', 'c_nationkey',
               CAST(COUNT(*) FILTER (c_nationkey IS NOT NULL
                 AND (c_nationkey < 0 OR c_nationkey > 20)) AS BIGINT)
        FROM customer
    """,
    survey="§2.9 (quality/compiler.py violation_summary_df)",
    doc="GE-style suite JSON compiled to Spark checks; all row-level "
    "expectations for the table evaluate in one aggregate scan, vs the "
    "reference's one GE validation per expectation "
    "(data_validator.py:54-127).",
)
def quality_suite_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return compiler.violation_summary_df(c, _QUALITY_SUITE)


# ---------------------------------------------------------------------------
# 8. Watermark-gated incremental scan (I1-I4)
# ---------------------------------------------------------------------------


@query(
    "watermark_incremental_scan",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_value
        FROM events
        WHERE ts > TIMESTAMP '2024-01-19 23:57:00'
        GROUP BY event_type
    """,
    survey="I1-I4,S2 (incremental/watermark.py WatermarkManager)",
    doc="Incremental gate: WatermarkManager fallback chain resolves the "
    "2024-01-20 00:02:00 watermark, subtracts the 5-minute late-data "
    "buffer (crossing the day boundary, watermark_manager.py:159-177), "
    "and emits a typed predicate that pushes down to the parquet scan.",
)
def watermark_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_spark.incremental.watermark import WatermarkManager

    wm = WatermarkManager(
        entity="events",
        primary_path="/nonexistent/watermarks/events.json",
        timestamp_column="ts",
        default_watermark="2024-01-20 00:02:00",
        buffer_minutes=5,
        initial_lookback_days=0,
    )
    ev = table(spark, sf_dir, "events")
    return (
        ev.filter(wm.get_filter_column())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            det_sum(F.col("value"), 2).alias("total_value"),
        )
    )

# ---------------------------------------------------------------------------
# 9. Silver sales transform (J1 name-resolution join via operators/silver.py)
# ---------------------------------------------------------------------------


@query(
    "silver_sales_transform",
    oracle="""
        WITH raw_sales AS (
          SELECT CAST(NULLIF(l_suppkey % 199, 3) AS INTEGER) AS customer_id,
                 CAST(l_suppkey AS INTEGER) AS store_id,
                 ' PART-' || CAST(l_partkey AS VARCHAR) AS product_name,
                 CAST(l_shipdate AS DATE) AS sales_date,
                 CAST(l_suppkey AS INTEGER) AS sales_person_id,
                 l_extendedprice AS price,
                 CAST(l_quantity AS INTEGER) - 1 AS quantity
          FROM lineitem
        ),
        lookup AS (
          SELECT CAST(p_partkey AS INTEGER) AS product_id,
                 lower(trim('Part-' || CAST(p_partkey AS VARCHAR)))
                   AS product_name
          FROM part
        ),
        joined AS (
          SELECT r.customer_id, l.product_id, r.store_id, r.sales_person_id,
                 r.sales_date,
                 CAST(EXTRACT(year FROM r.sales_date) AS INTEGER) AS sales_year,
                 CAST(EXTRACT(month FROM r.sales_date) AS INTEGER) AS sales_month,
                 r.quantity, r.price,
                 r.price * r.quantity AS total_cost
          FROM (SELECT *, lower(trim(product_name)) AS pn FROM raw_sales) r
          JOIN lookup l ON r.pn = l.product_name
        )
        SELECT customer_id, product_id, store_id, sales_person_id,
               CAST(sales_date AS TIMESTAMP) AS sales_date,
               sales_year, sales_month, quantity, price, total_cost
        FROM joined
        WHERE customer_id IS NOT NULL AND product_id IS NOT NULL
          AND store_id IS NOT NULL AND sales_date IS NOT NULL
          AND price > 0 AND quantity > 0
    """,
    survey="J1,P3,P4 (operators/silver.py transform_sales)",
    doc="Silver sales fact: normalized product-name resolution join "
    "(broadcast lookup), total_cost/year/month derivation, validity "
    "gate, schema lock (sales_transform.py:8-86).",
)
def silver_sales_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    raw = li.select(
        F.expr("nullif(l_suppkey % 199, 3)").cast("int").alias("customer_id"),
        F.col("l_suppkey").cast("int").alias("store_id"),
        F.concat(F.lit(" PART-"), F.col("l_partkey").cast("string")).alias(
            "product_name"
        ),
        F.col("l_shipdate").cast("date").alias("sales_date"),
        F.col("l_suppkey").cast("int").alias("sales_person_id"),
        F.col("l_extendedprice").alias("price"),
        (F.col("l_quantity").cast("int") - 1).alias("quantity"),
    )
    lookup = table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("int").alias("product_id"),
        F.concat(F.lit("Part-"), F.col("p_partkey").cast("string")).alias(
            "product_name"
        ),
    )
    return _dates_to_ts(silver.transform_sales(raw, lookup))


# ---------------------------------------------------------------------------
# 10. Silver store transform (P8,P9,W1 via operators/silver.py)
# ---------------------------------------------------------------------------


@query(
    "silver_store_transform",
    oracle=f"""
        WITH s0 AS (
          SELECT s_suppkey, s_name, s_nationkey,
                 DATE '2020-01-01' + CAST(s_suppkey % 1000 AS INTEGER)
                   AS opening
          FROM supplier
        ),
        base AS (
          SELECT CAST(s_suppkey AS INTEGER) AS store_id,
                 '  ' || upper(s_name) AS store_name,
                 'addr-' || CAST(s_suppkey AS VARCHAR) AS address,
                 'city-' || CAST(s_nationkey AS VARCHAR) AS city,
                 'st-' || CAST(s_nationkey % 10 AS VARCHAR) AS state,
                 lpad(CAST(s_suppkey % 100000 AS VARCHAR), 6, '0') AS pincode,
                 'MGR ' || CAST(s_suppkey % 7 AS VARCHAR)
                   AS store_manager_name,
                 opening AS store_opening_date,
                 CASE WHEN s_suppkey % 7 = 1 THEN opening - 5
                      WHEN s_suppkey % 7 = 2 THEN DATE '2024-01-01'
                      WHEN s_suppkey % 7 = 3 THEN DATE '2030-01-01'
                      ELSE NULL END AS store_closing_date,
                 'review-' || CAST(s_suppkey % 5 AS VARCHAR) AS reviews,
                 DATE '2024-03-01' AS ingestion_date
          FROM s0
        ),
        raw_store AS (
          SELECT * FROM base
          UNION ALL
          SELECT store_id, store_name || ' V2', address, city, state,
                 pincode, store_manager_name, store_opening_date,
                 store_closing_date, reviews, DATE '2024-04-01'
          FROM base WHERE store_id % 4 = 0
        ),
        cleaned AS (
          SELECT store_id,
                 lower(trim(store_name)) AS store_name,
                 address,
                 lower(trim(city)) AS city,
                 lower(trim(state)) AS state,
                 pincode,
                 lower(trim(store_manager_name)) AS store_manager_name,
                 store_opening_date,
                 CASE WHEN store_closing_date < store_opening_date THEN NULL
                      ELSE store_closing_date END AS store_closing_date,
                 (CASE WHEN store_closing_date < store_opening_date THEN NULL
                       ELSE store_closing_date END IS NULL
                  OR CASE WHEN store_closing_date < store_opening_date
                          THEN NULL ELSE store_closing_date END
                     >= DATE '{AS_OF}') AS is_active,
                 ingestion_date
          FROM raw_store
        ),
        gated AS (
          SELECT * FROM cleaned
          WHERE store_id IS NOT NULL AND store_name IS NOT NULL
            AND store_opening_date IS NOT NULL
            AND store_opening_date <= DATE '{AS_OF}'
        ),
        dedup AS (
          SELECT *, row_number() OVER (
                   PARTITION BY store_id
                   ORDER BY ingestion_date DESC, store_name DESC NULLS LAST
                 ) AS rn
          FROM gated
        )
        SELECT store_id, store_name, address, city, state, pincode,
               store_manager_name,
               CAST(store_opening_date AS TIMESTAMP) AS store_opening_date,
               CAST(store_closing_date AS TIMESTAMP) AS store_closing_date,
               is_active
        FROM dedup WHERE rn = 1
    """,
    survey="P8,P9,W1 (operators/silver.py transform_store)",
    doc="Silver store transform (store_transform.py:8-100): closing-date "
    "repair, is_active derivation vs as_of, opening-date gate, "
    "keep-latest-ingestion dedup.",
)
def silver_store_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    opening = F.date_add(F.lit("2020-01-01").cast("date"), (k % 1000).cast("int"))
    base = sup.select(
        k.cast("int").alias("store_id"),
        F.concat(F.lit("  "), F.upper(F.col("s_name"))).alias("store_name"),
        F.concat(F.lit("addr-"), k.cast("string")).alias("address"),
        F.concat(F.lit("city-"), F.col("s_nationkey").cast("string")).alias(
            "city"
        ),
        F.concat(F.lit("st-"), (F.col("s_nationkey") % 10).cast("string")).alias(
            "state"
        ),
        F.lpad((k % 100000).cast("string"), 6, "0").alias("pincode"),
        F.concat(F.lit("MGR "), (k % 7).cast("string")).alias(
            "store_manager_name"
        ),
        opening.alias("store_opening_date"),
        F.when(k % 7 == 1, F.date_sub(opening, 5))
        .when(k % 7 == 2, F.lit("2024-01-01").cast("date"))
        .when(k % 7 == 3, F.lit("2030-01-01").cast("date"))
        .otherwise(F.lit(None))
        .alias("store_closing_date"),
        F.concat(F.lit("review-"), (k % 5).cast("string")).alias("reviews"),
        F.lit("2024-03-01").cast("date").alias("ingestion_date"),
    )
    v2 = (
        base.filter(F.col("store_id") % 4 == 0)
        .withColumn("store_name", F.concat(F.col("store_name"), F.lit(" V2")))
        .withColumn("ingestion_date", F.lit("2024-04-01").cast("date"))
    )
    return _dates_to_ts(
        silver.transform_store(base.unionByName(v2), AS_OF)
    )



@query(
    "incremental_metrics_merge",
    oracle="""
        SELECT o_custkey AS custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                 / 100.0 AS total_spent,
               strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
                 AS first_order,
               strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
                 AS last_order
        FROM orders
        GROUP BY o_custkey
    """,
    survey="I1-I4 extension (incremental aggregate maintenance: "
    "materialized-view-style merge of a delta batch into existing "
    "metrics — the scale path the reference's full-refresh gold "
    "rebuild lacks, customer_metrics_gold.py:26-37)",
    doc="History is split at 1998-01-01 into an 'existing metrics' "
    "side and a 'new arrivals' delta; each is aggregated "
    "independently and merged with one full-outer join over "
    "mergeable accumulators (count, exact integer cents, date "
    "bounds). The oracle aggregates the WHOLE history in one pass — "
    "the query matches only if incremental maintenance is exactly "
    "lossless. At 100 TB this replaces a full gold rebuild with a "
    "delta scan plus an aggregate-sized join; the same shape chains "
    "for daily batches because the accumulators are associative.",
)
def incremental_metrics_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cutoff = "1998-01-01"
    old = gold.aggregate_order_metrics(
        o.filter(F.col("o_orderdate") < cutoff)
    )
    delta = gold.aggregate_order_metrics(
        o.filter(F.col("o_orderdate") >= cutoff)
    )
    merged = gold.merge_customer_metrics(old, delta)
    return merged.select(
        "custkey",
        "n_orders",
        (F.col("total_cents") / F.lit(100.0)).alias("total_spent"),
        F.date_format("first_order", "yyyy-MM-dd").alias("first_order"),
        F.date_format("last_order", "yyyy-MM-dd").alias("last_order"),
    )


@query(
    "scd2_point_in_time",
    oracle=f"""
        WITH {_SCD_V1_SQL},
        v2 AS (
          SELECT customer_id, first_name, last_name, email, phone_number,
                 city, state,
                 CASE WHEN customer_id % 5 = 0 THEN 'moved-' || address
                      ELSE address END AS address,
                 pincode
          FROM v1
          UNION ALL
          SELECT customer_id + 10000000, first_name, last_name, email,
                 phone_number, city, state,
                 'addr-new-' || CAST(customer_id AS VARCHAR), pincode
          FROM v1 WHERE customer_id % 9 = 0
        ),
        h1 AS (SELECT v1.*, {_SCD_HASH_SQL} AS row_hash FROM v1),
        h2 AS (SELECT v2.*, {_SCD_HASH_SQL} AS row_hash FROM v2),
        changed AS (
          SELECT h2.customer_id
          FROM h2 JOIN h1 USING (customer_id)
          WHERE h2.row_hash <> h1.row_hash
        ),
        hist AS (
          SELECT h1.*, TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
                 CASE WHEN c.customer_id IS NOT NULL
                      THEN TIMESTAMP '2024-02-01 00:00:00'
                 END AS valid_to,
                 c.customer_id IS NULL AS is_current
          FROM h1 LEFT JOIN changed c USING (customer_id)
          UNION ALL
          SELECT h2.*, TIMESTAMP '2024-02-01 00:00:00',
                 CAST(NULL AS TIMESTAMP), TRUE
          FROM h2 WHERE customer_id IN (SELECT customer_id FROM changed)
          UNION ALL
          SELECT h2.*, TIMESTAMP '2024-02-01 00:00:00',
                 CAST(NULL AS TIMESTAMP), TRUE
          FROM h2 WHERE customer_id NOT IN (SELECT customer_id FROM v1)
        )
        SELECT * FROM hist
        WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
          AND (valid_to IS NULL
               OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
    """,
    survey="§2.12 extension (temporal point-in-time read over SCD2 "
    "history — the reference stores valid_from/valid_to but never "
    "queries them back)",
    doc="The customer base exactly as it stood on 2024-01-15 — between "
    "the seed batch and the second merge, so changed keys surface "
    "their SINCE-CLOSED first versions (valid_to already stamped, "
    "is_current false) and keys created by batch 2 are absent. "
    "Pure validity-interval filter over the merged history "
    "(operators/scd2.py as_of); at 100 TB it partition-prunes if "
    "history is laid out by valid_from.",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1 = _scd_v1(spark, sf_dir)
    v2_changed = v1.withColumn(
        "address",
        F.when(
            F.col("customer_id") % 5 == 0,
            F.concat(F.lit("moved-"), F.col("address")),
        ).otherwise(F.col("address")),
    )
    v2_new = (
        v1.filter(F.col("customer_id") % 9 == 0)
        .withColumn("customer_id", F.col("customer_id") + 10000000)
        .withColumn(
            "address",
            F.concat(
                F.lit("addr-new-"),
                (F.col("customer_id") - 10000000).cast("string"),
            ),
        )
    )
    v2 = v2_changed.unionByName(v2_new)
    hist1 = scd2.apply_scd_type2(v1.limit(0), v1, "2024-01-01")
    hist2 = scd2.apply_scd_type2(hist1, v2, "2024-02-01")
    return _dates_to_ts(scd2.as_of(hist2, "2024-01-15"))


@query(
    "scd1_upsert_merge",
    oracle="""
        WITH base AS (
          SELECT c_custkey AS id, c_name AS name,
                 CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
          FROM customer
        ),
        changes AS (
          SELECT c_custkey AS id, c_name || ' (updated)' AS name,
                 CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100
                   AS bal_cents,
                 FALSE AS is_delete
          FROM customer WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT c_custkey + 500000, 'new-' || CAST(c_custkey AS VARCHAR),
                 CAST(1000 AS BIGINT), FALSE
          FROM customer WHERE c_custkey % 3 = 1
          UNION ALL
          SELECT c_custkey, NULL, NULL, TRUE
          FROM customer WHERE c_custkey % 3 = 2
        )
        SELECT id, name, bal_cents FROM base
        WHERE id NOT IN (SELECT id FROM changes)
        UNION ALL
        SELECT id, name, bal_cents FROM changes WHERE NOT is_delete
    """,
    survey="§2.12 extension (Type-1 MERGE upsert: update/insert/delete "
    "in one pass — the stateless complement of SCD2 the reference only "
    "approximates by whole-layer overwrite)",
    doc="MERGE INTO semantics on plain DataFrames: matched keys "
    "overwrite, new keys insert, delete-flagged keys drop. One anti-"
    "join shuffle plus a free union (operators/scd2.scd1_upsert); "
    "bucketing the base on the key makes even that exchange-free. "
    "Balances carried as exact cents integers.",
)
def scd1_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    base = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        cents.alias("bal_cents"),
    )
    updates = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("id"),
        F.concat(F.col("c_name"), F.lit(" (updated)")).alias("name"),
        (cents + 100).alias("bal_cents"),
        F.lit(False).alias("is_delete"),
    )
    inserts = c.filter(F.col("c_custkey") % 3 == 1).select(
        (F.col("c_custkey") + 500000).alias("id"),
        F.concat(F.lit("new-"), F.col("c_custkey").cast("string")).alias(
            "name"
        ),
        F.lit(1000).cast("long").alias("bal_cents"),
        F.lit(False).alias("is_delete"),
    )
    deletes = c.filter(F.col("c_custkey") % 3 == 2).select(
        F.col("c_custkey").alias("id"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("long").alias("bal_cents"),
        F.lit(True).alias("is_delete"),
    )
    changes = updates.unionByName(inserts).unionByName(deletes)
    return scd2.scd1_upsert(base, changes, key="id")


@query(
    "scd2_compact_history",
    oracle="""
        WITH epochs AS (
          SELECT c_custkey AS id, 0 AS epoch,
                 DATE '2024-01-01' AS valid_from,
                 DATE '2024-02-01' AS valid_to,
                 md5(c_name || '|' || CAST(c_nationkey AS VARCHAR)) AS row_hash
          FROM customer
          UNION ALL
          SELECT c_custkey, 1, DATE '2024-02-01', DATE '2024-03-01',
                 CASE WHEN c_custkey % 4 = 0
                      THEN md5(c_name || '-v1|' || CAST(c_nationkey AS VARCHAR))
                      ELSE md5(c_name || '|' || CAST(c_nationkey AS VARCHAR))
                 END
          FROM customer
          UNION ALL
          SELECT c_custkey, 2, DATE '2024-03-01', NULL,
                 CASE WHEN c_custkey % 6 = 0
                      THEN md5(c_name || '-v2|' || CAST(c_nationkey AS VARCHAR))
                      WHEN c_custkey % 4 = 0
                      THEN md5(c_name || '-v1|' || CAST(c_nationkey AS VARCHAR))
                      ELSE md5(c_name || '|' || CAST(c_nationkey AS VARCHAR))
                 END
          FROM customer
        ),
        marked AS (
          SELECT *, CASE WHEN lag(row_hash) OVER w IS NULL
                         OR lag(row_hash) OVER w <> row_hash
                         THEN 1 ELSE 0 END AS is_new
          FROM epochs
          WINDOW w AS (PARTITION BY id ORDER BY valid_from)
        ),
        islands AS (
          SELECT *, SUM(is_new) OVER (PARTITION BY id ORDER BY valid_from
                      ROWS UNBOUNDED PRECEDING) AS island
          FROM marked
        )
        SELECT id, row_hash,
               CAST(MIN(valid_from) AS TIMESTAMP) AS valid_from,
               CAST(MAX(CASE WHEN valid_to IS NULL
                             THEN DATE '2200-01-01' ELSE valid_to END)
                 AS TIMESTAMP) AS valid_to_raw,
               CAST(COUNT(*) AS BIGINT) AS n_merged
        FROM islands GROUP BY id, row_hash, island
    """,
    survey="§2.12 extension (SCD2 history compaction: merge adjacent "
    "versions whose tracked attributes never actually changed — the "
    "maintenance pass that undoes re-stamped no-op loads bloating a "
    "versioned dimension)",
    doc="A 3-epoch history where most reloads re-stamped UNCHANGED "
    "attributes (only id%4 changed at epoch 1, id%6 at epoch 2) "
    "compacts via gaps-and-islands on the row hash: a change marker "
    "per version (lag over the per-key validity order), a running-sum "
    "island id, then one row per island with the merged validity "
    "range (open intervals sort via a 2200-01-01 sentinel, inside the ns-timestamp range) and the "
    "count of collapsed versions. Two window passes and one aggregate "
    "over the same per-key partitioning — one shuffle total, and the "
    "compacted output is what keeps point-in-time reads O(changes), "
    "not O(loads).",
)
def scd2_compact_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = table(spark, sf_dir, "customer")
    base_hash = F.md5(
        F.concat(
            F.col("c_name"), F.lit("|"), F.col("c_nationkey").cast("string")
        )
    )
    v1_hash = F.md5(
        F.concat(
            F.col("c_name"),
            F.lit("-v1|"),
            F.col("c_nationkey").cast("string"),
        )
    )
    v2_hash = F.md5(
        F.concat(
            F.col("c_name"),
            F.lit("-v2|"),
            F.col("c_nationkey").cast("string"),
        )
    )
    d = lambda s: F.lit(s).cast("date")  # noqa: E731
    e0 = c.select(
        F.col("c_custkey").alias("id"),
        d("2024-01-01").alias("valid_from"),
        d("2024-02-01").alias("valid_to"),
        base_hash.alias("row_hash"),
    )
    e1 = c.select(
        F.col("c_custkey").alias("id"),
        d("2024-02-01").alias("valid_from"),
        d("2024-03-01").alias("valid_to"),
        F.when(F.col("c_custkey") % 4 == 0, v1_hash)
        .otherwise(base_hash)
        .alias("row_hash"),
    )
    e2 = c.select(
        F.col("c_custkey").alias("id"),
        d("2024-03-01").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.when(F.col("c_custkey") % 6 == 0, v2_hash)
        .when(F.col("c_custkey") % 4 == 0, v1_hash)
        .otherwise(base_hash)
        .alias("row_hash"),
    )
    hist = e0.unionByName(e1).unionByName(e2)
    w = W.partitionBy("id").orderBy("valid_from")
    prev = F.lag("row_hash").over(w)
    marked = hist.withColumn(
        "is_new",
        F.when(prev.isNull() | (prev != F.col("row_hash")), 1).otherwise(0),
    )
    islands = marked.withColumn(
        "island",
        F.sum("is_new").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        islands.groupBy("id", "row_hash", "island")
        .agg(
            F.min("valid_from").cast("timestamp").alias("valid_from"),
            F.max(
                F.coalesce(F.col("valid_to"), d("2200-01-01"))
            ).cast("timestamp").alias("valid_to_raw"),
            F.count("*").alias("n_merged"),
        )
        .drop("island")
    )


@query(
    "late_dim_backfill",
    oracle="""
        SELECT o.o_orderkey,
               o.o_custkey,
               c.c_nationkey,
               CASE WHEN c.c_custkey % 5 = 0 THEN 2 ELSE 1 END AS join_epoch
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    survey="pipeline-ext: late-arriving dimension quarantine + backfill",
    doc="The late-arriving-dimension pattern: facts whose dimension row "
    "hasn't landed yet (here: customers with c_custkey%5=0 'arrive' in "
    "a second dim batch) quarantine via LEFT ANTI against the first "
    "batch instead of being dropped or null-enriched, then the backfill "
    "pass joins ONLY the quarantined facts against the late batch — "
    "re-enrichment cost is O(quarantine), not O(facts). join_epoch "
    "records which pass enriched each row. Both joins broadcast the "
    "dim batch; the fact table never shuffles. The oracle states the "
    "end condition (every fact enriched, epoch by dim cohort), "
    "independent of the quarantine mechanics.",
    tags=("pipeline",),
)
def late_dim_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    dim1 = c.filter(F.col("c_custkey") % 5 != 0)
    dim2 = c.filter(F.col("c_custkey") % 5 == 0)
    pass1 = o.join(
        gated_broadcast(dim1), o.o_custkey == dim1.c_custkey
    ).select("o_orderkey", "o_custkey", "c_nationkey", F.lit(1).alias("join_epoch"))
    quarantine = o.join(
        gated_broadcast(dim1), o.o_custkey == dim1.c_custkey, "left_anti"
    )
    backfill = quarantine.join(
        gated_broadcast(dim2), quarantine.o_custkey == dim2.c_custkey
    ).select("o_orderkey", "o_custkey", "c_nationkey", F.lit(2).alias("join_epoch"))
    return pass1.unionByName(backfill)
