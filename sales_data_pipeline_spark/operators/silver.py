"""Silver-layer transforms: clean, conform, dedup each entity.

Pure functions DataFrame -> DataFrame reproducing the reference's
semantics (file:line cites into /root/reference/), with three deliberate
engine upgrades that do NOT change results:

 - ``as_of_date`` parameter replaces every ``current_date()``
   (reproducibility; SURVEY §7.4 risk 2),
 - dedup windows get a deterministic final tiebreaker on the business
   key-adjacent ordering columns (the reference's ties are
   partition-order dependent; SURVEY §7.4 risk 1),
 - all joins to small dimension lookups are broadcast-hinted.

Scale posture: every transform is narrow (projections/filters) except
the dedup window (one shuffle on the entity's primary key) and the
sales->product join (broadcast => shuffle-free). Nothing touches the
driver.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sales_data_pipeline_spark.scale import gated_broadcast
from sales_data_pipeline_spark.schemas import (
    SILVER_CUSTOMER_COLUMNS,
    SILVER_PRODUCT_COLUMNS,
    SILVER_SALES_COLUMNS,
    SILVER_STORE_COLUMNS,
)


def _as_of(as_of_date: dt.date | str):
    return F.lit(str(as_of_date)).cast("date")


def transform_sales(sales_df: DataFrame, product_df: DataFrame) -> DataFrame:
    """Silver sales fact (sales_transform.py:8-86).

    Clean + cast, resolve product_id by normalized product_name (inner
    join — unmatched product names drop, as in the reference), derive
    total_cost / sales_year / sales_month, silver validity gate, schema
    lock. The product lookup is tiny => broadcast (the fact side never
    shuffles here).
    """
    df_clean = sales_df.withColumns(
        {
            "product_name": F.lower(F.trim(F.col("product_name"))),
            "price": F.col("price").cast("double"),
            "quantity": F.col("quantity").cast("int"),
        }
    )
    lookup = product_df.select(
        "product_id", F.lower(F.trim(F.col("product_name"))).alias("product_name")
    )
    enriched = df_clean.join(
        gated_broadcast(lookup), on="product_name", how="inner"
    ).withColumns(
        {
            "total_cost": F.col("price") * F.col("quantity"),
            "sales_year": F.year("sales_date"),
            "sales_month": F.month("sales_date"),
        }
    )
    gate = (
        F.col("customer_id").isNotNull()
        & F.col("product_id").isNotNull()
        & F.col("store_id").isNotNull()
        & F.col("sales_date").isNotNull()
        & (F.col("price") > 0)
        & (F.col("quantity") > 0)
    )
    return enriched.filter(gate).select(*SILVER_SALES_COLUMNS)


def transform_customer(
    df: DataFrame, as_of_date: dt.date | str
) -> DataFrame:
    """Silver customer dimension (customer_transform.py:8-104).

    lower/trim names+email+city+state; phone -> digits-only, NULL when
    <10 digits; clamp updated_date to created_date; gate on id/email
    ('@' required)/DOB<=as_of; dedup keep-latest per customer_id by
    (updated_date DESC, ingestion_date DESC) + email tiebreaker.
    """
    digits = F.regexp_replace(F.col("phone_number"), "[^0-9]", "")
    df = df.withColumns(
        {
            **{
                c: F.lower(F.trim(F.col(c)))
                for c in ("first_name", "last_name", "email", "city", "state")
            },
            "phone_number": F.when(
                digits.rlike("^[0-9]{10,}$"), digits
            ).otherwise(F.lit(None)),
            "updated_date": F.when(
                F.col("updated_date") < F.col("created_date"),
                F.col("created_date"),
            ).otherwise(F.col("updated_date")),
        }
    )
    gate = (
        F.col("customer_id").isNotNull()
        & F.col("email").isNotNull()
        & F.col("email").contains("@")
        & F.col("date_of_birth").isNotNull()
        & (F.col("date_of_birth") <= _as_of(as_of_date))
    )
    w = W.partitionBy("customer_id").orderBy(
        F.desc("updated_date"),
        F.desc("ingestion_date"),
        F.desc_nulls_last("email"),  # deterministic tiebreaker (engine addition)
    )
    return (
        df.filter(gate)
        .withColumn("row_num", F.row_number().over(w))
        .filter(F.col("row_num") == 1)
        .select(*SILVER_CUSTOMER_COLUMNS)
    )


def transform_product(df: DataFrame, as_of_date: dt.date | str) -> DataFrame:
    """Silver product dimension (product_transform.py:12-100).

    Price sanity (drop non-positive current_price; NULL bad old_price),
    date consistency (drop expiry<created; clamp updated>=created),
    re-derive is_active from expiry vs as_of (source value untrusted),
    dedup keep-latest updated_date per product_id.
    """
    # the two filters reference only un-rewritten columns, so hoisting
    # them ahead of the batched column rewrite preserves semantics
    df = df.filter(
        (F.col("current_price") > 0)
        & (
            F.col("expiry_date").isNull()
            | (F.col("expiry_date") >= F.col("created_date"))
        )
    )
    df = df.withColumns(
        {
            **{
                c: F.lower(F.trim(F.col(c)))
                for c in ("product_name", "category", "brand")
            },
            "old_price": F.when(F.col("old_price") < 0, F.lit(None))
            .when(F.col("old_price") == F.col("current_price"), F.lit(None))
            .otherwise(F.col("old_price")),
            "updated_date": F.when(
                F.col("updated_date") < F.col("created_date"),
                F.col("created_date"),
            ).otherwise(F.col("updated_date")),
            "is_active": F.when(
                F.col("expiry_date").isNull()
                | (F.col("expiry_date") >= _as_of(as_of_date)),
                F.lit(True),
            ).otherwise(F.lit(False)),
        }
    )
    w = W.partitionBy("product_id").orderBy(
        F.desc("updated_date"),
        F.desc_nulls_last("product_name"),  # deterministic tiebreaker
    )
    return (
        df.withColumn("row_num", F.row_number().over(w))
        .filter(F.col("row_num") == 1)
        .select(*SILVER_PRODUCT_COLUMNS)
    )


def transform_store(df: DataFrame, as_of_date: dt.date | str) -> DataFrame:
    """Silver store dimension (store_transform.py:8-100).

    NULL out closing dates before opening; derive is_active from
    closing date vs as_of; gate on id/name/opening<=as_of; dedup
    keep-latest ingestion_date per store_id.
    """
    # closing-date repair feeds is_active, so compose the repaired
    # expression inline (one batched projection, not a rewrite chain)
    closing = F.when(
        F.col("store_closing_date") < F.col("store_opening_date"),
        F.lit(None),
    ).otherwise(F.col("store_closing_date"))
    df = df.withColumns(
        {
            **{
                c: F.lower(F.trim(F.col(c)))
                for c in ("store_name", "city", "state", "store_manager_name")
            },
            "store_closing_date": closing,
            "is_active": F.when(
                closing.isNull() | (closing >= _as_of(as_of_date)),
                F.lit(True),
            ).otherwise(F.lit(False)),
        }
    )
    gate = (
        F.col("store_id").isNotNull()
        & F.col("store_name").isNotNull()
        & F.col("store_opening_date").isNotNull()
        & (F.col("store_opening_date") <= _as_of(as_of_date))
    )
    w = W.partitionBy("store_id").orderBy(
        F.desc("ingestion_date"),
        F.desc_nulls_last("store_name"),  # deterministic tiebreaker
    )
    return (
        df.filter(gate)
        .withColumn("row_num", F.row_number().over(w))
        .filter(F.col("row_num") == 1)
        .select(*SILVER_STORE_COLUMNS)
    )
