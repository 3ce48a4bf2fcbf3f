"""Sink operators (SURVEY §2.1 S5-S8).

Reference parity (src/main/write/*) with scale-conscious defaults:
 - partitioned parquet everywhere (S5/S6), Hive-style layout preserved
   so partition pruning works downstream,
 - ``coalesce_files`` implements the reference's declared-but-unwired
   small-file control (prod.yaml:195-201),
 - dynamic partition overwrite relies on the session default set in
   session.py (static overwrite truncates siblings; SURVEY §7.4 #6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

BRONZE_PARTITION = "ingestion_date"


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
    coalesce_files: int | None = None,
) -> None:
    """Partitioned parquet sink (S5; write_parquet.py:1-7)."""
    if coalesce_files:
        df = df.coalesce(coalesce_files)
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_bronze_raw(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Bronze valid-rows sink, partitioned by ingestion_date (S6;
    write_bronze.py:1-9)."""
    write_parquet(df, path, mode=mode, partition_cols=[BRONZE_PARTITION])


def write_bronze_rejected(
    df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Bronze rejected-rows sink (S6; write_bronze.py:11-19) — keeps the
    rejection_reason column for quarantine analytics."""
    write_parquet(df, path, mode=mode, partition_cols=[BRONZE_PARTITION])


def write_format(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    """Generic format sink (S7; parquet_writer.py:3-19)."""
    writer = df.write.format(fmt).mode(mode)
    for k, v in (options or {"header": "true"}).items():
        writer = writer.option(k, v)
    writer.save(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    batch_size: int = 10000,
) -> None:
    """JDBC sink (S8; database_write.py:3-17). Executors write in
    parallel; batch_size bounds round trips."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) parquet table: rows are hash-placed
    into a fixed number of files per partition by the bucket key, and
    the layout is recorded in the catalog. A join or aggregation on the
    bucket key then reads co-located inputs and skips its shuffle
    entirely — the 100 TB answer for a fact table that is joined on the
    same key by every query (pre-shuffle once at write time, never
    again at read time). ``sort_cols`` additionally sorts within each
    bucket file so sort-merge joins skip their sort."""
    writer = df.write.mode(mode).option("path", path).format("parquet")
    writer = writer.bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write: min/max-normalize the two
    cluster keys (bounds from one aggregate row, broadcast back),
    interleave their bits into a Morton key, range-partition + sort on
    it, write, drop the helper column. Every output file then has a
    narrow min/max envelope on BOTH keys, so filters on either (or
    both) skip most files — the poor man's Z-ORDER OPTIMIZE of the
    lake formats, as a plain parquet layout choice (see
    tests/test_io.py for the footer-level assertion)."""
    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.operators.distributed import (
        normalize_to_bits,
        zorder_key,
    )

    bounds = df.agg(
        F.min(col_a).alias("_alo"),
        F.max(col_a).alias("_ahi"),
        F.min(col_b).alias("_blo"),
        F.max(col_b).alias("_bhi"),
    )
    z = zorder_key(
        normalize_to_bits(F.col(col_a), F.col("_alo"), F.col("_ahi"), bits),
        normalize_to_bits(F.col(col_b), F.col("_blo"), F.col("_bhi"), bits),
        bits,
    )
    (
        df.join(bounds)
        .withColumn("_zkey", z)
        .repartitionByRange(files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_alo", "_ahi", "_blo", "_bhi", "_zkey")
        .write.mode(mode)
        .parquet(path)
    )
