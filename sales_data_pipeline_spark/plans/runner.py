"""Staged pipeline runner: bronze -> silver (+SCD2) -> gold.

The engine's replacement for the reference's 600-line driver script
(/root/reference/src/main/main.py:27-601), with the same stage contract
but engine-grade execution:

 - ONE action per layer where the reference runs ~15 recomputing
   count()s (SURVEY §3.1 step 7): bronze metrics come from a single
   rejection_summary aggregate on a cached tagged frame,
 - as_of_date threaded everywhere (deterministic reruns),
 - SCD2 merge stays distributed (no driver collect),
 - watermark read/update wraps the run (incremental mode),
 - quality policy: bronze warns, silver raises
   (data_validator.py:221-261 semantics).

At 100 TB each stage is independently scalable: bronze is a narrow
scan->filter->write per entity; silver adds one dedup shuffle per
dimension and a broadcast join for the fact; gold is broadcast star +
one metrics shuffle. Nothing materializes on the driver beyond metric
scalars.
"""

from __future__ import annotations

import datetime as dt
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_spark.incremental.watermark import WatermarkManager
from sales_data_pipeline_spark.io import fs, readers, writers
from sales_data_pipeline_spark.operators import bronze, gold, scd2, silver
from sales_data_pipeline_spark.quality import compiler
from sales_data_pipeline_spark.schemas import SOURCE_SCHEMAS


@dataclass
class PipelineMetrics:
    bronze_counts: dict[str, dict[str, int]] = field(default_factory=dict)
    silver_counts: dict[str, int] = field(default_factory=dict)
    gold_counts: dict[str, int] = field(default_factory=dict)
    quality: dict[str, bool] = field(default_factory=dict)


@dataclass
class PipelineConfig:
    input_paths: dict[str, str]  # entity -> csv path
    output_root: str
    as_of_date: str
    mode: str = "full_refresh"  # or "incremental"
    watermark_dir: str | None = None
    quality_suites: dict[str, dict] = field(default_factory=dict)
    max_rejection_pct: float = 10.0  # config.yaml:77
    # Alert when < this % of silver sales rows survive the gold star
    # join (config.yaml:78 — declared but never wired in the reference;
    # wired here as a warn-only gate like the bronze rejection check).
    min_gold_join_percentage: float = 70.0  # config.yaml:78


ENTITY_RULES = {
    "sales": bronze.sales_validity_rules,
}

# Independent jobs overlap (guide §2.6): Spark happily runs several
# jobs at once inside one application — the stages of this pipeline
# were only sequential because the driver called their actions
# sequentially. Bronze's four entities and silver's four table writes
# are mutually independent, so a small driver-side pool submits them
# together and the next job's tasks back-fill capacity freed by the
# current job's straggler tail (one entity — sales — dominates; the
# tiny dimension jobs ride its idle slots). 2-3 in flight is enough to
# fill the tail without jobs fighting for executors, on local[32] and
# on a cluster alike; FIFO scheduling (the default) keeps the big job
# first and lets the small ones use what is left.
_STAGE_POOL_JOBS = 3


def _bronze_entity(
    spark: SparkSession,
    cfg: PipelineConfig,
    entity: str,
    path: str,
    wm_cut: str | None,
    out: str,
) -> tuple[dict[str, int], DataFrame, bool | None]:
    """Bronze for ONE entity: read -> tag -> one-pass rejection summary
    -> raw/rejected sinks (+ optional quality suite). Pure function of
    its inputs — safe to run concurrently with the other entities."""
    df = readers.read_csv(spark, path, SOURCE_SCHEMAS[entity])
    if entity == "sales" and wm_cut is not None:
        df = df.filter(F.col("sales_date") > F.lit(wm_cut))
    df = bronze.stamp_ingestion(df, cfg.as_of_date)
    rules = ENTITY_RULES.get(entity, lambda: [])()
    tagged = bronze.with_rejection_reason(df, rules).persist()
    # advisor: unpersist in finally — with three entities in flight a
    # write/suite failure would otherwise leak the cached frame for the
    # session lifetime
    try:
        summary = {
            r["reason"]: r["n"]
            for r in tagged.groupBy(
                F.coalesce(
                    F.col(bronze.REJECTION_REASON), F.lit("VALID")
                ).alias("reason")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
        valid = tagged.filter(
            F.col(bronze.REJECTION_REASON).isNull()
        ).drop(bronze.REJECTION_REASON)
        rejected = tagged.filter(F.col(bronze.REJECTION_REASON).isNotNull())
        writers.write_bronze_raw(valid, f"{out}/bronze/{entity}/raw")
        if rules:
            writers.write_bronze_rejected(
                rejected, f"{out}/bronze/{entity}/rejected"
            )
        suite_passed: bool | None = None
        if entity in cfg.quality_suites:
            rep = compiler.run_suite(valid, cfg.quality_suites[entity])
            suite_passed = rep.passed  # warn-only
    finally:
        tagged.unpersist()
    return summary, valid, suite_passed


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> PipelineMetrics:
    m = PipelineMetrics()
    out = cfg.output_root.rstrip("/")

    # ---- incremental gate (I1-I4) -------------------------------------
    wm = None
    if cfg.mode == "incremental" and cfg.watermark_dir:
        # first run processes everything (epoch default); the
        # reference's now()-lookback initial watermark is a wall-clock
        # dependence this engine avoids (as_of-parameterized runs)
        wm = WatermarkManager(
            "sales",
            f"{cfg.watermark_dir}/sales_watermark.json",
            timestamp_column="sales_date",
            default_watermark="1970-01-01 00:00:00",
            initial_lookback_days=0,
        )

    # ---- bronze per entity (independent jobs, overlapped) --------------
    wm_cut = wm.buffered_watermark() if wm is not None else None
    valid_frames: dict[str, DataFrame] = {}
    with ThreadPoolExecutor(max_workers=_STAGE_POOL_JOBS) as pool:
        futures = {
            entity: pool.submit(
                _bronze_entity, spark, cfg, entity, path, wm_cut, out
            )
            for entity, path in cfg.input_paths.items()
        }
        # results consumed in input order: metrics identical to the
        # sequential loop regardless of completion order. On the first
        # failure, cancel entities that haven't started (advisor:
        # fail-fast side-effect semantics — the sequential loop never
        # wrote outputs for entities after a failure; already-RUNNING
        # entities still finish their idempotent per-entity overwrite,
        # which a concurrent submit cannot avoid).
        try:
            for entity in cfg.input_paths:
                summary, valid, suite_passed = futures[entity].result()
                m.bronze_counts[entity] = summary
                rules = ENTITY_RULES.get(entity, lambda: [])()
                total = sum(summary.values())
                rejected_n = total - summary.get("VALID", 0)
                if (
                    total
                    and rejected_n / total * 100 > cfg.max_rejection_pct
                    and rules
                ):
                    m.quality[f"bronze_{entity}_rejection_pct"] = False
                if suite_passed is not None:
                    m.quality[f"bronze_{entity}"] = suite_passed
                valid_frames[entity] = valid
        except BaseException:
            for fut in futures.values():
                fut.cancel()
            raise

    # ---- silver -------------------------------------------------------
    s_product = silver.transform_product(valid_frames["product"], cfg.as_of_date)
    s_sales = silver.transform_sales(valid_frames["sales"], s_product)
    s_customer = silver.transform_customer(
        valid_frames["customer"], cfg.as_of_date
    )
    s_store = silver.transform_store(valid_frames["store"], cfg.as_of_date)

    # SCD2 against prior silver history (first run seeds it). "No
    # history yet" means the path is absent; history that is present
    # but unreadable (say, a crashed run's half-written overwrite)
    # raises instead of being taken for a first run, which would drop
    # every closed version.
    scd_path = f"{out}/silver/customer_scd"
    if fs.exists(spark, scd_path):
        existing = spark.read.parquet(scd_path)
    else:  # empty history with incoming shape
        existing = s_customer.limit(0)
    customer_hist = scd2.apply_scd_type2(existing, s_customer, cfg.as_of_date)

    # Row counts ride the write action itself via Observation — the
    # reference re-reads and counts every layer (~15 extra jobs,
    # SURVEY §3.1 step 7); here each layer is written AND counted in
    # one pass, zero extra scans at any scale. The four silver-layer
    # writes (sales, product, store, customer_scd) are independent
    # jobs, so they run overlapped like bronze (guide §2.6). The
    # incremental watermark max additionally rides the sales write's
    # Observation instead of a separate post-write scan.
    def _write_silver(name: str, df: DataFrame, path: str, part):
        obs = Observation(f"silver_{name}_rows")
        metrics = [F.count(F.lit(1)).alias("n")]
        if name == "sales" and wm is not None:
            metrics.append(F.max("sales_date").alias("max_sales_date"))
        writers.write_parquet(
            df.observe(obs, *metrics), path, partition_cols=part
        )
        return obs.get

    customer_hist = customer_hist.persist()
    # released on every path: a failed run's cache entry would serve
    # a same-session rerun from source files that run overwrote
    enriched = None
    try:
        with ThreadPoolExecutor(max_workers=_STAGE_POOL_JOBS) as pool:
            silver_futs = {
                name: pool.submit(_write_silver, name, df, path, part)
                for name, df, path, part in [
                    (
                        "sales",
                        s_sales,
                        f"{out}/silver/sales",
                        ["sales_year", "sales_month"],
                    ),
                    ("product", s_product, f"{out}/silver/product", None),
                    ("store", s_store, f"{out}/silver/store", None),
                    # SCD2 history is read at the top of the run and
                    # rewritten whole; write to a temp-style swap is
                    # unnecessary because Spark stages output before
                    # commit.
                    ("customer_scd", customer_hist, scd_path, None),
                ]
            }
            silver_obs = {n: f.result() for n, f in silver_futs.items()}
        for name in ("sales", "product", "store", "customer_scd"):
            m.silver_counts[name] = silver_obs[name]["n"]

        silver_sales = spark.read.parquet(f"{out}/silver/sales")

        if "silver_sales" in cfg.quality_suites:
            rep = compiler.run_suite(
                silver_sales, cfg.quality_suites["silver_sales"]
            )
            m.quality["silver_sales"] = rep.passed
            if not rep.passed:  # silver raises (reference policy)
                raise ValueError(f"silver quality failed: {rep.failures()}")

        # ---- gold -----------------------------------------------------
        current_customers = scd2.get_current(customer_hist)
        enriched = gold.build_sales_enriched(
            silver_sales,
            current_customers,
            spark.read.parquet(f"{out}/silver/product"),
            spark.read.parquet(f"{out}/silver/store"),
        ).persist()
        obs_enriched = Observation("gold_enriched_rows")
        writers.write_parquet(
            enriched.observe(obs_enriched, F.count(F.lit(1)).alias("n")),
            f"{out}/gold/sales_enriched",
            partition_cols=["sales_year", "sales_month"],
        )
        metrics_df = gold.build_customer_metrics(enriched, current_customers)
        obs_metrics = Observation("gold_metrics_rows")
        writers.write_parquet(
            metrics_df.observe(obs_metrics, F.count(F.lit(1)).alias("n")),
            f"{out}/gold/customer_metrics",
        )
        m.gold_counts["sales_enriched"] = obs_enriched.get["n"]
        m.gold_counts["customer_metrics"] = obs_metrics.get["n"]

        # gold join-rate gate (min_gold_join_percentage): the star join
        # is inner, so enriched/silver is the fraction of sales that
        # resolved all three dimensions. Counts come from the
        # Observations above — no extra scan.
        silver_n = m.silver_counts["sales"]
        if silver_n:
            join_pct = m.gold_counts["sales_enriched"] / silver_n * 100
            if join_pct < cfg.min_gold_join_percentage:
                m.quality["gold_join_pct"] = False
    finally:
        if enriched is not None:
            enriched.unpersist()
        customer_hist.unpersist()

    # ---- watermark update (I3) ---------------------------------------
    if wm is not None:
        # max sales_date observed during the silver sales write itself
        # (same rows the old post-write agg scanned, zero extra jobs).
        # Clamped monotone (advisor): the batch-only max can sit up to
        # buffer_minutes BELOW the stored watermark when a run ingests
        # only buffer-window rows — writing it back would regress the
        # watermark and re-admit already-processed rows next run. The
        # old full-table max was monotone by construction; max(new,
        # stored) restores that property with a string compare (both
        # sides share the %Y-%m-%d %H:%M:%S format, which orders
        # lexicographically).
        max_ts = silver_obs["sales"].get("max_sales_date")
        if max_ts is not None:
            new_wm = f"{max_ts} 00:00:00"
            if new_wm > wm.get_watermark():
                wm.update_watermark(
                    new_wm, {"rows": m.silver_counts["sales"]}
                )
    return m
