"""Query registry: each named query = a Spark implementation + a DuckDB
oracle SQL string over the same parquet tables.

This is the engine's public query surface (SURVEY §2 inventory plus the
LLM-data-pipeline extensions). The driver's correctness gate runs both
sides at sf=0.01 and hash-compares values, so every query here must be:

 - deterministic (no current_date/rand; fixed as-of constants),
 - tie-free where ordering matters (LIMIT/top-k always has a total-order
   tiebreaker),
 - float-stable (aggregated doubles rounded identically on both sides),
 - column-name aligned (every computed column aliased the same in Spark
   and SQL).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    survey: str = ""  # SURVEY.md §2 operator ids this query covers
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}

# Within-query persists register in sales_data_pipeline_spark.caching so
# they can be dropped precisely after the consuming action, instead of
# lingering until the next query's clearCache; re-exported here for the
# query layer and external callers (bench, oracle harness, tests).
from sales_data_pipeline_spark.caching import (  # noqa: E402,F401
    release_persisted,
    scoped_persist,
    sweep_persisted,
)


def query(
    name: str,
    oracle: str | None,
    survey: str = "",
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def entered(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The external driver runs the whole catalog in ONE session.
            # Queries that persist intermediates (minhash signatures,
            # SCD2 inputs, checkpointed labels) would otherwise leak
            # cached blocks across ~100 queries — enough to OOM a
            # default-1g local JVM (observed as a silent executor-thread
            # OOM that left a py4j collect hanging). Entering a query
            # drops every block the previous ones left behind; recompute
            # correctness is unaffected (persists are within-query).
            release_persisted()
            # cross-thread stragglers (driver built on another thread):
            # deterministic reclaim, not just the clearCache catch-all
            sweep_persisted()
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
            return fn(spark, sf_dir)

        entered.__name__ = fn.__name__
        entered.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            name=name, fn=entered, oracle=oracle, survey=survey, doc=doc,
            tags=tags,
        )
        return fn

    return deco


# Per-session resolved-table cache (round-13 optimization, guide §6
# "file listing ... is cached per session"): resolving a parquet path
# to a DataFrame costs a datasource lookup, a file listing and a footer
# schema read on the JVM (~100 ms of driver work per call here), and
# the catalog pays it for EVERY table() call of EVERY query — a
# production engine resolves a catalog table's metadata once per
# session, which is exactly what this memoizes. The cached value is
# the immutable LOGICAL PLAN (scan + the events ns->us projection);
# every action still computes from the parquet files, so no result or
# data is ever reused across runs. Keyed per SparkSession (weakly — a
# stopped session's entries are collectable) and per (sf_dir, table,
# source mtime): a regenerated table (tools/scale_data.py rewriting
# /tmp/sfN) changes the path's mtime and misses the cache, so a stale
# file-list snapshot is never served.
import os as _os
import weakref as _weakref

_TABLE_CACHE: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def _source_mtime(path: str) -> int:
    try:
        return _os.stat(path).st_mtime_ns
    except OSError:
        return -1


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (parquet scan; pushdown-friendly).

    Pins the session timezone to UTC (runtime-settable): queries format
    timestamps with date_format, and the external driver's vanilla
    session would otherwise use the JVM default zone — DuckDB's
    tz-naive timestamps only hash-match under UTC. (Set on cache miss
    only: the conf sticks to the session the entry was resolved in.)"""
    path = f"{sf_dir}/{name}.parquet"
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name, _source_mtime(path))
    hit = per_session.get(key)
    if hit is not None:
        return hit
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = (
        events_table(spark, sf_dir)
        if name == "events"
        else spark.read.parquet(path)
    )
    per_session[key] = df
    return df


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects. Read nanos as long (runtime-settable legacy conf) and
    convert with integer division — ns values (~1.7e18) don't fit a double,
    so never divide in floating point. DuckDB truncates ns->us the same way.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw


# ---------------------------------------------------------------------------
# Deterministic cross-engine numerics.
#
# Spark's ROUND is decimal-string-based (BigDecimal of the shortest repr,
# HALF_UP); DuckDB's is float-multiply-based. They disagree whenever a
# double's shortest decimal repr lands exactly on a rounding boundary
# (e.g. 3774.04125 -> 3774.0413 vs 3774.0412). So the oracle contract
# never uses ROUND. Instead:
#
#  - det_round(x, n)  = FLOOR(x*10^n + 0.5) / 10^n   — pure IEEE ops,
#    bit-identical in any engine; safe when x carries per-row error
#    (a few ulps, far from the 0.5 boundary).
#  - det_sum(x, n)    = SUM(CAST(FLOOR(x*10^n + 0.5) AS BIGINT)) / 10^n —
#    per-row scaling to exact integers, then an EXACT integer sum. Immune
#    to summation-order float drift at any data scale (until int64
#    overflow), unlike rounding the float sum, whose accumulated error
#    outgrows the rounding granularity around sf>=0.1.
#  - averages derive from det_sum / COUNT — a deterministic double ratio.
# ---------------------------------------------------------------------------


def det_round(col: Column, n: int = 2) -> Column:
    s = 10**n
    return F.floor(col * s + F.lit(0.5)) / F.lit(float(s))


def det_sum(col: Column, n: int = 2) -> Column:
    s = 10**n
    return F.sum(F.floor(col * s + F.lit(0.5))) / F.lit(float(s))


def sql_det_round(expr: str, n: int = 2) -> str:
    s = 10**n
    return f"FLOOR(({expr}) * {s} + 0.5) / {s}.0"


def sql_det_sum(expr: str, n: int = 2) -> str:
    s = 10**n
    return f"SUM(CAST(FLOOR(({expr}) * {s} + 0.5) AS BIGINT)) / {s}.0"


# ---------------------------------------------------------------------------
# Vector folds for the oracle side.
#
# The Spark operators fold every dot/L2 product left to right from
# 0.0D (operators/similarity.py, aggregate over zip_with), so DuckDB
# must spell out the same association, (0.0 + t0 + t1 + ...), with each
# element cast to DOUBLE before the arithmetic: the doubles then agree
# bit for bit. An element renderer maps a 0-based index t to the SQL of
# element t of one operand.
# ---------------------------------------------------------------------------

ElemSql = Callable[[int], str]


def sql_at(vec: str) -> ElemSql:
    """Element t of a DuckDB list column, widened to DOUBLE."""
    return lambda t: f"CAST({vec}[{t + 1}] AS DOUBLE)"


def sql_lit_at(vec: list[float]) -> ElemSql:
    """Element t of a literal vector (repr round-trips the double)."""
    return lambda t: f"({vec[t]!r})"


def sql_fold_dot(x: ElemSql, y: ElemSql, n: int) -> str:
    """Left-fold dot product of the first n elements of x and y."""
    return "(0.0 + " + " + ".join(f"{x(t)} * {y(t)}" for t in range(n)) + ")"


def sql_fold_l2sq(x: ElemSql, y: ElemSql, n: int) -> str:
    """Left-fold squared L2 distance over the first n elements."""
    return (
        "(0.0 + "
        + " + ".join(f"({x(t)} - {y(t)}) * ({x(t)} - {y(t)})" for t in range(n))
        + ")"
    )


def load_all() -> dict[str, QuerySpec]:
    """Import all query modules (populating REGISTRY) and return it."""
    from sales_data_pipeline_spark.queries import (  # noqa: F401
        analytics_ext,
        core,
        llm,
        pipeline_queries,
        streaming_queries,
        timeseries_queries,
    )

    return REGISTRY
