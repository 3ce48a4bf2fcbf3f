"""Local replica of the driver's DuckDB-oracle correctness gate.

For each registered query: run the Spark side and the oracle SQL on the
same parquet tables, normalize both to pandas (columns sorted by name,
rows sorted by all columns), and compare EXACTLY — stricter than any
hash, so passing here implies passing the driver's value-hash compare.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import duckdb
import pandas as pd

from sales_data_pipeline_spark.schemas import TESTDATA_TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    # Bound the oracle engine: DuckDB defaults to 80% of RAM and one
    # thread per core, which fights the co-resident Spark JVM for the
    # same memory + thread budget — the first sf1 sweep died of
    # cascading OOMs and a thread-spawn failure once both engines
    # peaked together. 16 GB / 8 threads is ample for every oracle at
    # any tested scale.
    con.execute("SET memory_limit='16GB'")
    con.execute("SET threads=8")
    # In-memory DuckDB cannot spill without a temp dir; with one, an
    # oracle that exceeds the cap spills instead of raising OOM.
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    for t in TESTDATA_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables (tools/scale_data.py's sf1) are
        # DIRECTORIES of part files; DuckDB needs the glob form there.
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out.columns = [str(c) for c in out.columns]
    out = out[sorted(out.columns)]
    # canonical dtypes: bools -> bool, ints -> int64 where lossless
    for c in out.columns:
        s = out[c]
        if s.dtype == object:
            continue
        if pd.api.types.is_bool_dtype(s):
            out[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
        drop=True
    )
    return out


def _cell_eq(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str = ""


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> CompareResult:
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    if list(s.columns) != list(o.columns):
        return CompareResult(
            name, False, f"columns differ: spark={list(s.columns)} oracle={list(o.columns)}"
        )
    if len(s) != len(o):
        return CompareResult(name, False, f"row count: spark={len(s)} oracle={len(o)}")
    # The driver hashes RENDERED values, so an int64 vs float64 column pair
    # (-100 vs -100.0) hash-mismatches even though == holds. Fail on
    # numeric-kind mismatch so DuckDB HUGEINT->float fallout is caught
    # locally (escaped in round 2: math_functions_showcase).
    for c in s.columns:
        sk = s[c].dtype.kind if s[c].dtype != object else "O"
        ok_ = o[c].dtype.kind if o[c].dtype != object else "O"
        if {sk, ok_} == {"i", "f"}:
            return CompareResult(
                name,
                False,
                f"col {c!r} dtype kind mismatch: spark={s[c].dtype} "
                f"oracle={o[c].dtype} (driver hash renders these differently)",
            )
    for c in s.columns:
        sv, ov = s[c].tolist(), o[c].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if not _cell_eq(a, b):
                return CompareResult(
                    name,
                    False,
                    f"col {c!r} row {i}: spark={a!r} ({type(a).__name__}) "
                    f"oracle={b!r} ({type(b).__name__})",
                )
    return CompareResult(name, True)


def run_query_check(spark, con, sf_dir: str, spec) -> CompareResult:
    from sales_data_pipeline_spark.queries.base import release_persisted

    sdf = spec.fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    # drop scoped within-query persists right after the action so a
    # full-catalog harness run never accumulates cached intermediates
    release_persisted()
    if spec.oracle is None:
        ok = len(spark_pdf) >= 0
        return CompareResult(spec.name, ok, f"rows-only: {len(spark_pdf)} rows")
    oracle_pdf = con.execute(spec.oracle).fetchdf()
    return compare_frames(spec.name, spark_pdf, oracle_pdf)


def main(sf_dir: str, names: list[str] | None = None) -> int:
    import os

    from sales_data_pipeline_spark.queries.base import load_all

    registry = load_all()
    if os.environ.get("ORACLE_VANILLA"):
        # replicate the DRIVER's session: bare builder, none of the
        # engine confs — queries must self-configure (nanos conf etc.)
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName(
            "oracle_harness_vanilla"
        ).getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
    else:
        from sales_data_pipeline_spark.session import build_session

        spark = build_session("oracle_harness")
    failures = 0
    con = duckdb_connection(sf_dir)
    try:
        since_recycle = 0
        for name, spec in sorted(registry.items()):
            if names and name not in names:
                continue
            # RECYCLE the connection every 25 queries and after any
            # failure: a single shared connection accumulates buffer-pool
            # state across a 200-query sweep until heavyweight oracles
            # (recursive-CTE closure, full-outer audits) hit the memory
            # cap and everything after OOM-cascades (each failing oracle
            # runs standalone in < 1 GB) — but one FRESH connection PER
            # query trips vm.max_map_count instead (glibc retains freed
            # arenas, ~200 allocator pools exhaust the 65530 mmap budget
            # alongside the Spark JVM). Eight connections per sweep
            # avoids both failure modes.
            if since_recycle >= 25:
                try:
                    con.close()
                except Exception:
                    pass
                con = duckdb_connection(sf_dir)
                since_recycle = 0
            since_recycle += 1
            try:
                res = run_query_check(spark, con, sf_dir, spec)
            except Exception as exc:  # noqa: BLE001
                res = CompareResult(name, False, f"EXCEPTION: {exc}")
                try:
                    con.close()
                except Exception:
                    pass
                con = duckdb_connection(sf_dir)
                since_recycle = 0
            status = "OK  " if res.ok else "FAIL"
            print(f"{status} {name}  {res.detail[:400]}", flush=True)
            failures += 0 if res.ok else 1
    finally:
        # stop the session so no state-store maintenance thread outlives
        # the local dirs it writes to
        try:
            con.close()
        except Exception:
            pass
        spark.stop()
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return failures


if __name__ == "__main__":
    import sys

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None
    raise SystemExit(main(sf, only))
