"""End-to-end pipeline runner test: fixture CSVs (reference-shaped,
with injected dirt) -> bronze/silver/gold parquet layers -> SCD2
evolution across two runs."""

from __future__ import annotations

import csv
import os

import pytest

from sales_data_pipeline_spark.plans.runner import PipelineConfig, run_pipeline


def _write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


SALES_HEADER = [
    "customer_id",
    "store_id",
    "product_name",
    "sales_date",
    "sales_person_id",
    "price",
    "quantity",
    "total_cost",
]
CUSTOMER_HEADER = [
    "customer_id",
    "first_name",
    "last_name",
    "email",
    "phone_number",
    "date_of_birth",
    "gender",
    "address",
    "city",
    "state",
    "pincode",
    "created_date",
    "updated_date",
]
PRODUCT_HEADER = [
    "product_id",
    "product_name",
    "category",
    "brand",
    "current_price",
    "old_price",
    "created_date",
    "updated_date",
    "expiry_date",
    "is_active",
]
STORE_HEADER = [
    "store_id",
    "store_name",
    "address",
    "city",
    "state",
    "pincode",
    "store_manager_name",
    "store_opening_date",
    "store_closing_date",
    "reviews",
]


def _fixtures(root, customer_email="ada@x.com"):
    _write_csv(
        f"{root}/sales.csv",
        SALES_HEADER,
        [
            [1, 10, "Widget", "2024-03-01", 100, 5.0, 2, 10.0],
            [1, 10, "Widget", "2024-03-02", 100, 5.0, 1, 5.0],
            [2, 10, "Gadget", "2024-03-03", 100, 8.0, 3, 24.0],
            ["", 10, "Widget", "2024-03-04", 100, 5.0, 2, 10.0],  # null cust
            [3, 10, "Widget", "2024-03-05", 100, -1.0, 2, -2.0],  # bad price
        ],
    )
    _write_csv(
        f"{root}/customer.csv",
        CUSTOMER_HEADER,
        [
            [1, "Ada", "Lovelace", customer_email, "5551234567",
             "1990-01-01", "F", "1 St", "London", "LDN", "111111",
             "2024-01-01", "2024-02-01"],
            [2, "Bob", "Byte", "bob@x.com", "5559876543",
             "1985-05-05", "M", "2 St", "Paris", "PAR", "222222",
             "2024-01-01", "2024-02-01"],
            [3, "Eve", "NoEmail", "not-an-email", "555",
             "1970-01-01", "F", "3 St", "Rome", "RM", "333333",
             "2024-01-01", "2024-02-01"],  # gated out
        ],
    )
    _write_csv(
        f"{root}/product.csv",
        PRODUCT_HEADER,
        [
            [7, "Widget", "tools", "acme", 5.0, 4.0,
             "2024-01-01", "2024-02-01", "", "true"],
            [8, "Gadget", "tools", "acme", 8.0, "",
             "2024-01-01", "2024-02-01", "", "true"],
        ],
    )
    _write_csv(
        f"{root}/store.csv",
        STORE_HEADER,
        [
            [10, "Main St", "1 Ave", "Rome", "RM", "00100", "Mgr",
             "2020-01-01", "", "good"],
        ],
    )


@pytest.fixture()
def cfg(tmp_path):
    root = str(tmp_path / "in")
    _fixtures(root)
    return PipelineConfig(
        input_paths={
            "sales": f"{root}/sales.csv",
            "customer": f"{root}/customer.csv",
            "product": f"{root}/product.csv",
            "store": f"{root}/store.csv",
        },
        output_root=str(tmp_path / "lake"),
        as_of_date="2024-06-01",
    )


def test_full_pipeline(spark, cfg, tmp_path):
    m = run_pipeline(spark, cfg)

    assert m.bronze_counts["sales"]["VALID"] == 3
    assert m.bronze_counts["sales"]["NULL_CUSTOMER_ID"] == 1
    assert m.bronze_counts["sales"]["INVALID_PRICE"] == 1
    assert m.silver_counts["sales"] == 3
    assert m.silver_counts["customer_scd"] == 2  # Eve gated out
    assert m.gold_counts["sales_enriched"] == 3
    assert m.gold_counts["customer_metrics"] == 2

    enriched = spark.read.parquet(f"{cfg.output_root}/gold/sales_enriched")
    row = enriched.filter("customer_id = 1").orderBy("sales_date").first()
    assert row.customer_name == "ada lovelace"
    assert row.total_cost == 10.0
    # partition layout survived the round trip
    years = {r.sales_year for r in enriched.select("sales_year").collect()}
    assert years == {2024}

    rejected = spark.read.parquet(f"{cfg.output_root}/bronze/sales/rejected")
    assert rejected.count() == 2


def test_scd2_across_runs(spark, cfg, tmp_path):
    run_pipeline(spark, cfg)
    # second run: Ada changed city -> new SCD2 version
    _fixtures(str(tmp_path / "in"), customer_email="ada-new@x.com")
    cfg2 = PipelineConfig(
        input_paths=cfg.input_paths,
        output_root=cfg.output_root,
        as_of_date="2024-07-01",
    )
    m2 = run_pipeline(spark, cfg2)
    assert m2.silver_counts["customer_scd"] == 3  # 2 current + 1 closed

    hist = spark.read.parquet(f"{cfg.output_root}/silver/customer_scd")
    ada = hist.filter("customer_id = 1").orderBy("valid_from").collect()
    assert [r.is_current for r in sorted(ada, key=lambda r: bool(r.is_current))] == [
        False,
        True,
    ]
    closed = [r for r in ada if not r.is_current][0]
    assert str(closed.valid_to) == "2024-07-01"
    current = [r for r in ada if r.is_current][0]
    assert current.email == "ada-new@x.com"


def test_gold_join_rate_gate(spark, tmp_path):
    """min_gold_join_percentage (config.yaml:78 — declared but unwired
    in the reference): a corpus where most sales reference customers
    missing from the dimension must flag gold_join_pct, without
    aborting the run (warn-only, like the bronze rejection gate)."""
    root = str(tmp_path / "in")
    _fixtures(root)
    # 1 of 4 valid sales resolves a known customer (id 1); 5/6/7 are
    # orphans -> join rate 25% < 70%
    _write_csv(
        f"{root}/sales.csv",
        SALES_HEADER,
        [
            [1, 10, "Widget", "2024-03-01", 100, 5.0, 2, 10.0],
            [5, 10, "Widget", "2024-03-02", 100, 5.0, 1, 5.0],
            [6, 10, "Gadget", "2024-03-03", 100, 8.0, 3, 24.0],
            [7, 10, "Widget", "2024-03-04", 100, 5.0, 2, 10.0],
        ],
    )
    cfg = PipelineConfig(
        input_paths={
            "sales": f"{root}/sales.csv",
            "customer": f"{root}/customer.csv",
            "product": f"{root}/product.csv",
            "store": f"{root}/store.csv",
        },
        output_root=str(tmp_path / "lake"),
        as_of_date="2024-06-01",
    )
    m = run_pipeline(spark, cfg)
    assert m.gold_counts["sales_enriched"] == 1
    assert m.silver_counts["sales"] == 4
    assert m.quality["gold_join_pct"] is False

    # healthy corpus never sets the key
    root2 = str(tmp_path / "in2")
    _fixtures(root2)
    cfg2 = PipelineConfig(
        input_paths={
            "sales": f"{root2}/sales.csv",
            "customer": f"{root2}/customer.csv",
            "product": f"{root2}/product.csv",
            "store": f"{root2}/store.csv",
        },
        output_root=str(tmp_path / "lake2"),
        as_of_date="2024-06-01",
    )
    m2 = run_pipeline(spark, cfg2)
    assert "gold_join_pct" not in m2.quality


def test_gold_audit_post_hoc(spark, cfg):
    """Airflow-DAG parity (sales_pipeline_dag.py:36-81): post-run gold
    audit — file presence per table + distributed row counts — without
    the reference's download-every-file driver read."""
    from sales_data_pipeline_spark.plans.audit import audit_gold_outputs

    m = run_pipeline(spark, cfg)
    audit = audit_gold_outputs(spark, cfg.output_root)
    assert audit.passed
    assert audit.file_counts["gold/sales_enriched"] >= 1
    assert audit.row_counts["gold/sales_enriched"] == m.gold_counts[
        "sales_enriched"
    ]
    assert audit.row_counts["gold/customer_metrics"] == m.gold_counts[
        "customer_metrics"
    ]

    # missing table fails loudly, present tables still reported
    bad = audit_gold_outputs(
        spark, cfg.output_root, {"gold/nope": 1, "gold/sales_enriched": 1}
    )
    assert not bad.passed
    assert "gold/nope" in bad.failures[0]
    assert bad.row_counts["gold/sales_enriched"] > 0


def test_cli_run_end_to_end(tmp_path, capsys):
    """python -m sales_data_pipeline_spark run ... (the reference's
    `python -m src.main.main` equivalent): config-file thresholds reach
    the runner, metrics print as one JSON object, audit rides along."""
    import json as jsonmod

    from sales_data_pipeline_spark.__main__ import main as cli_main

    root = str(tmp_path / "in")
    _fixtures(root)
    conf = tmp_path / "config.json"
    conf.write_text(jsonmod.dumps({
        "pipeline": {
            "mode": "full_refresh",
            "data_quality": {
                "max_rejection_percentage": 50,
                "min_gold_join_percentage": 60,
            },
        },
    }))
    rc = cli_main([
        "run",
        "--config", str(conf),
        "--sales", f"{root}/sales.csv",
        "--customer", f"{root}/customer.csv",
        "--product", f"{root}/product.csv",
        "--store", f"{root}/store.csv",
        "--output-root", str(tmp_path / "lake"),
        "--as-of", "2024-06-01",
        "--audit",
    ])
    assert rc == 0
    out = jsonmod.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["gold_counts"]["sales_enriched"] == 3
    assert out["audit"]["passed"] is True
    assert out["audit"]["row_counts"]["gold/customer_metrics"] == 2


_LAYERS = (
    "bronze/sales/raw", "bronze/sales/rejected", "bronze/customer/raw",
    "bronze/product/raw", "bronze/store/raw", "silver/sales",
    "silver/product", "silver/store", "silver/customer_scd",
    "gold/sales_enriched", "gold/customer_metrics",
)


def _incremental_cfg(root, lake, wm_dir, as_of):
    return PipelineConfig(
        input_paths={
            e: f"{root}/{e}.csv"
            for e in ("sales", "customer", "product", "store")
        },
        output_root=lake,
        as_of_date=as_of,
        mode="incremental",
        watermark_dir=wm_dir,
    )


def _second_run_inputs(root):
    """Run 2: Ada changes email and one later sale arrives, so both the
    SCD2 history and the watermark have something to move."""
    _fixtures(root, customer_email="ada-new@x.com")
    _write_csv(
        f"{root}/sales.csv",
        SALES_HEADER,
        [
            [1, 10, "Widget", "2024-03-01", 100, 5.0, 2, 10.0],
            [2, 10, "Gadget", "2024-04-02", 100, 8.0, 1, 8.0],
        ],
    )


def _layer_rows(spark, lake):
    return {
        layer: sorted(
            tuple(str(v) for v in r)
            for r in spark.read.parquet(f"{lake}/{layer}").collect()
        )
        for layer in _LAYERS
    }


def test_gold_write_crash_reruns_in_same_session(spark, tmp_path, monkeypatch):
    """A crash in run 2's gold/customer_metrics write leaves the
    watermark where run 1 put it, and a rerun in the same session (no
    clearCache) writes every layer exactly as a clean run 2 does: the
    runner's persisted frames are released on the failure path, so the
    rerun never reads a stale cache entry whose source files the crashed
    run overwrote."""
    import json as jsonmod

    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.io import writers

    def run_two(tag, crash):
        root = str(tmp_path / tag / "in")
        lake = str(tmp_path / tag / "lake")
        wm_dir = str(tmp_path / tag / "wm")
        _fixtures(root)
        run_pipeline(spark, _incremental_cfg(root, lake, wm_dir, "2024-06-01"))
        _second_run_inputs(root)
        cfg2 = _incremental_cfg(root, lake, wm_dir, "2024-07-01")
        if crash:
            wm_file = f"{wm_dir}/sales_watermark.json"
            with open(wm_file) as f:
                wm_before = jsonmod.load(f)["last_processed_timestamp"]
            real = writers.write_parquet

            def failing(df, path, *a, **kw):
                if path.endswith("gold/customer_metrics"):
                    df = df.withColumn(
                        "_boom", F.raise_error(F.lit("injected failure"))
                    )
                return real(df, path, *a, **kw)

            monkeypatch.setattr(writers, "write_parquet", failing)
            with pytest.raises(Exception, match="injected failure"):
                run_pipeline(spark, cfg2)
            monkeypatch.setattr(writers, "write_parquet", real)
            with open(wm_file) as f:
                assert jsonmod.load(f)["last_processed_timestamp"] == wm_before
        run_pipeline(spark, cfg2)
        return _layer_rows(spark, lake)

    clean = run_two("clean", crash=False)
    rerun = run_two("crash", crash=True)
    assert rerun == clean


def test_scd_write_crash_rerun_raises_not_first_run(spark, tmp_path, monkeypatch):
    """A crash in run 2's silver/customer_scd write leaves that history
    present but unreadable. The rerun must raise: taking it for a
    first run would rewrite the history without run 1's versions,
    fewer rows than a clean run 2 writes."""
    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.io import writers

    root = str(tmp_path / "in")
    lake = str(tmp_path / "lake")
    wm_dir = str(tmp_path / "wm")
    _fixtures(root)
    run_pipeline(spark, _incremental_cfg(root, lake, wm_dir, "2024-06-01"))
    _second_run_inputs(root)
    cfg2 = _incremental_cfg(root, lake, wm_dir, "2024-07-01")
    real = writers.write_parquet

    def failing(df, path, *a, **kw):
        if path.endswith("silver/customer_scd"):
            df = df.withColumn(
                "_boom", F.raise_error(F.lit("injected failure"))
            )
        return real(df, path, *a, **kw)

    monkeypatch.setattr(writers, "write_parquet", failing)
    with pytest.raises(Exception, match="injected failure"):
        run_pipeline(spark, cfg2)
    monkeypatch.setattr(writers, "write_parquet", real)
    assert os.path.isdir(f"{lake}/silver/customer_scd")
    with pytest.raises(Exception, match="(?i)infer schema"):
        run_pipeline(spark, cfg2)
