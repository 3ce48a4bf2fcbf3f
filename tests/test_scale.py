"""Unit tests for sales_data_pipeline_spark.scale — the size-gated
broadcast helper every scaling-dim / corpus-map join site uses."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from sales_data_pipeline_spark import scale

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


def _disk_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(p) for p in glob.glob(f"{path}/*.parquet")
        )
    return os.path.getsize(path)


class TestSourceBytes:
    def test_matches_disk_for_file_scan(self, spark):
        path = f"{SF_DIR}/customer.parquet"
        df = spark.read.parquet(path)
        assert scale.source_bytes(df) == _disk_bytes(path)

    def test_derived_frame_keeps_lineage(self, spark):
        # projection + filter + aggregate all trace to the same files —
        # an upper bound on any derived relation's true size
        path = f"{SF_DIR}/customer.parquet"
        df = (
            spark.read.parquet(path)
            .filter(F.col("c_custkey") % 2 == 0)
            .groupBy("c_mktsegment")
            .count()
        )
        assert scale.source_bytes(df) == _disk_bytes(path)

    def test_join_lineage_is_union_of_sources(self, spark):
        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        j = o.join(c, o.o_custkey == c.c_custkey)
        expect = _disk_bytes(f"{SF_DIR}/customer.parquet") + _disk_bytes(
            f"{SF_DIR}/orders.parquet"
        )
        assert scale.source_bytes(j) == expect

    def test_non_file_source_is_unknowable(self, spark):
        df = spark.range(10)
        assert scale.source_bytes(df) is None
        assert not scale.source_is_small(df, 1 << 40)


class TestGatedBroadcast:
    def _is_hinted(self, df) -> bool:
        txt = df._jdf.queryExecution().optimizedPlan().toString()
        return "strategy=broadcast" in txt

    def test_broadcasts_under_cap(self, spark):
        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        j = o.join(scale.gated_broadcast(c), o.o_custkey == c.c_custkey)
        assert self._is_hinted(j)

    def test_unhinted_past_cap(self, spark, monkeypatch):
        monkeypatch.setattr(scale, "DIM_BROADCAST_CAP", 0)
        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        j = o.join(scale.gated_broadcast(c), o.o_custkey == c.c_custkey)
        assert not self._is_hinted(j)

    def test_unhinted_for_unknowable_source(self, spark):
        mem = spark.range(5).select(
            F.col("id").alias("o_custkey"), F.lit("x").alias("v")
        )
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        j = o.join(scale.gated_broadcast(mem), "o_custkey")
        assert not self._is_hinted(j)

    def test_corpus_probe_overrides_self(self, spark):
        # a tiny aggregate of a big corpus must gate on the CORPUS
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        dl = docs.select("doc_id", F.length("text").alias("dl"))
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        gated = scale.gated_broadcast(
            dl.withColumnRenamed("doc_id", "o_custkey"),
            cap=0,
            corpus=docs,
        )
        j = orders.join(gated, "o_custkey")
        assert not self._is_hinted(j)


class TestCachedArm:
    def test_cached_build_gets_merge_past_cap(self, spark, monkeypatch):
        """Persisted builds must NOT fall to the unhinted arm: their
        InMemoryRelation stats underestimate (the dedup gram-map OOM
        class), so the gate pins an explicit merge hint instead."""
        monkeypatch.setattr(scale, "DIM_BROADCAST_CAP", 0)
        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        agg = c.groupBy("c_custkey").count().persist()
        try:
            j = o.join(
                scale.gated_broadcast(agg, cached=True),
                o.o_custkey == agg.c_custkey,
            )
            txt = j._jdf.queryExecution().optimizedPlan().toString()
            assert "strategy=merge" in txt, txt
            assert "strategy=broadcast" not in txt
        finally:
            agg.unpersist()


class TestSpreadSmallScan:
    def test_spreads_single_file_scan(self, spark):
        df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        assert df.rdd.getNumPartitions() < 8  # precondition: tiny file
        out = scale.spread_small_scan(df, "doc_id")
        n = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == n
        assert out.count() == df.count()

    def test_noop_when_already_parallel(self, spark):
        df = spark.range(1000).repartition(16)
        out = scale.spread_small_scan(df, "id")
        # gate: >= min(defaultParallelism, 8) partitions -> untouched
        assert out is df

    def test_keyless_spread(self, spark):
        df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = scale.spread_small_scan(df)
        assert out.rdd.getNumPartitions() == (
            spark.sparkContext.defaultParallelism
        )

    def test_noop_for_multi_split_scan(self, spark, tmp_path):
        """The big-data arm, on a SCAN-rooted frame (the helper's
        documented precondition): a scan that already arrives in >= 8
        splits must come back as the IDENTICAL object — no added
        Exchange — so the bench-scale spread can never silently turn
        into an unconditional full-corpus repartition at scale."""
        path = str(tmp_path / "many_splits")
        spark.range(0, 20000).selectExpr(
            "id AS doc_id", "repeat('x', 64) AS text"
        ).repartition(12).write.parquet(path)
        old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        old_ocb = spark.conf.get("spark.sql.files.openCostInBytes")
        old_mpn = spark.conf.get("spark.sql.files.minPartitionNum", None)
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        # the split size also follows bytesPerCore, i.e. the session's
        # defaultParallelism: pin the split count off the host's cores
        spark.conf.set("spark.sql.files.minPartitionNum", "12")
        try:
            df = spark.read.parquet(path)
            assert df.rdd.getNumPartitions() >= 8  # precondition
            out = scale.spread_small_scan(df, "doc_id")
            assert out is df
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
            spark.conf.set("spark.sql.files.openCostInBytes", old_ocb)
            if old_mpn is None:
                spark.conf.unset("spark.sql.files.minPartitionNum")
            else:
                spark.conf.set("spark.sql.files.minPartitionNum", old_mpn)
