"""Round-11 operator pins: transformWithState throttling (real path +
fallback equivalence), perceptual-hash image dedup, SQ8
degenerate-dimension behavior. (The clustered ANN recall values and
the nprobe guard live in tests/test_pq.py.)

The multi-merge BPE trainer's property test lives in
tests/test_properties.py next to the single-step pin it extends.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _registry():
    from sales_data_pipeline_spark.queries.base import load_all

    return load_all()


# ---------------------------------------------------------------------------
# transformWithState throttle
# ---------------------------------------------------------------------------


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())


def _ref_throttle(ts_sorted, gap_us):
    """Direct reference of the emit-then-suppress chain."""
    last = None
    emitted = []
    for t in ts_sorted:
        if last is None or t >= last + gap_us:
            emitted.append(t)
            last = t
    return emitted


class TestThrottleStream:
    def test_tws_processor_fold_unit(self):
        """The StatefulProcessor's per-batch fold — driven directly
        with a fake ValueState, so the transformWithState surface is
        pinned even where the protobuf runtime blocks end-to-end
        execution. Two batches: state must carry the chain position
        across them."""
        pytest.importorskip("google.protobuf.descriptor")
        from sales_data_pipeline_spark.streaming import stateful

        proc = stateful.make_throttle_processor(gap_us=100)
        handle = _FakeHandle()
        proc.init(handle)
        b1 = pd.DataFrame({"ts_us": [0, 50, 100, 260]})
        out1 = list(proc.handleInputRows((7,), iter([b1]), None))[0]
        # emits: 0 (first), 100 (>=0+100), 260 (>=100+100); 50 dropped
        assert out1.iloc[0].to_dict() == {
            "user_id": 7, "n_events": 4, "n_emitted": 3,
            "first_emit_us": 0, "last_emit_us": 260,
        }
        b2 = pd.DataFrame({"ts_us": [300, 360, 500]})
        out2 = list(proc.handleInputRows((7,), iter([b2]), None))[0]
        # 300 suppressed (< 260+100), 360 emits, 500 emits
        assert out2.iloc[0].to_dict() == {
            "user_id": 7, "n_events": 7, "n_emitted": 5,
            "first_emit_us": 0, "last_emit_us": 500,
        }
        proc.close()

    def test_fold_matches_reference(self):
        from sales_data_pipeline_spark.streaming.stateful import (
            _fold_throttle,
        )

        ts = [5, 1, 7, 3, 205, 120, 410, 415, 2]
        last, n_emitted, n_events, first = _fold_throttle(ts, None, 100)
        ref = _ref_throttle(sorted(ts), 100)
        assert n_events == len(ts)
        assert n_emitted == len(ref)
        assert first == ref[0] and last == ref[-1]

    def test_probe_true_under_pytest_jvm(self, spark):
        """conftest injected the standalone protobuf pre-JVM, so the
        worker-visible probe must say the REAL transformWithState path
        is available in this session."""
        from sales_data_pipeline_spark.streaming import stateful

        pytest.importorskip("google.protobuf.descriptor")
        assert stateful.have_transform_with_state(spark) is True

    def test_probe_false_without_jvm_pythonpath(self, spark, monkeypatch):
        """A JVM whose env lacks the fallback path (the vanilla driver
        session) must fail the probe closed — workers could not import
        the state client even though this driver process can."""
        from sales_data_pipeline_spark.streaming import stateful

        if stateful._protobuf_mode() == "installed":
            pytest.skip("protobuf properly installed; probe never falls")

        class _Env:
            class java:  # noqa: N801
                class lang:  # noqa: N801
                    class System:  # noqa: N801
                        @staticmethod
                        def getenv(_k):
                            return "/nonexistent:."

        class _FakeSpark:
            _jvm = _Env

        assert stateful.have_transform_with_state(_FakeSpark()) is False

    def test_streaming_query_matches_batch_twin(self, spark):
        """End-to-end: the registered streaming query (REAL
        transformWithState under this session, per the probe test
        above) emits exactly the batch twin's per-user summaries."""
        pytest.importorskip("google.protobuf.descriptor")
        reg = _registry()
        stream = (
            reg["streaming_throttle_events"].fn(spark, SF_DIR).toPandas()
        )
        batch = reg["throttle_events_24h"].fn(spark, SF_DIR).toPandas()
        key = ["user_id"]
        s = stream.sort_values(key).reset_index(drop=True)
        b = batch[s.columns].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            s.astype("int64"), b.astype("int64")
        )


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup
# ---------------------------------------------------------------------------


def _ref_dhash(payload: bytes) -> int:
    grid = list(payload[:64]) + [0] * (64 - min(64, len(payload)))
    h = 0
    for r in range(8):
        for c in range(7):
            if grid[r * 8 + c] > grid[r * 8 + c + 1]:
                h |= 1 << (r * 7 + c)
    return h


class TestImagePhash:
    def test_dhash_matches_python_reference(self, spark):
        from sales_data_pipeline_spark.operators import multimodal

        payloads = [
            b"",  # empty -> all-zero grid -> hash 0
            b"ab",  # shorter than one row
            bytes(range(64)),  # strictly increasing rows
            bytes(reversed(range(64))),
            b"x" * 200,  # constant (no bit set), longer than grid
            bytes([5, 200] * 40),
        ]
        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(payloads)],
            "doc_id long, media_bytes binary",
        )
        got = {
            r["doc_id"]: r["dhash"]
            for r in multimodal.image_dhash(df).collect()
        }
        for i, p in enumerate(payloads):
            assert got[i] == _ref_dhash(p), (i, p)

    def test_banded_pairs_guaranteed_recall(self, spark):
        """Pigeonhole: pairs within Hamming 3 of a 56-bit signature
        MUST surface through the 4x14-bit bands."""
        from sales_data_pipeline_spark.operators import dedup

        base = (1 << 56) - 1
        sigs = [
            (1, base),
            (2, base ^ 0b111),  # hamming 3 vs id 1
            (3, 0),  # hamming 56 vs id 1
            (4, base ^ (1 << 55)),  # hamming 1 vs id 1
        ]
        df = spark.createDataFrame(sigs, "id long, sig long")
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dedup.banded_hamming_pairs(df).collect()
        }
        assert pairs[(1, 2)] == 3
        assert pairs[(1, 4)] == 1
        assert (1, 3) not in pairs

    def test_query_finds_injected_near_dups(self, spark):
        """Every injected (+_PHASH_INJECT_OFFSET, one-byte-perturbed)
        payload must pair with its source at Hamming <= 2."""
        from sales_data_pipeline_spark.queries.llm import (
            _PHASH_INJECT_OFFSET as OFF,
        )

        res = _registry()["image_phash_dedup"].fn(spark, SF_DIR).toPandas()
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", F.length("text").alias("n")
        )
        injected = {
            int(r["doc_id"])
            for r in docs.filter(
                (F.col("doc_id") % 10 == 0) & (F.col("n") >= 64)
            ).collect()
        }
        assert injected, "fixture invariant: some docs qualify"
        found = {
            (int(a), int(b)): int(h)
            for a, b, h in zip(res["id_a"], res["id_b"], res["hamming"])
        }
        for d in injected:
            assert (d, d + OFF) in found, d
            assert found[(d, d + OFF)] <= 2


# ---------------------------------------------------------------------------
# SQ8 degenerate dimension (round-10 advisor)
# ---------------------------------------------------------------------------


class TestAdvisorGuards:
    def test_sq8_degenerate_dim_cross_engine(self, spark, tmp_path):
        """A dimension with hi == lo must yield code 0 (defined), not a
        NaN clamp coincidence: rebuild the embeddings table with
        component 1 constant and verify Spark and DuckDB still agree
        cell-exactly and emit no NaN."""
        import duckdb

        from sales_data_pipeline_spark.schemas import TESTDATA_TABLES
        from tests.oracle_harness import compare_frames

        fix = tmp_path / "sqfix"
        fix.mkdir()
        con = duckdb.connect()
        con.execute(
            f"""
            COPY (
              SELECT vec_id,
                     list_transform(generate_series(1, 64), j ->
                       CASE WHEN j = 1 THEN CAST(0.25 AS FLOAT)
                            ELSE embedding[j] END) AS embedding,
                     * EXCLUDE (vec_id, embedding)
              FROM '{SF_DIR}/embeddings.parquet'
            ) TO '{fix}/embeddings.parquet' (FORMAT parquet)
            """
        )
        for t in TESTDATA_TABLES:
            if t != "embeddings":
                os.symlink(f"{SF_DIR}/{t}.parquet", fix / f"{t}.parquet")
        spec = _registry()["knn_sq8_adc"]
        spark_pdf = spec.fn(spark, str(fix)).toPandas()
        assert not spark_pdf["sq8_dist"].isna().any()
        from tests.oracle_harness import duckdb_connection

        ocon = duckdb_connection(str(fix))
        oracle_pdf = ocon.execute(spec.oracle).fetchdf()
        res = compare_frames("knn_sq8_adc_degenerate", spark_pdf, oracle_pdf)
        assert res.ok, res.detail
        ocon.close()
        shutil.rmtree(fix, ignore_errors=True)
