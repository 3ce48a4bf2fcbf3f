"""Round-10 pins: the round-9 advisor's process fixes.

1. workdir.materialized / run_dir — deterministic reusable work dirs
   (the /tmp-growth + re-paid-encode fix for knn_pq_adc_stored and the
   streaming queries): build exactly once per (name, sf), reuse
   completed materializations, never reuse a half-built dir.
2. Peak-mem adjudication sf guard — the isolated re-measure must
   refuse to run at a different sf than the sweep it adjudicates
   (a wrong-scale floor would silently clear a real regression and
   poison next round's baseline on both diff sides).
3. Broadcast-audit coverage compares NAME SETS, not counts — equal-size
   churn must fail with the symmetric difference named.

Pure-Python tests; no SparkSession.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_data_pipeline_spark import workdir
from sales_data_pipeline_spark.queries.base import QuerySpec
from tools import end_of_round as eor


class TestWorkdir:
    def test_materialized_builds_once_and_reuses(self, tmp_path, monkeypatch):
        monkeypatch.setattr(workdir, "_MAT_ROOT", str(tmp_path / "mat"))
        calls: list[str] = []

        def build(path: str) -> None:
            calls.append(path)
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "data.txt"), "w") as f:
                f.write("payload")

        p1 = workdir.materialized("codes", "/root/testdata/sf0.01", build)
        p2 = workdir.materialized("codes", "/root/testdata/sf0.01", build)
        assert p1 == p2
        assert len(calls) == 1  # second invocation reused, not rebuilt
        assert open(os.path.join(p1, "data.txt")).read() == "payload"

    def test_materialized_keys_on_sf_basename(self, tmp_path, monkeypatch):
        monkeypatch.setattr(workdir, "_MAT_ROOT", str(tmp_path / "mat"))

        def build(path: str) -> None:
            os.makedirs(path, exist_ok=True)

        p1 = workdir.materialized("codes", "/root/testdata/sf0.01", build)
        p2 = workdir.materialized("codes", "/tmp/sf10", build)
        assert p1 != p2  # different scales never share a materialization

    def test_half_built_dir_is_rebuilt(self, tmp_path, monkeypatch):
        monkeypatch.setattr(workdir, "_MAT_ROOT", str(tmp_path / "mat"))
        calls: list[str] = []

        def build(path: str) -> None:
            calls.append(path)
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "data.txt"), "w") as f:
                f.write("payload")

        p = workdir.materialized("codes", "/root/testdata/sf0.01", build)
        # simulate a crashed build at the published path: partial
        # content but no _COMPLETE marker (publication is atomic rename
        # with the marker inside, so a published dir always has it)
        os.remove(os.path.join(p, workdir._DONE))
        with open(os.path.join(p, "partial.parquet"), "w") as f:
            f.write("half-written")
        p2 = workdir.materialized("codes", "/root/testdata/sf0.01", build)
        assert p2 == p
        assert len(calls) == 2  # husk cleared, rebuilt
        assert os.path.exists(os.path.join(p, workdir._DONE))
        assert not os.path.exists(os.path.join(p, "partial.parquet"))

    def test_run_dir_starts_empty_each_invocation(self, tmp_path, monkeypatch):
        monkeypatch.setattr(workdir, "_RUN_ROOT", str(tmp_path / "run"))
        p1 = workdir.run_dir("stream", "/root/testdata/sf0.01")
        with open(os.path.join(p1, "ckpt.bin"), "w") as f:
            f.write("state")
        p2 = workdir.run_dir("stream", "/root/testdata/sf0.01")
        assert p1 == p2  # deterministic path: growth bounded to one dir
        assert os.listdir(p2) == []  # previous invocation reclaimed


def _fn_q(spark, sf_dir):
    return "q"


def _spec(name, tags=()):
    return QuerySpec(
        name=name, fn=_fn_q, oracle="SELECT 1 AS one", tags=tuple(tags)
    )


class TestAdjudicationSfGuard:
    def test_parses_sf_from_env_dir(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
        assert eor._adjudication_sf() == 10.0
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1/")
        assert eor._adjudication_sf() == 0.1
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/not_an_sf_dir")
        assert eor._adjudication_sf() is None

    def test_proactive_floors_skip_on_sf_mismatch(
        self, tmp_path, monkeypatch
    ):
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/tmp/sf10")

        def boom(names, passes=3):
            raise AssertionError(
                "isolated re-measure must not run at a mismatched sf"
            )

        monkeypatch.setattr(eor, "_isolated_peaks", boom)
        art = tmp_path / "BENCH_FULL.json"
        cur = {"sf": 0.1, "peak_mem": {"q": 1 << 30}}
        art.write_text(json.dumps(cur))
        eor._proactive_floors(cur, str(art))  # must not raise
        assert "peak_mem_isolated" not in json.loads(art.read_text())

    def test_proactive_floors_record_heaviest(self, tmp_path, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/tmp/sf0.1")
        seen: list[list[str]] = []

        def fake_iso(names, passes=3):
            seen.append(list(names))
            return {n: 123 << 20 for n in names}

        monkeypatch.setattr(eor, "_isolated_peaks", fake_iso)
        art = tmp_path / "BENCH_FULL.json"
        cur = {
            "sf": 0.1,
            "peak_mem": {f"q{i}": i << 20 for i in range(1, 15)},
        }
        art.write_text(json.dumps(cur))
        eor._proactive_floors(cur, str(art), top_n=3)
        assert seen == [["q14", "q13", "q12"]]  # heaviest first
        written = json.loads(art.read_text())
        assert set(written["peak_mem_isolated"]) == {"q14", "q13", "q12"}


class TestBroadcastAuditNameSets:
    def _gate(self, tmp_path, monkeypatch, artifact, registry):
        import sales_data_pipeline_spark.queries.base as base

        monkeypatch.setattr(eor, "_REPO_ROOT", str(tmp_path))
        monkeypatch.setattr(base, "load_all", lambda: registry)
        if artifact is not None:
            (tmp_path / "BROADCAST_AUDIT.json").write_text(
                json.dumps(artifact)
            )
        return eor._broadcast_audit_coverage()

    def test_name_sets_match_passes(self, tmp_path, monkeypatch):
        reg = {"a": _spec("a"), "s": _spec("s", tags=("streaming",))}
        ok = self._gate(
            tmp_path, monkeypatch,
            {"queries_audited_names": ["a"], "queries_audited": 1}, reg,
        )
        assert ok

    def test_equal_size_churn_fails(self, tmp_path, monkeypatch):
        # one added (b, unaudited), one removed (zombie, still in the
        # artifact): counts match, the old gate passed — sets must fail
        reg = {"a": _spec("a"), "b": _spec("b")}
        ok = self._gate(
            tmp_path, monkeypatch,
            {"queries_audited_names": ["a", "zombie"],
             "queries_audited": 2}, reg,
        )
        assert not ok

    def test_count_only_artifact_fails(self, tmp_path, monkeypatch):
        reg = {"a": _spec("a")}
        ok = self._gate(
            tmp_path, monkeypatch, {"queries_audited": 1}, reg,
        )
        assert not ok
