"""Round-13 optimization pins: the rewritten internals must be
value-identical to the shapes they replaced.

1. gram_array_sql == shingle_rows' gram multiset (incl. short-doc
   clamping), so the projection-built block maps / gram sets / minhash
   signatures can never drift from the exploded forms.
2. _bigram_rows == the shingle(n=2)+split extraction it replaced.
3. workdir.materialized() keys move when the build code, the package
   source or the input files move (no stale artifact survives a
   rewrite or regenerated data), and the _COMPLETE marker records the
   measured build seconds.
4. The CC loop restores the session shuffle-partition conf it scopes.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sales_data_pipeline_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from sales_data_pipeline_spark.session import build_session

    s = build_session("test_round13_opts")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def tricky(spark):
    """Docs exercising the clamping edges: empty, single word, exactly
    n words, repeated grams, multi-space runs."""
    rows = [
        (1, "alpha beta gamma delta alpha beta gamma"),
        (2, "one two"),
        (3, "solo"),
        (4, "a b c"),
        (5, "x  y   z  x  y"),
        (6, "dup dup dup dup"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestGramProjectionEquivalence:
    def test_gram_multiset_matches_shingle_rows(self, spark, tricky):
        exploded = (
            dedup.shingle_rows(tricky, "doc_id", "text", 3)
            .groupBy("id")
            .agg(F.sort_array(F.collect_list("sh")).alias("g"))
        )
        projected = tricky.selectExpr(
            "doc_id AS id", f"{dedup.gram_words_sql('text')} AS w"
        ).selectExpr(
            "id", f"sort_array({dedup.gram_array_sql(3)}) AS g"
        )
        a = {r["id"]: r["g"] for r in exploded.collect()}
        b = {r["id"]: r["g"] for r in projected.collect()}
        assert a == b

    def test_block_map_matches_exploded_min_aggregation(
        self, spark, tricky
    ):
        got = sorted(
            tuple(r)
            for r in dedup.minhash_block_map(
                tricky, "doc_id", "text", 3
            ).collect()
        )
        sh = dedup.shingle_rows(tricky, "doc_id", "text", 3)
        mins = (
            sh.select(
                "id",
                F.substring(F.md5(F.col("sh")), 1, 8).alias("c0"),
                F.substring(F.md5(F.col("sh")), 9, 8).alias("c1"),
            )
            .groupBy("id")
            .agg(F.min("c0").alias("b0"), F.min("c1").alias("b1"))
        )
        want = sorted(
            tuple(r)
            for r in mins.select(
                "id",
                F.explode(
                    F.array(
                        F.concat(F.lit("0:"), F.col("b0")),
                        F.concat(F.lit("1:"), F.col("b1")),
                    )
                ).alias("block"),
            ).collect()
        )
        assert got == want

    def test_bigram_rows_match_shingle_split(self, spark, tricky):
        from sales_data_pipeline_spark.queries.llm import _bigram_rows

        got = sorted(tuple(r) for r in _bigram_rows(tricky).collect())
        # reference = the replaced shingle(n=2)+split extraction, with
        # NULL-tolerant element access (the old getItem form throws
        # under ANSI on 1-word docs — a latent bug the rework removes;
        # on multi-word docs get() and getItem() are identical)
        want = sorted(
            tuple(r)
            for r in dedup.shingle_rows(tricky, "doc_id", "text", 2)
            .select(
                F.col("id").alias("doc_id"),
                F.get(F.split(F.col("sh"), " "), 0).alias("a"),
                F.get(F.split(F.col("sh"), " "), 1).alias("b"),
            )
            .filter(F.col("b").isNotNull() & (F.col("b") != ""))
            .collect()
        )
        assert got == want


class TestMaterializedKeyVersioning:
    def test_key_moves_with_build_code_and_marker_records_seconds(
        self, tmp_path, monkeypatch
    ):
        from sales_data_pipeline_spark import workdir

        monkeypatch.setattr(workdir, "_MAT_ROOT", str(tmp_path))

        def build_v1(path: str) -> None:
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "data"), "w") as f:
                f.write("v1")

        p1 = workdir.materialized("art", "/root/testdata/sf0.001", build_v1)
        marker = json.loads(
            open(os.path.join(p1, workdir._DONE)).read()
        )
        assert isinstance(marker["build_s"], float)

        # same code -> same key, no rebuild (marker mtime unchanged)
        m1 = os.path.getmtime(os.path.join(p1, workdir._DONE))
        p1b = workdir.materialized("art", "/root/testdata/sf0.001", build_v1)
        assert p1b == p1
        assert os.path.getmtime(os.path.join(p1, workdir._DONE)) == m1

        # different build source -> different key -> rebuild, and the
        # superseded dir is reclaimed
        def build_v2(path: str) -> None:
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "data"), "w") as f:
                f.write("v2")

        p2 = workdir.materialized("art", "/root/testdata/sf0.001", build_v2)
        assert p2 != p1
        assert not os.path.exists(p1)
        assert open(os.path.join(p2, "data")).read() == "v2"


    def test_back_to_back_lambdas_never_share_a_key(
        self, tmp_path, monkeypatch
    ):
        """A build lambda freed right after its call can hand its id()
        to the next one; a key cached on id() then gave the second
        lambda the first one's artifact."""
        from sales_data_pipeline_spark import workdir

        monkeypatch.setattr(workdir, "_MAT_ROOT", str(tmp_path))

        def put(path: str, payload: str) -> None:
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "data"), "w") as f:
                f.write(payload)

        for _ in range(20):
            pa = workdir.materialized(
                "art", SF_DIR, lambda path: put(path, "a")
            )
            pb = workdir.materialized(
                "art", SF_DIR, lambda path: put(path, "b")
            )
            assert pa != pb
            assert open(os.path.join(pb, "data")).read() == "b"
        # whether CPython reuses the freed address above depends on
        # its allocator's pools, so pin the recycled-id case directly:
        # one object, hence one id(), carrying new source
        build = lambda path: put(path, "c")  # noqa: E731
        pc = workdir.materialized("art", SF_DIR, build)
        build.__code__ = (lambda path: put(path, "d")).__code__
        pd = workdir.materialized("art", SF_DIR, build)
        assert pc != pd
        assert open(os.path.join(pd, "data")).read() == "d"

    def test_key_moves_with_input_files(self, tmp_path, monkeypatch):
        from sales_data_pipeline_spark import workdir

        monkeypatch.setattr(workdir, "_MAT_ROOT", str(tmp_path / "mat"))
        sf = tmp_path / "sf_x"
        (sf / "t.parquet").mkdir(parents=True)
        part = sf / "t.parquet" / "part-0.parquet"
        part.write_bytes(b"v1")
        (sf / "u.parquet").write_bytes(b"other")
        calls: list[str] = []

        def build(path: str) -> None:
            calls.append(path)
            os.makedirs(path, exist_ok=True)

        p1 = workdir.materialized("art", str(sf), build)
        assert workdir.materialized("art", str(sf), build) == p1
        assert len(calls) == 1  # unchanged files hit
        part.write_bytes(b"v2-regenerated")
        p2 = workdir.materialized("art", str(sf), build)
        assert p2 != p1 and len(calls) == 2  # rewritten file rebuilds
        assert workdir.materialized("art", str(sf), build) == p2
        assert len(calls) == 2

    def test_key_moves_with_package_source(self, tmp_path, monkeypatch):
        from sales_data_pipeline_spark import workdir

        pkg = tmp_path / "pkg"
        (pkg / "sub").mkdir(parents=True)
        mod = pkg / "sub" / "m.py"
        mod.write_text("X = 1\n")
        monkeypatch.setattr(workdir, "_MAT_ROOT", str(tmp_path / "mat"))
        monkeypatch.setattr(workdir, "_PKG_ROOT", str(pkg))
        monkeypatch.setattr(workdir, "_pkg_digest", None)
        calls: list[str] = []

        def build(path: str) -> None:
            calls.append(path)
            os.makedirs(path, exist_ok=True)

        p1 = workdir.materialized("art", SF_DIR, build)
        mod.write_text("X = 2\n")
        # the digest is computed once per process: an edit shows up
        # in the next process, simulated by dropping the held digest
        assert workdir.materialized("art", SF_DIR, build) == p1
        monkeypatch.setattr(workdir, "_pkg_digest", None)
        p2 = workdir.materialized("art", SF_DIR, build)
        assert p2 != p1 and len(calls) == 2

class TestCCLoopConfScope:
    def test_shuffle_partitions_restored_after_loop(self, spark):
        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
        )
        out = {
            r["id"]: r["cluster_id"]
            for r in dedup.cluster_components(edges).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert spark.conf.get(key) == before
