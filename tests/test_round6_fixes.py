"""Round-6 pins: fuzzy_name_match's deletion-neighborhood rewrite.

The round-6 full-catalog bench sweep (BENCH_FULL.json) surfaced
fuzzy_name_match at 29 s — levenshtein evaluated inside a
BroadcastHashJoin condition over the full nation-block pair space, in
one task. The rewrite indexes every name by its FastSS deletion
neighborhood and equi-joins on (nation, deletion_key), verifying
candidates with one levenshtein filter AFTER the join. These tests pin
(a) losslessness — identical result set to the naive quadratic join —
and (b) the plan shape that makes it fast.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sales_data_pipeline_spark.queries.base import load_all

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


def _naive(spark, sf_dir):
    """Reference semantics: full blocked theta-join (the pre-rewrite
    shape) — correct, quadratic per block."""
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_name", "c_nationkey")
    )
    a, b = c.alias("a"), c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(dist <= 1)
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
            dist.cast("int").alias("edit_dist"),
        )
    )


class TestFuzzyNameMatchRewrite:
    def test_deletion_index_lossless_vs_naive_join(self, spark):
        got = (
            load_all()["fuzzy_name_match"]
            .fn(spark, SF_DIR)
            .select("key_a", "key_b", "edit_dist")
        )
        expect = _naive(spark, SF_DIR)
        assert got.exceptAll(expect).count() == 0
        assert expect.exceptAll(got).count() == 0
        assert got.count() == got.select("key_a", "key_b").distinct().count()

    def test_join_keys_include_deletion_key(self, spark):
        """The 29 s failure mode was an equi-join on nation ALONE, so
        levenshtein (Catalyst pushes the verify filter into the join
        condition) evaluated over the full block pair space. With
        del_key in the equi-key list it evaluates only on deletion-
        bucket collisions — candidate pairs, not block^2."""
        df = load_all()["fuzzy_name_match"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        join_lines = [
            ln for ln in plan.splitlines()
            if ln.strip(" :+-").startswith(
                ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
            )
        ]
        assert join_lines, plan
        for line in join_lines:
            assert "del_key" in line, line

    def test_synthetic_indel_and_substitution_found(self, spark):
        """Deletion-index coverage for all three edit kinds at
        distance 1 (equal-length substitution, insertion, deletion) —
        plus a distance-2 pair that must NOT match."""
        rows = [
            (1, "alpha", 0),
            (2, "alphA", 0),   # substitution
            (3, "alpha!", 0),  # insertion
            (4, "alph", 0),    # deletion
            (5, "alPHa", 0),   # distance 2: excluded
            (6, "alpha", 1),   # other nation: excluded by blocking
        ]
        src = spark.createDataFrame(
            rows, "c_custkey long, c_name string, c_nationkey int"
        )
        tmp = os.path.join("/tmp", "fuzzy_rw_fixture")
        src.write.mode("overwrite").parquet(f"{tmp}/customer.parquet")
        out = load_all()["fuzzy_name_match"].fn(spark, tmp)
        pairs = {
            (r.key_a, r.key_b) for r in out.collect()
        }
        assert (1, 2) in pairs
        assert (1, 3) in pairs
        assert (1, 4) in pairs
        assert all(5 not in p for p in pairs)
        assert all(6 not in p for p in pairs)


class TestStreamingDirectoryLayout:
    def test_events_stream_reads_spark_written_directory(self, spark, tmp_path):
        """Round-6 fix: the file stream listed ZERO files when
        events.parquet is a Spark-written DIRECTORY (pathGlobFilter
        matches leaf file names only) — every streaming query silently
        returned empty on such layouts (/tmp/sf1). The reader must
        handle both the driver's single-file layout and directories."""
        from sales_data_pipeline_spark.streaming.ingest import (
            read_events_stream,
        )

        src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        d = str(tmp_path / "layout")
        # Spark-written directory layout (multiple part files)
        src.limit(500).repartition(3).write.parquet(
            f"{d}/events.parquet"
        )
        stream = read_events_stream(spark, d)
        q = (
            stream.groupBy()
            .count()
            .writeStream.format("memory")
            .queryName("dir_layout_cnt")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = spark.sql("SELECT count FROM dir_layout_cnt").collect()[0][0]
        assert n == 500


class TestBoundedStatePartitions:
    def test_restores_previous_value(self, spark):
        from sales_data_pipeline_spark.streaming.ingest import (
            bounded_state_partitions,
        )

        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        with bounded_state_partitions(spark, n=7):
            assert spark.conf.get(key) == "7"
        assert spark.conf.get(key) == prev

    def test_restores_on_exception(self, spark):
        from sales_data_pipeline_spark.streaming.ingest import (
            bounded_state_partitions,
        )

        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        try:
            with bounded_state_partitions(spark, n=7):
                raise RuntimeError("stream failed")
        except RuntimeError:
            pass
        assert spark.conf.get(key) == prev


class TestDeletionIndexProperty:
    def test_random_corpus_lossless(self, spark):
        """Property pin: on a randomized small-alphabet corpus (dense
        in near-miss pairs — far denser than customer names), the
        deletion-neighborhood path must equal the naive quadratic
        join exactly."""
        import random

        rng = random.Random(6)
        alphabet = "ab"
        rows = []
        for i in range(300):
            n = rng.randint(0, 6)
            rows.append(
                (i, "".join(rng.choice(alphabet) for _ in range(n)),
                 i % 3)
            )
        src = spark.createDataFrame(
            rows, "c_custkey long, c_name string, c_nationkey int"
        )
        d = "/tmp/fuzzy_prop_fixture"
        src.write.mode("overwrite").parquet(f"{d}/customer.parquet")
        got = (
            load_all()["fuzzy_name_match"]
            .fn(spark, d)
            .select("key_a", "key_b", "edit_dist")
        )
        expect = _naive(spark, d)
        assert got.exceptAll(expect).count() == 0
        assert expect.exceptAll(got).count() == 0


class TestRangeJoinZeroCountPreserved:
    def test_left_row_with_only_out_of_range_candidates_kept(self, spark):
        """sf0.1 parity sweep find: a left row whose candidate buckets
        hold ONLY out-of-interval right rows lost its n_in_range=0
        group under the old post-join filter (no NULL row survived to
        carry the group). SQL LEFT JOIN ... ON semantics keep it."""
        from sales_data_pipeline_spark.operators.timeseries import (
            range_join_count,
        )

        base = 1_700_000_000  # seconds
        err = spark.createDataFrame(
            [(1, base * 1_000_000)], "user_id int, us long"
        ).select("user_id", F.timestamp_micros("us").alias("ts"))
        clicks = spark.createDataFrame(
            [
                # same band as the error, but AFTER it (out of range)
                (1, (base + 600) * 1_000_000),
                # previous band, more than 1h before (out of range)
                (1, (base - 3700) * 1_000_000),
                # a second user entirely in range (sanity)
                (2, 0),
            ],
            "user_id int, us long",
        ).select("user_id", F.timestamp_micros("us").alias("ts"))
        out = range_join_count(
            err, clicks, on="user_id", lookback_seconds=3600
        ).collect()
        assert len(out) == 1
        assert out[0]["n_in_range"] == 0


class TestGramSetJoinsSpill:
    """sf10 spot-check find: the shingle/gram-set maps joined onto
    candidate pairs scale WITH the corpus, but their cached
    collect_set-aggregate stats undershoot, so Catalyst broadcast them —
    a multi-GB HashedRelation OOM at 100x bench scale (and a shuffle_hash
    build hits per-task execution memory one scale later). The operators
    now SIZE-GATE the build (scale.gated_broadcast with
    scale.GRAM_MAP_BROADCAST_CAP): broadcast only when
    the corpus scan's on-disk footprint proves the map small, sort-merge
    (spilling) when it's large or unknowable. These tests pin BOTH sides
    of the gate so neither the fast small-corpus plan nor the
    memory-bounded scale plan can silently regress."""

    def _join_lines(self, df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [
            line
            for line in plan.splitlines()
            if "Join" in line or "BroadcastExchange" in line
        ]

    def _pair_joins(self, df):
        # only the joins that carry the gram-set payload (id_a/id_b
        # keys) are gated; the tiny banded-signature self-join may
        # legitimately broadcast at small scale (its estimates grow
        # with the scan, so it becomes SMJ on its own at size)
        lines = self._join_lines(df)
        joins = [l for l in lines if "id_a#" in l or "id_b#" in l]
        assert joins, "expected pair-side joins in the plan"
        return joins

    def test_minhash_pair_joins_broadcast_when_small(self, spark):
        from sales_data_pipeline_spark.operators import dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        pairs = dedup.minhash_lsh_pairs(docs, min_jaccard=0.5)
        for line in self._pair_joins(pairs):
            assert "BroadcastHashJoin" in line, line

    def test_minhash_pair_joins_sort_merge_past_cap(self, spark, monkeypatch):
        from sales_data_pipeline_spark import scale
        from sales_data_pipeline_spark.operators import dedup

        monkeypatch.setattr(scale, "GRAM_MAP_BROADCAST_CAP", 0)
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        pairs = dedup.minhash_lsh_pairs(docs, min_jaccard=0.5)
        for line in self._pair_joins(pairs):
            assert "SortMergeJoin" in line, line

    def test_ngram_pair_joins_sort_merge_past_cap(self, spark, monkeypatch):
        from sales_data_pipeline_spark import scale
        from sales_data_pipeline_spark.operators import dedup

        monkeypatch.setattr(scale, "GRAM_MAP_BROADCAST_CAP", 0)
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        block = dedup.minhash_block_map(docs, "doc_id", "text", 3)
        pairs = dedup.ngram_jaccard_pairs(
            docs, min_jaccard=0.5, block=block
        )
        for line in self._pair_joins(pairs):
            assert "SortMergeJoin" in line, line

    def test_unknown_source_defaults_to_sort_merge(self, spark):
        # a non-file source has no provable footprint: the gate must
        # assume huge (None -> merge), never broadcast on hope
        from sales_data_pipeline_spark import scale
        from sales_data_pipeline_spark.operators import dedup

        docs = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("alpha beta gamma delta epsilon doc "),
                     F.col("id").cast("string")).alias("text"),
        )
        assert scale.source_bytes(docs) is None
        pairs = dedup.minhash_lsh_pairs(docs, min_jaccard=0.5)
        for line in self._pair_joins(pairs):
            assert "SortMergeJoin" in line, line

    def test_source_bytes_matches_disk(self, spark):
        import glob as _glob
        import os as _os

        from sales_data_pipeline_spark import scale

        path = f"{SF_DIR}/documents.parquet"
        docs = spark.read.parquet(path)
        expect = (
            sum(_os.path.getsize(p)
                for p in _glob.glob(f"{path}/*.parquet"))
            if _os.path.isdir(path) else _os.path.getsize(path)
        )
        assert scale.source_bytes(docs) == expect
