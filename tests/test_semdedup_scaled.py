"""Scaled-k SemDeDup (similarity.semdedup over hierarchical k-means):
the "k grows with the corpus" contract as an implemented, pinned path.

There is one k-means (kmeans_assign_hierarchical) and one pruning
operator (semdedup); the flat catalog queries call them at depth=1.
That is what lets the scaled queries certify hash-exact against the
flat k=8 DuckDB oracle at the driver's gate scale while running
genuinely hierarchical at sf1/sf10 (SCALE_CHECK_SF10_R8.json measures
the sub-quadratic growth). The probe-batch parity pins hold the Spark
batch generators to their DuckDB CTEs cell for cell."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sales_data_pipeline_spark.operators import similarity

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def corpus(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return e.unionByName(dup)


class TestHierarchicalDepth:
    def test_depth2_colocates_and_flags_exact_dups(self, spark, corpus):
        """Identical vectors must land in the same leaf cluster at ANY
        depth (re-assignment is value-based — the hash init only shapes
        centroids), so every injected +100000 copy is flagged."""
        res = similarity.semdedup(
            corpus, branch=8, depth=2, min_cosine=0.96
        )
        rows = {r["vec_id"]: r for r in res.collect()}
        injected = [v for v in rows if v >= 100000]
        assert injected
        for v in injected:
            assert rows[v]["cluster"] == rows[v - 100000]["cluster"]
            assert rows[v]["is_dup"]

    def test_depth2_splits_into_more_clusters(self, spark, corpus):
        c1 = similarity.semdedup(corpus, branch=8, depth=1)
        c2 = similarity.semdedup(corpus, branch=8, depth=2)
        n1 = c1.select("cluster").distinct().count()
        n2 = c2.select("cluster").distinct().count()
        assert n1 <= 8
        assert n1 < n2 <= 64

    def test_row_count_preserved(self, spark, corpus):
        n = corpus.count()
        assert (
            similarity.semdedup(corpus, branch=8, depth=2).count()
            == n
        )


class TestAutoDepth:
    def test_schedule(self):
        # <= target*branch fits one level; beyond that, log growth
        assert similarity.auto_depth(500, branch=8, target=400) == 1
        assert similarity.auto_depth(3200, branch=8, target=400) == 1
        assert similarity.auto_depth(3201, branch=8, target=400) == 2
        assert similarity.auto_depth(22000, branch=8, target=400) == 2
        assert similarity.auto_depth(220000, branch=8, target=400) == 4

    def test_cluster_size_stays_bounded(self):
        # the contract: mean leaf size never exceeds target*branch
        # (one ceil step of slack), at any corpus size
        for n in (10_000, 100_000, 1_000_000, 100_000_000):
            d = similarity.auto_depth(n, branch=8, target=400)
            assert n / (8**d) <= 400 * 8


class TestIncrementalProbe:
    def test_multiprobe_recall_on_injected_near_dups(self, spark):
        """The incremental probe's recall contract: with top-2
        multi-probe, >= 99% of injected perturbed near-copies find
        their stored original (one Lloyd half-step of label/centroid
        drift can push a boundary original into the copy's 2nd-nearest
        cluster; top-1 alone measured 90.4%). Fresh synthetic vectors
        must overwhelmingly come back unique."""
        from sales_data_pipeline_spark.queries.llm import (
            semantic_dedup_incremental,
        )

        rows = semantic_dedup_incremental(spark, SF_DIR).collect()
        near = [r for r in rows if r["vec_id"] < 500000]
        fresh = [r for r in rows if r["vec_id"] >= 500000]
        assert near and fresh
        matched = [r for r in near if not r["is_unique"]]
        assert len(matched) / len(near) >= 0.99
        # every match points at a real stored id and clears the bar
        for r in matched:
            assert r["matched_base_id"] is not None
            assert r["cos_sim"] >= 0.96
        assert sum(1 for r in fresh if r["is_unique"]) == len(fresh)

    def test_self_probe_matches_at_cosine_one(self, spark):
        """Probing stored vectors against their own corpus: one output
        row per batch vector, and every found match is the vector
        itself (or an exact copy) at rounded cosine 1.0. NOT asserted
        at 100%: the stored labels predate the re-derived means, so a
        boundary vector's own label can sit outside its top-2 probe
        clusters (the measured drift the operator docstring states) —
        the contract is the >=90% top-2 floor, exact-1.0 matches, and
        no duplicate output rows from the probe explode."""
        from sales_data_pipeline_spark.queries.llm import _emb_corpus
        from sales_data_pipeline_spark.operators.similarity import (
            semdedup_incremental,
        )

        base = _emb_corpus(spark, SF_DIR)
        batch = base.filter(F.col("vec_id") % 50 == 0)
        n = batch.count()
        out = semdedup_incremental(base, batch, branch=8)
        assert out.count() == n
        assert out.select("vec_id").distinct().count() == n
        matched = out.filter(~F.col("is_unique"))
        assert matched.count() >= 0.9 * n
        assert matched.filter(F.col("cos_sim") != 1.0).count() == 0


class TestStoredStateEquivalence:
    def test_stored_sums_path_is_value_identical(self, spark):
        """The production stored-state path — assignment persisted WITH
        norms plus semdedup_state_sums as a separate table — must give
        the exact rows the inline-derivation fixture gives: the helper
        IS the inline derivation, so stored vs derived can only differ
        if the state schema drifted. Guards the streaming ingest query,
        which probes stored (labels+nrm, sums) every micro-batch."""
        from sales_data_pipeline_spark.queries.llm import _emb_corpus
        from sales_data_pipeline_spark.operators.similarity import (
            DIM,
            kmeans_assign_hierarchical,
            semdedup_incremental,
            semdedup_state_sums,
            sql_norm,
        )

        base = _emb_corpus(spark, SF_DIR)
        batch = base.filter(F.col("vec_id") % 37 == 0)
        assign = kmeans_assign_hierarchical(
            base, "vec_id", "embedding", depth=1, branch=8
        )
        stored = assign.withColumn(
            "nrm", F.expr(sql_norm("embedding", DIM))
        )
        sums = semdedup_state_sums(stored)
        inline = sorted(
            tuple(r)
            for r in semdedup_incremental(
                base, batch, branch=8, assign=assign
            ).collect()
        )
        stored_path = sorted(
            tuple(r)
            for r in semdedup_incremental(
                base, batch, branch=8, assign=stored, leaf_sums=sums
            ).collect()
        )
        assert inline == stored_path
        assert len(inline) == batch.count()


class TestIncrementalScaledComposition:
    def test_equals_flat_incremental_at_one_level(self, spark):
        """semantic_dedup_incremental_scaled reduces EXACTLY to the
        flat incremental query when the auto-depth hierarchy fits one
        level — the equivalence that lets both certify against the
        same DuckDB oracle at the driver's gate scale."""
        from sales_data_pipeline_spark.queries.llm import (
            semantic_dedup_incremental,
            semantic_dedup_incremental_scaled,
        )

        flat = sorted(
            tuple(r)
            for r in semantic_dedup_incremental(spark, SF_DIR).collect()
        )
        hier = sorted(
            tuple(r)
            for r in semantic_dedup_incremental_scaled(
                spark, SF_DIR
            ).collect()
        )
        assert flat == hier


class TestEvalCorpusContract:
    def test_injected_pairs_exceed_threshold(self, spark):
        """The eval corpus's perturbation (per-component shift <= 3e-4)
        must keep every injected pair's rounded cosine >= 0.96 — that
        is what makes the injected set valid ground truth."""
        from sales_data_pipeline_spark.queries.llm import _emb_eval_corpus

        c = _emb_eval_corpus(spark, SF_DIR)
        a = c.filter(F.col("vec_id") < 300000).alias("a")
        b = c.filter(F.col("vec_id") >= 300000).select(
            (F.col("vec_id") - 300000).alias("vec_id"),
            F.col("embedding").alias("pemb"),
        ).alias("b")
        j = a.join(b, "vec_id")
        cs = F.floor(
            F.expr(similarity.sql_cosine("embedding", "pemb")) * 10000
            + F.lit(0.5)
        ) / 10000.0
        low = j.filter(cs < 0.96).count()
        n = j.count()
        assert n > 0
        assert low == 0


# the driver's certification scale, next to the module's default data
GATE_SF_DIR = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.01")


class TestProbeBatchParity:
    """The Spark batch generators against the DuckDB CTEs their oracles
    read, cell for cell. Every perturbed or fresh row's lambda reads
    vec_id, so a generator whose lambda binds vec_id to the re-aliased
    id (+300000, +400000, +500000) instead of the input column differs
    on every such row."""

    @staticmethod
    def _oracle_rows(cte_sql: str, name: str) -> list:
        from tests.oracle_harness import duckdb_connection

        con = duckdb_connection(GATE_SF_DIR)
        try:
            rows = con.execute(
                f"WITH {cte_sql} SELECT vec_id, embedding FROM {name}"
            ).fetchall()
        finally:
            con.close()
        return sorted((int(v), list(e)) for v, e in rows)

    @staticmethod
    def _spark_rows(df) -> list:
        return sorted(
            (int(r["vec_id"]), list(r["embedding"]))
            for r in df.select("vec_id", "embedding").collect()
        )

    def test_probe_batch_matches_batchq_cte(self, spark):
        from sales_data_pipeline_spark.queries.llm import (
            _SEMDEDUP_PROBE_BATCH_SQL,
            _semdedup_probe_batch,
        )

        got = self._spark_rows(_semdedup_probe_batch(spark, GATE_SF_DIR))
        want = self._oracle_rows(_SEMDEDUP_PROBE_BATCH_SQL, "batchq")
        assert any(v >= 500000 for v, _e in want)
        assert got == want

    def test_eval_corpus_matches_corpus_cte(self, spark):
        from sales_data_pipeline_spark.queries.llm import (
            _EMB_EVAL_CORPUS_SQL,
            _emb_eval_corpus,
        )

        got = self._spark_rows(_emb_eval_corpus(spark, GATE_SF_DIR))
        want = self._oracle_rows(_EMB_EVAL_CORPUS_SQL, "corpus")
        assert any(v >= 300000 for v, _e in want)
        assert got == want
