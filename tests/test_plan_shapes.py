"""Physical-plan regression tests: lock in the SCALE.md audit facts.

A catalog query that silently loses its filter pushdown, broadcasts a
side it shouldn't shuffle, or grows an extra Exchange still passes the
value-correctness oracle — these tests fail instead. Plan shape is
scale-invariant, so asserting it at sf0.001 pins the 100 TB behavior.
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    from sales_data_pipeline_spark.queries.base import load_all

    df = load_all()[name].fn(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def shuffles(plan: str) -> int:
    """Count shuffle Exchange nodes (BroadcastExchange excluded)."""
    return len(re.findall(r"\n\(\d+\) Exchange", plan))


class TestScanPushdown:
    def test_filters_reach_parquet_scan(self, spark):
        plan = plan_of(spark, "scan_filter_project")
        assert "PushedFilters" in plan
        assert "LessThan(l_shipdate" in plan
        assert "GreaterThan(l_quantity" in plan
        assert shuffles(plan) == 0

    def test_column_pruning(self, spark):
        plan = plan_of(spark, "scan_filter_project")
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        # 4 of lineitem's 11 columns — projection reached the scan
        assert len(m.group(1).split(",")) <= 4

    def test_disjunctive_cnf_pushdown_both_scans(self, spark):
        plan = plan_of(spark, "disjunctive_brand_revenue")
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        quantity_side = [p for p in pushed if "l_quantity" in p and "Or(" in p]
        part_side = [p for p in pushed if "p_brand" in p and "Or(" in p]
        assert quantity_side, pushed
        assert part_side, pushed


class TestJoinStrategy:
    def test_star_join_all_broadcast_no_shuffle(self, spark):
        plan = plan_of(spark, "star_join_enriched")
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
        assert shuffles(plan) == 0

    def test_gold_composite_single_shuffle(self, spark):
        plan = plan_of(spark, "gold_customer_metrics")
        assert "SortMergeJoin" not in plan
        assert shuffles(plan) == 1

    def test_anti_join_stays_distributed(self, spark):
        plan = plan_of(spark, "dormant_customer_balance")
        assert "LeftAnti" in plan
        # the 1-row threshold rides a broadcast, never a collect
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


class TestAggregation:
    def test_partial_aggregation_single_exchange(self, spark):
        plan = plan_of(spark, "agg_customer_metrics")
        assert shuffles(plan) == 1
        # partial + final pair: HashAggregate appears on both shuffle sides
        assert len(re.findall(r"HashAggregate", plan)) >= 2

    def test_topk_never_global_sorts(self, spark):
        for q in ("topk_customers", "shipping_priority_topk"):
            plan = plan_of(spark, q)
            assert "TakeOrderedAndProject" in plan, q
            assert "\n(\\d+) Sort " not in plan, q


class TestCorpusPrep:
    def test_chunking_and_pii_are_pure_projections(self, spark):
        # split/slice/regex must all fuse into the scan stage: a shuffle
        # here would mean per-document work stopped being scan-parallel
        for q in ("doc_chunk_overlap", "pii_redaction"):
            plan = plan_of(spark, q)
            assert shuffles(plan) == 0, q
            assert "BroadcastExchange" not in plan, q

    def test_sweep_line_partitions_by_day(self, spark):
        # peak concurrency must never need a single global order: the
        # running sum's Window is keyed on the day partition
        plan = plan_of(spark, "concurrent_events_daily_peak")
        assert "Window" in plan
        m = re.search(r"partitionBy.*day|windowspecdefinition\(day", plan)
        assert m or "day" in plan

    def test_zscore_moments_join_back_is_broadcast(self, spark):
        # the stats side is one row per group: it must broadcast, not
        # shuffle the full cents stream a second time
        plan = plan_of(spark, "zscore_outlier_counts")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestWindow:
    def test_window_dedup_one_shuffle(self, spark):
        plan = plan_of(spark, "dedup_keep_latest")
        assert shuffles(plan) == 1

    def test_rows_frame_one_shuffle(self, spark):
        plan = plan_of(spark, "moving_avg_rows_frame")
        assert "Window" in plan
        assert shuffles(plan) == 1


class TestDecisionSupportShapes:
    def test_late_shipment_residual_single_shuffle(self, spark):
        # non-equi date residual rides the equi join; shipdate range pushes
        plan = plan_of(spark, "late_shipment_priority")
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("GreaterThanOrEqual(l_shipdate" in p for p in pushed)
        assert shuffles(plan) == 1  # the groupBy; join broadcasts

    def test_product_profit_like_pushdown_single_shuffle(self, spark):
        plan = plan_of(spark, "product_profit_by_nation")
        assert "StringContains(p_name,widget)" in plan
        assert shuffles(plan) == 1  # all dims broadcast; only the groupBy

    def test_cheapest_supplier_two_aggregate_sized_shuffles(self, spark):
        plan = plan_of(spark, "cheapest_supplier_per_part")
        assert "Window" in plan
        assert shuffles(plan) == 2  # offers agg + window re-key, no 3rd

    def test_supplier_counts_not_in_as_broadcast_anti(self, spark):
        plan = plan_of(spark, "supplier_part_counts")
        assert "LeftAnti" in plan
        assert "TakeOrderedAndProject" in plan
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("Not(EqualTo(p_brand" in p for p in pushed)
        assert any("In(p_size" in p for p in pushed)

    def test_waiting_suppliers_decorrelated_no_cartesian(self, spark):
        # EXISTS/NOT EXISTS decorrelation must never plan a nested loop
        plan = plan_of(spark, "waiting_orders_suppliers")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan
        # the r4 two-level-aggregate form: the fact table is scanned
        # ONCE (textbook Q21 scans it three times) and no distinct
        # aggregate forces an Expand replication
        assert plan.count("lineitem.parquet") == 1, plan
        assert "Expand" not in plan

    def test_q17_q18_single_fact_scan(self, spark):
        # r4 rewrites: Q17's per-part threshold rides a partitioned
        # window (not an aggregate-and-join-back), Q18's HAVING sum IS
        # the output sum — both must scan lineitem exactly once
        for name in (
            "small_quantity_revenue",
            "large_volume_orders",
            "dominant_volume_suppliers",
        ):
            plan = plan_of(spark, name)
            assert plan.count("lineitem.parquet") == 1, (name, plan[:400])


class TestRuntimeFilters:
    def test_bloom_filter_injected_into_shuffle_join(self, spark):
        """When a selective dim side can't broadcast, Spark injects a
        runtime Bloom filter that prunes the fact side BEFORE the
        shuffle — the 100 TB posture for selective shuffle joins. Pin
        that the optimizer actually does it (thresholds lowered so the
        sf0.001 inputs qualify; plan shape is scale-invariant)."""
        from pyspark.sql import functions as F

        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            j = (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority")
                .count()
            )
            phys = j._jdf.queryExecution().executedPlan().toString()
            assert "might_contain" in phys.lower(), phys[:2000]
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _const_bucket_window_keys(plan: str) -> list[str]:
    """Window partition keys that are constant `expr % 1` buckets.

    Catalyst projects a computed partition key into an internal `_wN#M`
    attribute, so trace `... % 1) AS _wN#M` definitions to the
    windowspecdefinition that uses them; also match the rare un-projected
    `windowspecdefinition((expr % 1), ...)` form. ordered_scan's
    `__ds_pid % 1` offsets frame is structurally sanctioned.

    Run this on the OPTIMIZED LOGICAL plan string: the physical
    toString hides the `_wN` definition when it folds into a
    HashAggregate's result expressions (e.g. ewma_daily_revenue)."""
    defs = re.findall(r"([^,\[\n]{0,120}% 1\) AS (_w\d+#\d+L?))", plan)
    const_attrs = {attr for ctx, attr in defs if "__ds_pid" not in ctx}
    hits = [
        a
        for a in sorted(const_attrs)
        if re.search(r"windowspecdefinition\(" + re.escape(a) + r"[,)]", plan)
    ]
    hits += [
        h
        for h in re.findall(r"windowspecdefinition\((\([^\n]{0,120}?% 1\))", plan)
        if "__ds_pid" not in h
    ]
    return sorted(set(hits))


class TestNoGlobalWindows:
    # Single-task windows whose input is provably bounded (constant
    # w.r.t. corpus size). These carry an explicit non-foldable
    # single-bucket partition key (`expr % 1`) so the plan states the
    # intent, AND must be audited here — the gate pattern-matches the
    # `% 1` key, so a new query cannot silence it without showing up
    # in this list. Audit trail:
    #   ewma_daily_revenue      — input is the per-day aggregate
    #                             (calendar-bounded, <= a few k rows)
    #   rolling_zscore_anomaly  — same per-day aggregate spine
    #   revenue_mom_growth      — per-month aggregate spine
    #   hybrid_search_rrf       — both rankers sit on limit(50) results
    #   incremental_token_quantiles — cumulative window runs over the
    #                             MERGED histogram-bin table (bounded
    #                             by max_tokens/bin_width rows, an
    #                             aggregate spine — never data rows)
    #   token_zipf_fit          — ranking window sits on the
    #                             TakeOrderedAndProject(limit=100)
    #                             vocabulary head (constant-sized at
    #                             any corpus scale)
    BOUNDED_INPUT_OK: set[str] = {
        "ewma_daily_revenue",
        "rolling_zscore_anomaly",
        "revenue_mom_growth",
        "hybrid_search_rrf",
        "incremental_token_quantiles",
        "token_zipf_fit",
    }

    def test_catalog_free_of_unbounded_global_windows(self, spark):
        """A window with no PARTITION BY plans as a single-partition
        WindowExec — every row through one task, the classic scale
        killer. A constant-valued partition key (`expr % 1`) is the
        same single task wearing a disguise, so it counts too.
        Catalog-wide: any such window must be over bounded input
        (allowlisted above with an audit note) or over the
        <=num_partitions offsets frame of
        operators/distributed.ordered_scan (__ds_pid)."""
        from sales_data_pipeline_spark.queries.base import load_all

        skip = {"dedup_cluster_assign", "dedup_cluster_size_histogram",
                "knn_ivf_probe", "ivf_centroid_assign"}
        offenders = {}
        unaudited = {}
        for name, spec in sorted(load_all().items()):
            if "streaming" in spec.tags or name in skip:
                continue
            plan = (
                spec.fn(spark, SF_DIR)
                ._jdf.queryExecution()
                .optimizedPlan()
                .toString()
            )
            # truly empty PARTITION BY: first windowspec element is the
            # ORDER BY column
            bare = re.findall(
                r"windowspecdefinition\(([A-Za-z_][\w.]*#\d+L?) (?:ASC|DESC)",
                plan,
            )
            bare = [h for h in bare if not h.startswith("__ds_pid")]
            if bare and name not in self.BOUNDED_INPUT_OK:
                offenders[name] = sorted(set(bare))
            const_key = _const_bucket_window_keys(plan)
            if const_key and name not in self.BOUNDED_INPUT_OK:
                unaudited[name] = const_key
        assert not offenders, f"unbounded global windows in: {offenders}"
        assert not unaudited, (
            "single-bucket (% 1) windows not in the BOUNDED_INPUT_OK "
            f"audit list: {unaudited}"
        )

    def test_bounded_allowlist_has_no_strays(self, spark):
        """Every BOUNDED_INPUT_OK entry must still contain a bounded
        single-task window — a stale allowlist row is a hole."""
        from sales_data_pipeline_spark.queries.base import load_all

        registry = load_all()
        for name in sorted(self.BOUNDED_INPUT_OK):
            plan = (
                registry[name]
                .fn(spark, SF_DIR)
                ._jdf.queryExecution()
                .optimizedPlan()
                .toString()
            )
            assert _const_bucket_window_keys(plan) or re.search(
                r"windowspecdefinition\([A-Za-z_][\w.]*#\d+L? (?:ASC|DESC)",
                plan,
            ), f"{name} no longer has a bounded window; remove from allowlist"

    def test_hybrid_rrf_ranks_over_limits(self, spark):
        """Both ranking windows must sit directly on a
        TakeOrderedAndProject(limit=50) — the fix for the round-1
        global-row_number plan."""
        from sales_data_pipeline_spark.queries.base import load_all

        plan = (
            load_all()["hybrid_search_rrf"]
            .fn(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("TakeOrderedAndProject(limit=50") == 2, plan[:3000]

    def test_distributed_rank_queries_use_range_partitioning(self, spark):
        for q in ("ntile_customer_quartiles", "revenue_pareto_curve"):
            plan = plan_of(spark, q)
            assert "rangepartitioning" in plan, q
            # the only unpartitioned window is the per-partition offsets
            hits = re.findall(
                r"windowspecdefinition\(([A-Za-z_][\w.]*#\d+L?) (?:ASC|DESC)",
                plan,
            )
            assert all(h.startswith("__ds_pid") for h in hits), (q, hits)


class TestNoPythonOnHotPath:
    def test_catalog_plans_free_of_row_udfs(self, spark):
        """SURVEY §2.11: the engine keeps the no-UDF discipline. Every
        batch catalog query must plan without BatchEvalPython (a
        row-at-a-time Python UDF would break whole-stage codegen and
        cost 10-100x at scale). Arrow-batched MapInPandas is sanctioned
        for the multimodal codec boundary only."""
        from sales_data_pipeline_spark.queries.base import load_all

        # streaming queries execute on build; the iterative CC loop and
        # IVF training run driver-coordinated jobs — plan-shape for
        # those is covered by their own tests
        skip = {"dedup_cluster_assign", "dedup_cluster_size_histogram",
                "knn_ivf_probe", "ivf_centroid_assign"}
        arrow_ok = {"multimodal_decode_meta", "multimodal_resize_meta",
                    "multimodal_feature_extract", "multimodal_frame_sample",
                    "multimodal_audio_energy",
                    # composes the sanctioned frame-energy codec op
                    "audio_silence_segments",
                    # zlib is native-library territory like the codecs
                    "text_compression_ratio",
                    # sequential per-key state (emit-then-suppress chain)
                    # is the other sanctioned Arrow surface: a sorted
                    # per-partition mapInPandas fold
                    "throttle_events_24h",
                    # round-11 codec-boundary additions: WAV header
                    # decode and the dHash decode+hash pass (the
                    # banded Hamming join downstream is pure JVM)
                    "multimodal_wav_meta", "image_phash_dedup",
                    # round-12: same dHash codec boundary feeding the
                    # sig-level CC (labels come from a checkpointed
                    # LogicalRDD; the membership joins are pure JVM)
                    "image_phash_clusters"}
        offenders, arrow_misuse = [], []
        for name, spec in sorted(load_all().items()):
            if "streaming" in spec.tags or name in skip:
                continue
            plan = spec.fn(spark, SF_DIR)._jdf.queryExecution() \
                .explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("simple")
                )
            if "BatchEvalPython" in plan:
                offenders.append(name)
            if ("MapInPandas" in plan or "ArrowEvalPython" in plan) \
                    and name not in arrow_ok:
                arrow_misuse.append(name)
        assert not offenders, f"row-at-a-time Python UDFs in: {offenders}"
        assert not arrow_misuse, f"unsanctioned Arrow UDFs in: {arrow_misuse}"


# Nodes a 1-row relation may legally pass through between a BNLJ and
# its defining global aggregate (AQE stages and cached relations are
# entered through plan_audit.phys_kids).
_PASSTHROUGH = (
    "BroadcastExchange", "Filter",
    "Project", "ColumnarToRow", "InputAdapter",
    "WholeStageCodegen", "Sort", "Exchange",
    "AQEShuffleRead", "BroadcastQueryStage", "ShuffleQueryStage",
    "TableCacheQueryStage", "InMemoryTableScan",
)
_AGGS = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def scalar_build_violation(bnlj) -> str | None:
    """None when a BNLJ's build side is a whole-relation broadcast of a
    global aggregate; else a short reason."""
    from sales_data_pipeline_spark import plan_audit as pa

    idx = 1 if "Right" in str(bnlj.buildSide()) else 0
    cur = bnlj.children().apply(idx)
    saw_identity = False
    while True:
        nm = cur.nodeName()
        if nm.startswith("BroadcastExchange"):
            if "IdentityBroadcastMode" not in str(cur.mode()):
                return f"non-identity broadcast mode: {cur.mode()}"
            saw_identity = True
        elif nm.startswith(_AGGS):
            if cur.groupingExpressions().isEmpty():
                return (
                    None if saw_identity
                    else "global agg but no IdentityBroadcastMode"
                )
            return f"keyed aggregate on build side: {nm}"
        elif not nm.startswith(_PASSTHROUGH):
            return f"non-aggregate build relation: {nm}"
        kids = pa.phys_kids(cur)
        if len(kids) != 1:
            return f"build chain ends at {nm} ({len(kids)} kids)"
        cur = kids[0]


def cartesian_gate(spark, registry, sf_dir):
    """(queries planning a CartesianProduct, non-scalar BNLJ findings)
    over every executed plan, cached subplans included."""
    from sales_data_pipeline_spark import plan_audit as pa
    from sales_data_pipeline_spark.queries.base import release_persisted

    offenders, bnlj_offenders = [], []
    for name, spec in sorted(registry.items()):
        root = spec.fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        for node in pa.phys_walk(root):
            nm = node.nodeName()
            if nm.startswith("CartesianProduct"):
                offenders.append(name)
            elif nm.startswith("BroadcastNestedLoopJoin"):
                why = scalar_build_violation(node)
                if why is not None:
                    bnlj_offenders.append(f"{name}: {why}")
        release_persisted()
    return offenders, bnlj_offenders


class TestRound3Additions:
    def test_catalog_free_of_cartesian_products(self, spark):
        """Catalog-wide: no query may plan a physical CartesianProduct.
        The deliberate scalar join-backs (1-row aggregate cross joins)
        plan as BroadcastNestedLoopJoin with a single-row build side —
        constant cost; CartesianProductExec is the O(n*m) shuffle-both-
        sides node that must never appear. Same pass also verifies the
        BNLJ-scalar claim PLAN_CENSUS.md publishes: every
        BroadcastNestedLoopJoin build is an IdentityBroadcastMode
        exchange (whole-relation broadcast, as 1-row scalars use) and
        whose topmost aggregate is global (no grouping keys) — a keyed
        BNLJ or one broadcasting a real table would break it. Checked
        PER JOIN by walking each BNLJ's build subtree (a plan-wide token
        count would pass one scalar BNLJ masking a keyed one)."""
        from sales_data_pipeline_spark.queries.base import load_all

        # (the one-time skip list for the CC/IVF iterative queries is
        # gone: their current plans carry zero CartesianProduct/BNLJ at
        # this SF_DIR, so they face the same gate as everything else)
        registry = {
            n: s for n, s in load_all().items() if "streaming" not in s.tags
        }
        offenders, bnlj_offenders = cartesian_gate(spark, registry, SF_DIR)
        assert not offenders, f"CartesianProduct in: {offenders}"
        assert not bnlj_offenders, (
            f"non-scalar BroadcastNestedLoopJoin in: {bnlj_offenders}"
        )

    def test_source_top_tokens_two_level_topk(self, spark):
        """The per-source rank must never see a source's full
        vocabulary: a bucketed partial top-3 (source, hash(word)%64)
        feeds a merge window over <=192 candidates per source — two
        Window nodes, the first keyed on the salt bucket."""
        plan = plan_of(spark, "source_top_tokens")
        assert plan.count("Window") >= 2, plan
        assert re.search(r"pmod\(xxhash64\(word", plan), plan


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


class TestRound2Additions:
    def test_gopher_filter_zero_shuffles(self, spark):
        plan = plan_of(spark, "gopher_quality_filter")
        assert shuffles(plan) == 0
        assert "BroadcastExchange" not in plan

    def test_mixture_resample_doc_side_never_shuffles(self, spark):
        """Per-source stats and totals join back as broadcasts; the only
        shuffle Exchanges are aggregate-sized (per-source partials and
        the 1-row totals), never the document rows."""
        plan = plan_of(spark, "mixture_resample_plan")
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 1
        assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross join
        # shuffles: per-source agg + countDistinct's two-phase pair +
        # the final per-source re-agg — all aggregate-sized
        assert shuffles(plan) <= 4, plan

    def test_unigram_vocab_broadcasts(self, spark):
        plan = plan_of(spark, "unigram_logprob_scores")
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 1

    def test_stats_moments_single_shuffle(self, spark):
        plan = plan_of(spark, "stats_price_quantity_moments")
        assert shuffles(plan) == 1  # one partial-agg exchange
        assert "partial" in plan.lower()

    def test_embedding_dim_variance_single_shuffle(self, spark):
        plan = plan_of(spark, "embedding_dim_variance")
        assert shuffles(plan) == 1

    def test_cross_doc_repetition_partial_agg_only(self, spark):
        """shared = total - unique-to-doc: every gram-keyed stage is a
        hash aggregation with map-side partial combine (a boilerplate
        gram collapses per map partition), never a window over the gram
        partition and never a gram-keyed join — the only join is
        doc-keyed between two doc-cardinality aggregates."""
        plan = plan_of(spark, "cross_doc_ngram_repetition")
        assert "Window" not in plan, plan
        # gram-keyed stages are aggregations (partial+final pairs)
        assert len(re.findall(r"HashAggregate", plan)) >= 4, plan
        # the sole join is doc-keyed between doc-cardinality aggregates
        joins = re.findall(r"Join", plan)
        keys = re.findall(r"Left keys \[\d+\]: \[(\w+)", plan)
        assert keys and all(k.startswith("doc_id") for k in keys), (
            keys, joins)


class TestBroadcastScaleGate:
    """Catalog-wide 100x broadcast invariant (round-6): with every size
    gate forced shut, no query's optimized plan may carry a
    strategy=broadcast hint whose hinted subtree is an unbounded
    scaling relation, unless a scale.bounded_broadcast call declared
    the domain fact that bounds it. The full two-pass audit (incl. the
    physical census at the sf10 paths) is tools/broadcast_audit.py; this
    test enforces the cheap logical pass on every pytest run."""

    def test_no_forced_unbounded_scaling_hints(self, spark):
        from sales_data_pipeline_spark import plan_audit as pa
        from sales_data_pipeline_spark.queries.base import load_all

        registry = {
            n: s for n, s in load_all().items()
            if "streaming" not in s.tags
        }
        forced, reviewed = pa.forced_hint_audit(spark, registry, SF_DIR)
        assert not forced, f"ungated F.broadcast of scaling data: {forced}"
        # every accepted finding carries its call site's written reason
        assert reviewed and all(f["reason"] for f in reviewed), reviewed

    def test_gate_drops_hint_past_cap(self, spark, monkeypatch):
        """star_join_enriched: with the default cap the customer join
        carries a broadcast hint; with the gate forced shut it carries
        none (nation/region are unhinted — Catalyst broadcasts them by
        size), so the hint count drops by exactly one."""
        from sales_data_pipeline_spark import scale
        from sales_data_pipeline_spark.queries.base import load_all

        def hints(df):
            txt = df._jdf.queryExecution().optimizedPlan().toString()
            return txt.count("strategy=broadcast")

        fn = load_all()["star_join_enriched"].fn
        default = hints(fn(spark, SF_DIR))
        monkeypatch.setattr(scale, "DIM_BROADCAST_CAP", 0)
        shut = hints(fn(spark, SF_DIR))
        assert default == shut + 1, (default, shut)


class TestCachedSubplans:
    """Both plan gates enter cached subplans: a scoped_persist makes a
    subplan an InMemoryRelation leaf to Spark, but the plan it caches
    runs like any other and must meet the same broadcast policy."""

    def test_keyed_scaling_broadcast_under_persist_fails_both_gates(
        self, spark
    ):
        from types import SimpleNamespace

        from pyspark.sql import functions as F

        from sales_data_pipeline_spark import plan_audit as pa
        from sales_data_pipeline_spark.caching import scoped_persist
        from sales_data_pipeline_spark.queries.base import table

        def planted(spark, sf_dir):
            per_cust = table(spark, sf_dir, "customer").groupBy(
                "c_custkey"
            ).agg(F.count("*").alias("n"))
            inner = scoped_persist(
                table(spark, sf_dir, "orders").crossJoin(
                    F.broadcast(per_cust)
                )
            )
            return inner.agg(F.sum("n").alias("s"))

        registry = {"planted": SimpleNamespace(fn=planted, tags=())}
        _, bnlj = cartesian_gate(spark, registry, SF_DIR)
        assert any("keyed aggregate" in b for b in bnlj), bnlj
        forced, reviewed = pa.forced_hint_audit(spark, registry, SF_DIR)
        assert [f["tables"] for f in forced] == [["customer"]], forced
        assert not reviewed


class TestOneBroadcastPolicy:
    """Source-level: every broadcast hint in the package is made in
    scale.py (gated_broadcast or bounded_broadcast), and every
    bounded_broadcast states its reason as a string literal at the
    call site."""

    HINTS = {"broadcast", "broadcastjoin", "mapjoin"}
    SQL_HINT = re.compile(r"/\*\+.*\b(BROADCAST|BROADCASTJOIN|MAPJOIN)\b",
                          re.IGNORECASE | re.DOTALL)

    def _violations(self, path, tree):
        import ast

        out = []
        in_scale = path.name == "scale.py"
        for node in ast.walk(tree):
            where = f"{path}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if self.SQL_HINT.search(node.value):
                    out.append(f"{where}: broadcast hint in a SQL string")
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else (
                fn.id if isinstance(fn, ast.Name) else None
            )
            if name == "broadcast" and not in_scale and (
                isinstance(fn, ast.Name)
                or (isinstance(fn.value, ast.Name)
                    and fn.value.id in ("F", "functions"))
            ):
                out.append(f"{where}: raw broadcast hint")
            if (name == "hint" and not in_scale and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and str(node.args[0].value).lower() in self.HINTS):
                out.append(f"{where}: .hint({node.args[0].value!r})")
            if name == "bounded_broadcast":
                reason = node.args[1] if len(node.args) > 1 else next(
                    (k.value for k in node.keywords if k.arg == "reason"),
                    None,
                )
                if not (isinstance(reason, ast.Constant)
                        and isinstance(reason.value, str)
                        and reason.value.strip()):
                    out.append(f"{where}: bounded_broadcast without a "
                               "string-literal reason")
        return out

    def test_hints_only_through_scale(self):
        import ast
        import pathlib

        import sales_data_pipeline_spark

        pkg = pathlib.Path(sales_data_pipeline_spark.__file__).parent
        bad = []
        for path in sorted(pkg.rglob("*.py")):
            tree = ast.parse(path.read_text(), str(path))
            bad += self._violations(path.relative_to(pkg), tree)
        assert not bad, bad

    def test_checker_catches_each_form(self):
        import ast
        import pathlib

        src = (
            "a = x.join(F.broadcast(y), 'k')\n"
            "b = y.hint('MAPJOIN')\n"
            "c = spark.sql('SELECT /*+ BROADCAST(t) */ * FROM t')\n"
            "d = bounded_broadcast(y, why)\n"
            "e = bounded_broadcast(y, '  ')\n"
            "f = bounded_broadcast(y, 'one row per source: fixed enum')\n"
            "g = y.hint('merge')\n"
        )
        bad = self._violations(pathlib.Path("q.py"), ast.parse(src))
        lines = sorted({int(b.split(":")[1]) for b in bad})
        assert lines == [1, 2, 3, 4, 5], bad
