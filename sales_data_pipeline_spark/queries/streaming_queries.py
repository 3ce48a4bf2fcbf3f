"""Streaming catalog queries: real Structured Streaming runs
(readStream -> windowed agg -> Trigger.AvailableNow -> memory sink)
whose final results are deterministic batch-equivalent aggregates, so
they CAN be oracle-checked against plain SQL over the same events.

Also the batch twin of session windows (F.session_window) with a
gaps-and-islands oracle — same semantics the stateful streaming
sessionizer (streaming/stateful.py) produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_spark.queries.base import query, table
from sales_data_pipeline_spark.streaming import ingest, stateful


@query(
    "streaming_tumbling_counts",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    survey="streaming-ext: tumbling windows (streaming/ingest.py)",
    doc="Actual Structured Streaming run: readStream(parquet) -> "
    "withWatermark(5m) -> 1h tumbling window counts/sums -> "
    "Trigger.AvailableNow -> memory sink. Complete mode makes the "
    "final state batch-equivalent, hence SQL-checkable.",
    tags=("streaming",),
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = ingest.read_events_stream(spark, sf_dir)
    agg = ingest.tumbling_agg(events, window="1 hour", watermark="5 minutes")
    return ingest.run_available_now(
        agg, ingest.unique_sink_name("tumbling_counts")
    )


@query(
    "streaming_sliding_windows",
    oracle="""
        SELECT window_start, CAST(count(*) AS BIGINT) AS n
        FROM (
          SELECT e.ts,
                 unnest(generate_series(
                   date_trunc('hour', e.ts)
                     + CASE WHEN extract(minute FROM e.ts) >= 30
                            THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                     - INTERVAL 90 MINUTE,
                   date_trunc('hour', e.ts)
                     + CASE WHEN extract(minute FROM e.ts) >= 30
                            THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END,
                   INTERVAL 30 MINUTE)) AS window_start
          FROM events e
        ) t
        GROUP BY 1
    """,
    survey="streaming-ext: sliding windows (streaming/ingest.py)",
    doc="Structured Streaming 2h windows sliding every 30m (each event "
    "lands in 4 windows); oracle expands the same window set with "
    "generate_series.",
    tags=("streaming",),
)
def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = ingest.read_events_stream(spark, sf_dir)
    agg = ingest.sliding_agg(
        events, window="2 hours", slide="30 minutes", watermark="5 minutes"
    )
    return ingest.run_available_now(
        agg, ingest.unique_sink_name("sliding_windows")
    )


@query(
    "session_window_agg",
    oracle="""
        WITH marked AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        > INTERVAL 30 MINUTE
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM events
        ),
        numbered AS (
          SELECT user_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
          FROM marked
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM numbered
        GROUP BY user_id, session_no
    """,
    survey="streaming-ext: session windows (W-gap sessionization; "
    "stateful twin in streaming/stateful.py)",
    doc="F.session_window(ts, 30m) per user: session end = last event + "
    "gap. Oracle derives identical sessions via gaps-and-islands.",
    tags=("streaming",),
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "streaming_stateful_sessionize",
    # The state machine's OUTPUT is gaps-and-islands sessionization
    # plus the event-time-timeout emission rule, both SQL-expressible:
    # sessions split on >30min µs gaps; the last (still-open) session
    # of each user emits only if its timeout (end_ms + gap_ms, set
    # while the watermark was still 0 in the single availableNow data
    # batch) is strictly below the final watermark (max_ts_ms −
    # gap_ms) — i.e. end < max − 2·gap at ms granularity. Verified
    # exact against the operator at sf0.001/0.01/0.1.
    oracle="""
        WITH e AS (SELECT user_id, epoch_us(ts) AS t_us FROM events),
        mx AS (SELECT max(t_us) AS mx_us FROM e),
        s AS (SELECT user_id, t_us,
                     lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
                       AS prev_us
              FROM e),
        g AS (SELECT user_id, t_us,
                     SUM(CASE WHEN prev_us IS NULL
                              OR t_us - prev_us > 1800000000
                         THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY t_us
                             ROWS UNBOUNDED PRECEDING) AS sid
              FROM s),
        sess AS (SELECT user_id, sid,
                        min(t_us) AS start_us, max(t_us) AS end_us,
                        CAST(count(*) AS BIGINT) AS n_events,
                        max(sid) OVER (PARTITION BY user_id) AS last_sid
                 FROM g GROUP BY user_id, sid)
        SELECT user_id, make_timestamp(start_us) AS session_start,
               make_timestamp(end_us) AS session_end, n_events
        FROM sess, mx
        WHERE sid < last_sid
           OR (end_us // 1000 + 1800000) < (mx_us // 1000 - 1800000)
    """,
    survey="streaming-ext: applyInPandasWithState (streaming/stateful.py)",
    doc="Custom per-key state machine (Arrow-batched "
    "applyInPandasWithState): per-user session accumulation with "
    "event-time timeout. Sessions close on in-batch gaps or when the "
    "final no-data batch's watermark passes their gap horizon; only "
    "sessions still within one gap of stream end stay open "
    "(append-mode semantics). r4: upgraded from a rows-only check to "
    "a full hash-exact oracle — the emitted session set is the "
    "deterministic function of the input described above, so the "
    "stateful operator is held to the same bar as the batch queries.",
    tags=("streaming",),
)
def streaming_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = ingest.read_events_stream(spark, sf_dir)
    sessions = stateful.sessionize_stream(events, gap_minutes=30)
    name = ingest.unique_sink_name("stateful_sessions")
    # Unlike the setup-bound joins/aggs (8 partitions), the Pandas
    # state fn does real per-row Python work — but only once each
    # partition carries enough rows to amortize its state-store +
    # Python-worker setup (8 partitions measured 20.0 s at sf1 vs
    # 9.5 s at core count; at sf0.1 the ratio INVERTS). The count is
    # data-adaptive: rows/30k, floored at 8, capped at core count.
    with ingest.bounded_state_partitions(
        spark, n=ingest.adaptive_state_partitions(spark, sf_dir)
    ):
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@query(
    "streaming_static_join",
    oracle="""
        SELECT c_mktsegment AS segment, event_type,
               CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """,
    survey="streaming-ext: stream-static enrichment join (the streaming "
    "form of the gold star join J2)",
    doc="Structured Streaming events joined to the static customer "
    "dimension (stream-static inner join is stateless — the dim is "
    "broadcast per micro-batch, no state store), then a complete-mode "
    "windowless aggregate by segment and type. Batch-equivalent at "
    "end-of-input, hence SQL-checkable.",
    tags=("streaming",),
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ingest.read_events_stream(spark, sf_dir)
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    agg = (
        joined.groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("value_cents"),
        )
        .select(
            "segment",
            "event_type",
            "n",
            (F.col("value_cents") / 100.0).alias("total_value"),
        )
    )
    return ingest.run_available_now(
        agg, ingest.unique_sink_name("static_join")
    )


@query(
    "streaming_dedup_events",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_value
        FROM events
        GROUP BY event_type
    """,
    survey="streaming-ext: stateful exactly-once dedup "
    "(withWatermark + dropDuplicates — the streaming form of the "
    "watermark buffer idempotency requirement, SURVEY §7.4 #7)",
    doc="The event stream unioned with itself (every event arrives "
    "twice — the at-least-once delivery scenario) then deduplicated on "
    "event_id with a 5-minute watermark bounding the dedup state, then "
    "aggregated. The oracle is the SINGLE-copy aggregate: it matches "
    "only if the stateful dedup dropped every duplicate.",
    tags=("streaming",),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = ingest.read_events_stream(spark, sf_dir)
    s2 = ingest.read_events_stream(spark, sf_dir)
    deduped = (
        s1.unionByName(s2)
        .withWatermark("ts", "5 minutes")
        .dropDuplicates(["event_id"])
    )
    agg = (
        deduped.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("value_cents"),
        )
        .select(
            "event_type",
            "n",
            (F.col("value_cents") / 100.0).alias("total_value"),
        )
    )
    # large_state: dedup state = one entry per distinct event_id —
    # grows with the corpus (heap store OOMed at the sf10 spot-check)
    return ingest.run_available_now(
        agg, ingest.unique_sink_name("dedup_events"), large_state=True
    )


@query(
    "streaming_stream_join",
    oracle="""
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id,
               CAST(FLOOR(EXTRACT(epoch FROM p.ts))
                    - FLOOR(EXTRACT(epoch FROM c.ts)) AS BIGINT) AS lag_secs,
               FLOOR(p.value * 100 + 0.5) / 100.0 AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    survey="streaming-ext: stream-stream interval join (the remaining "
    "Structured Streaming join mode — stream-static is covered by "
    "streaming_static_join)",
    doc="Two file-source streams (clicks, purchases) inner-joined on "
    "user with a 1-hour event-time band. Both sides are watermarked "
    "and the condition bounds time in both directions, so join state "
    "expires at the watermark horizon (bounded memory at any stream "
    "length); inner joins emit on match with no holdback, so the "
    "AvailableNow end state is batch-equivalent and the DuckDB oracle "
    "is the plain interval join. Epoch lag uses floored integer "
    "seconds (micros truncate identically cross-engine).",
    tags=("streaming",),
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ingest.read_events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("l_ts"),
        F.col("user_id").alias("l_user_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("r_ts"),
        F.col("user_id").alias("r_user_id"),
        F.col("value"),
    )
    joined = ingest.interval_join_stream(clicks, purchases).select(
        "click_id",
        "purchase_id",
        F.col("l_user_id").alias("user_id"),
        (
            F.unix_timestamp(F.col("r_ts").cast("timestamp"))
            - F.unix_timestamp(F.col("l_ts").cast("timestamp"))
        ).alias("lag_secs"),
        (F.floor(F.col("value") * 100 + F.lit(0.5)) / 100.0).alias(
            "purchase_value"
        ),
    )
    with ingest.bounded_state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(ingest.unique_sink_name("stream_join"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(q.name)


@query(
    "streaming_dedup_within_watermark",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_value
        FROM events
        GROUP BY event_type
    """,
    survey="streaming-ext: bounded-state dedup across retries "
    "(dropDuplicatesWithinWatermark — duplicates whose event times "
    "DIFFER, the case plain dropDuplicates keys cannot bound)",
    doc="At-least-once delivery where the retry arrives 30 seconds "
    "later with a RE-STAMPED event time — so (event_id, ts) dedup "
    "would keep both copies, and ts-less dropDuplicates state relies "
    "on the first-seen timestamp alone. dropDuplicatesWithinWatermark "
    "guarantees single delivery for duplicates arriving within the "
    "watermark delay of each other while evicting state as the "
    "watermark advances — the 100 TB answer for retry storms: state "
    "is O(events in the delay horizon), not O(all event ids ever). "
    "The oracle is the single-copy aggregate; value totals match "
    "only if every re-stamped duplicate was dropped.",
    tags=("streaming",),
)
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    s1 = ingest.read_events_stream(spark, sf_dir)
    retry = ingest.read_events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 30 SECONDS")
    )
    deduped = (
        s1.unionByName(retry)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = (
        deduped.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("value_cents"),
        )
        .select(
            "event_type",
            "n",
            (F.col("value_cents") / 100.0).alias("total_value"),
        )
    )
    # large_state: within-watermark dedup state is horizon-bounded in
    # TIME but grows with in-horizon volume — corpus-scaling here
    return ingest.run_available_now(
        agg, ingest.unique_sink_name("dedup_within_wm"), large_state=True
    )


@query(
    "streaming_stream_left_join",
    oracle="""
        WITH wm AS (
          SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
          ) - INTERVAL 5 MINUTE AS final_wm
        )
        SELECT c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.user_id,
               FLOOR(p.value * 100 + 0.5) / 100.0 AS purchase_value
        FROM events c
        LEFT JOIN events p
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        CROSS JOIN wm
        WHERE c.event_type = 'click'
          AND (p.event_id IS NOT NULL
               OR c.ts + INTERVAL 1 HOUR < final_wm)
    """,
    survey="streaming-ext: stream-stream LEFT OUTER interval join "
    "(watermark-gated NULL emission — the join mode inner joins "
    "don't cover)",
    doc="Clicks left-joined to purchases within an hour: matches emit "
    "immediately; a click with no purchase emits with NULLs only "
    "once the watermark proves no match can ever arrive. The oracle "
    "encodes Spark's eviction rule explicitly — final watermark = "
    "min(max event time per side) - delay, and unmatched clicks "
    "whose 1-hour horizon is still inside it stay withheld — so the "
    "compare verifies the STREAMING semantics (bounded state + "
    "correct holdback), not just the batch join. Microsecond-random "
    "event times keep the boundary comparison collision-free.",
    tags=("streaming",),
)
def streaming_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ingest.read_events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("l_ts"),
        F.col("user_id").alias("l_user_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("r_ts"),
        F.col("user_id").alias("r_user_id"),
        F.col("value"),
    )
    joined = ingest.interval_join_stream(
        clicks, purchases, how="left_outer"
    ).select(
        "click_id",
        "purchase_id",
        F.col("l_user_id").alias("user_id"),
        (F.floor(F.col("value") * 100 + F.lit(0.5)) / 100.0).alias(
            "purchase_value"
        ),
    )
    with ingest.bounded_state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(ingest.unique_sink_name("stream_left_join"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(q.name)


@query(
    "streaming_foreach_batch_upsert",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
                 AS total_value
        FROM events
        GROUP BY user_id
    """,
    survey="streaming-ext: foreachBatch incremental gold upsert",
    doc="The production stream->gold maintenance pattern: the events "
    "table is staged as multiple files, streamed with maxFilesPerTrigger"
    "=1 under Trigger.AvailableNow (so the run really processes several "
    "micro-batches), and each batch's partial aggregate is MERGED into "
    "a keyed gold store inside foreachBatch — read current store, "
    "full-outer combine on user_id, write next version (ping-pong "
    "directories; on a real lake this is a Delta/Iceberg MERGE or "
    "dynamic partition overwrite keyed by user bucket). Merge math is "
    "associative integer cents, so the final store equals the one-shot "
    "batch aggregate regardless of batch boundaries — which is exactly "
    "what the oracle checks. State never touches the driver; each merge "
    "is a keyed shuffle of store+batch partials.",
    tags=("streaming",),
)
def streaming_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sales_data_pipeline_spark.workdir import materialized, run_dir

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "value"
    )
    # the staged source is a pure function of the input table — built
    # once, reused (round-9 advisor /tmp-growth fix); the checkpoint /
    # ping-pong gold versions are per-invocation state and live in a
    # fresh run_dir (previous invocation's dir is reclaimed)
    stage_root = materialized(
        "febatch_stage",
        sf_dir,
        # 4 files -> 4 micro-batches under maxFilesPerTrigger=1
        lambda path: src.repartition(4).write.parquet(f"{path}/stage"),
    )
    stage = f"{stage_root}/stage"
    work = run_dir("febatch", sf_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    versions = {"i": 0}

    def merge_batch(batch: DataFrame, _epoch: int) -> None:
        part = batch.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents"),
        )
        cur = versions["i"]
        if cur > 0:
            prev = batch.sparkSession.read.parquet(f"{work}/gold_v{cur}")
            part = (
                prev.unionByName(part)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("cents").alias("cents"),
                )
            )
        versions["i"] = cur + 1
        part.write.parquet(f"{work}/gold_v{cur + 1}")

    with ingest.bounded_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    final = spark.read.parquet(f"{work}/gold_v{versions['i']}")
    return final.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("cents") / 100.0).alias("total_value"),
    )


@query(
    "streaming_semantic_dedup",
    # identical final table to semantic_dedup_incremental: per-vector
    # results depend ONLY on (vector, stored state), so micro-batch
    # boundaries cannot change them — the same SQL certifies both
    oracle=None,  # set below: llm._semdedup_incr_oracle() (late import
    # keeps the llm module decoration-order-independent)
    survey="streaming-ext: semantic dedup as a real ingest stream "
    "(foreachBatch probe against stored cluster state)",
    doc="The 100 TB ingest shape the incremental semantic dedup "
    "documents, run as an ACTUAL Structured Streaming job: the stored "
    "corpus cluster state — the SCALED hierarchical assignment at "
    "auto_depth, the production state semantic_dedup_incremental_"
    "scaled uses, whose bounded ~400-vector cells keep every "
    "micro-batch's probe LINEAR in the corpus (a flat k=8 state makes "
    "per-batch cost grow with corpus/8-sized clusters — the fixture "
    "trade its twin documents), stored as labels WITH precomputed "
    "norms plus the k*dim-row centroid component sums "
    "(semdedup_state_sums), so a micro-batch plan aggregates only "
    "aggregate-sized stored rows — is materialized to parquet ONCE, "
    "then the incoming vector batch is staged as multiple files and "
    "streamed with maxFilesPerTrigger=1 under Trigger.AvailableNow, "
    "so the run really processes several micro-batches. Each "
    "micro-batch probes the STORED state via operators/similarity."
    "semdedup_incremental (beam-2 hierarchical descent, top-2 "
    "multi-probe, hash equi-join on cluster, best-match window) and "
    "APPENDS its per-vector verdicts — append IS the correct upsert "
    "because each vector's verdict depends only on the vector and the "
    "stored state, never on batchmates, which is also why the final "
    "table equals the one-shot batch query and the SAME DuckDB oracle "
    "certifies both (at the certification scale auto_depth==1, and "
    "depth 1 IS the flat k=8 clustering): the streaming run is a "
    "MEASURED proof of micro-batch-boundary invariance. State never "
    "touches the driver.",
    tags=("streaming", "llm"),
)
def streaming_semantic_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sales_data_pipeline_spark.operators import similarity
    from sales_data_pipeline_spark.queries.llm import (
        _emb_corpus,
        _flat_oracle_depth_guard,
        _semdedup_probe_batch,
    )
    from sales_data_pipeline_spark.workdir import materialized, run_dir

    # stored state: the SCALED hierarchical assignment production
    # persists between batches — labels WITH precomputed norms plus the
    # k*dim-row centroid component sums (semdedup_state_sums), so a
    # micro-batch's plan touches the corpus exactly once (the probe
    # join) and derives centroids from aggregate-sized stored rows;
    # auto_depth==1 at the driver's certification scale, and depth 1
    # IS the flat k=8 clustering the shared oracle encodes
    # (llm._flat_oracle_depth_guard logs the same warning there when a
    # run outgrows that).
    # State, state sums, and the staged batch are pure functions of the
    # immutable input tables — built ONCE per (query, sf) and reused
    # (that's also the production shape: state persists between ingest
    # runs; the round-9 advisor's /tmp-growth fix). The stream's
    # checkpoint and append sink are per-invocation and start empty.
    base = _emb_corpus(spark, sf_dir)
    depth = _flat_oracle_depth_guard(
        "streaming_semantic_dedup", base.count(), branch=8, target=400
    )

    def _build_state(path: str) -> None:
        similarity.kmeans_assign_hierarchical(
            base, depth=depth, branch=8
        ).withColumn(
            "nrm", F.expr(similarity.sql_norm("embedding", similarity.DIM))
        ).write.parquet(f"{path}/state")
        similarity.semdedup_state_sums(
            spark.read.parquet(f"{path}/state")
        ).write.parquet(f"{path}/state_sums")
        # 4 files -> 4 micro-batches under maxFilesPerTrigger=1
        _semdedup_probe_batch(spark, sf_dir).repartition(
            4
        ).write.parquet(f"{path}/stage")

    state_root = materialized("sem_stream_state", sf_dir, _build_state)
    # persisted for the duration of this query (round-12 optimization):
    # every one of the 4 micro-batches' probe plans consumes the stored
    # labels AND the stored sums — uncached, each batch re-reads both
    # parquet tables (4 corpus-sized scans of the state). Within-query
    # scope, released by the caller right after the action like every
    # scoped persist; the verdicts are unchanged (same stored rows).
    from sales_data_pipeline_spark.queries.base import scoped_persist

    stored = scoped_persist(spark.read.parquet(f"{state_root}/state"))
    stored_sums = spark.read.parquet(f"{state_root}/state_sums")
    # per-level packed centroid tables derived ONCE and persisted —
    # every micro-batch's descent joins these aggregate-sized tables,
    # and uncached each batch re-ran the whole rollup chain
    packed = {
        lvl: scoped_persist(t)
        for lvl, t in similarity.semdedup_packed_levels(
            stored_sums, depth, branch=8
        ).items()
    }
    batch = _semdedup_probe_batch(spark, sf_dir)
    stage = f"{state_root}/stage"
    work = run_dir("sem_stream", sf_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )

    def probe_batch(mb: DataFrame, _epoch: int) -> None:
        similarity.semdedup_incremental(
            stored, mb, min_cosine=0.96, assign=stored,
            depth=depth, branch=8, leaf_sums=stored_sums,
            packed_levels=packed,
        ).write.mode("append").parquet(f"{work}/verdicts")

    with ingest.bounded_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(probe_batch)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(f"{work}/verdicts")


def _throttle_oracle() -> str:
    from sales_data_pipeline_spark.queries import timeseries_queries

    return timeseries_queries.THROTTLE_24H_ORACLE


@query(
    "streaming_throttle_events",
    oracle=_throttle_oracle(),
    survey="streaming-ext: transformWithState rate limiting "
    "(streaming/stateful.py throttle_stream — the Spark 4.x "
    "arbitrary-state API; the streaming twin throttle_events_24h's "
    "doc promises)",
    doc="Per-user emit-then-suppress-24h throttling as a STREAM: "
    "events flow through the stateful throttler with the chain "
    "position (last emitted timestamp + counters) in per-key state, "
    "one summary row per user out — rate-limit semantics identical "
    "to the batch twin throttle_events_24h on the same fixture, "
    "certified by the SAME recursive-CTE oracle. The operator "
    "prefers the Spark 4 arbitrary-state API "
    "(transformWithStateInPandas: RocksDB-backed ValueState + append "
    "mode + timeMode none) and capability-probes its protobuf "
    "runtime AS THE WORKERS WILL SEE IT (the JVM env, not just the "
    "driver process): under pytest the conftest injects the "
    "container's standalone protobuf pre-JVM and the REAL "
    "transformWithState path executes end-to-end "
    "(tests/test_round11_ops.py pins both the path taken and the "
    "rows); under a vanilla driver session the probe fails closed "
    "and the IDENTICAL fold runs through applyInPandasWithState — "
    "both paths share stateful._fold_throttle, so the oracle "
    "certifies the same rows either way. State is one tuple per "
    "user (bounded by key "
    "cardinality, not stream length); within-batch rows sort by "
    "timestamp before the fold, and cross-batch order carries the "
    "same per-key-ordered-source contract every sequential-state "
    "operator has (here: one availableNow file batch).",
    tags=("streaming",),
)
def streaming_throttle_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = ingest.read_events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    out = stateful.throttle_stream(ev, gap_us=86_400_000_000)
    name = ingest.unique_sink_name("throttle_stream")
    # data-adaptive parallelism for the same reason as the sessionizer
    # (the per-key Python fold is compute-bound only once partitions
    # carry enough rows to amortize their state-store + worker setup:
    # 32 partitions measured ~3x SLOWER than 8 at sf0.1's 100k events);
    # transformWithState requires the RocksDB provider
    # (large_state=True supplies it)
    with ingest.bounded_state_partitions(
        spark, n=ingest.adaptive_state_partitions(spark, sf_dir)
    ):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # The throttler (re-)emits a per-user summary every micro-batch that
    # touches the user; under availableNow the fixture arrives as ONE
    # batch, but a multi-batch split (maxFilesPerTrigger, huge part
    # counts) would append superseded summaries too (round-11 advisor).
    # Keep only the LATEST summary per user — n_events is strictly
    # increasing across a user's batches, so max_by is exact, and on
    # the single-batch run this is a no-op over one row per user.
    sink = spark.table(name)
    latest = F.max_by(
        F.struct("n_events", "n_emitted", "first_emit_us", "last_emit_us"),
        F.col("n_events"),
    ).alias("s")
    return sink.groupBy("user_id").agg(latest).select(
        "user_id", "s.n_events", "s.n_emitted",
        "s.first_emit_us", "s.last_emit_us",
    )


# late-bind the oracle: the final table is row-identical to
# semantic_dedup_incremental's (batch-boundary invariance, see doc),
# so the streaming run certifies against the same SQL
def _bind_streaming_semdedup_oracle() -> None:
    from sales_data_pipeline_spark.queries import llm
    from sales_data_pipeline_spark.queries.base import REGISTRY

    REGISTRY["streaming_semantic_dedup"].oracle = (
        llm._semdedup_incr_oracle()
    )


_bind_streaming_semdedup_oracle()
