"""Which program functions the traced run wraps, and the per-layer
metrics computed from their spans.

Each entry names a layer of the program and the public functions that
enter it. The end-to-end metric each layer should move, and on which
workload, is in ``perfbench/README.md``.
"""

from __future__ import annotations

import statistics

from perfbench import trace

# (name, unit): every per-layer metric, printed on every traced run; a
# layer a workload never enters reads 0 there.
METRICS = [
    ("io.write_ms", "ms"), ("io.write_calls", "count"),
    ("io.read_ms", "ms"), ("io.bytes_written_per_row", "B/row"),
    ("bronze.build_ms", "ms"), ("bronze.reject_ratio", "ratio"),
    ("silver.build_ms", "ms"), ("scd2.build_ms", "ms"),
    ("gold.build_ms", "ms"), ("gold.join_ratio", "ratio"),
    ("quality.suite_ms", "ms"), ("watermark.ms", "ms"),
    ("runner.self_ms", "ms"), ("runner.overlap", "ratio"),
    ("serving.build_ms", "ms"), ("serving.exec_ms", "ms"),
    ("serving.jobs_per_query", "count"),
    ("queries.build_ms", "ms"), ("queries.exec_ms", "ms"),
    ("queries.build_jobs", "count"), ("queries.exec_jobs", "count"),
    ("similarity.build_ms", "ms"), ("dedup.build_ms", "ms"),
    ("streaming.batches", "count"), ("streaming.batch_ms", "ms"),
    ("workdir.materialize_builds", "count"),
    ("workdir.materialize_hits", "count"), ("workdir.build_ms", "ms"),
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("jvm.gc_ms_per_op", "ms"), ("jvm.jit_ms_per_op", "ms"),
    ("trace.overhead_ms", "ms"), ("peak_rss_mb", "MiB"),
]
# run-level costs, filled in by the harness rather than per op
_RUN_LEVEL = ("trace.overhead_ms", "peak_rss_mb")

# span name -> metric reading that span's summed self time per op
_SELF_MS = {
    "io.write": "io.write_ms", "io.read": "io.read_ms",
    "bronze.build": "bronze.build_ms", "silver.build": "silver.build_ms",
    "scd2.build": "scd2.build_ms", "gold.build": "gold.build_ms",
    "quality.suite": "quality.suite_ms", "watermark": "watermark.ms",
    "runner": "runner.self_ms", "serving.build": "serving.build_ms",
    "serving.exec": "serving.exec_ms",
    "queries.build": "queries.build_ms", "queries.exec": "queries.exec_ms",
    "similarity.build": "similarity.build_ms",
    "dedup.build": "dedup.build_ms",
}


def instrument(tracer: trace.Tracer) -> None:
    """Wrap every layer of :func:`layer_map`, plus the two whose
    figures are counts rather than spans: ``workdir.materialized``
    (a build or a hit, and the build seconds the artifact's
    ``_COMPLETE`` marker records) and each ``foreachBatch`` micro-batch
    of a streaming query."""
    import functools
    import json
    import os

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from sales_data_pipeline_spark import workdir

    trace.instrument(tracer, layer_map())
    materialized = workdir.materialized

    @functools.wraps(materialized)
    def traced_materialized(name, sf_dir, build):
        root = workdir._MAT_ROOT
        before = set(os.listdir(root)) if os.path.isdir(root) else set()
        path = materialized(name, sf_dir, build)
        if os.path.basename(path) in before:
            tracer.add("workdir.materialize_hits", 1)
        else:
            tracer.add("workdir.materialize_builds", 1)
            with open(os.path.join(path, "_COMPLETE")) as f:
                tracer.add("workdir.build_ms", json.load(f)["build_s"] * 1e3)
        return path

    workdir.materialized = traced_materialized
    foreach_batch = DataStreamWriter.foreachBatch

    @functools.wraps(foreach_batch)
    def traced_foreach_batch(self, func):
        @functools.wraps(func)
        def batch(df, epoch):
            with tracer.span("streaming.batch"):
                return func(df, epoch)
        return foreach_batch(self, batch)

    DataStreamWriter.foreachBatch = traced_foreach_batch


def layer_map() -> dict[str, tuple]:
    from sales_data_pipeline_spark.incremental.watermark import (
        WatermarkManager,
    )
    from sales_data_pipeline_spark.io import readers, writers
    from sales_data_pipeline_spark.operators import (
        bronze,
        dedup,
        gold,
        scd2,
        silver,
        similarity,
    )
    from sales_data_pipeline_spark.plans import runner, serving
    from sales_data_pipeline_spark.quality import compiler

    return {
        "runner": (runner, ["run_pipeline"]),
        "io.write": (writers,),
        "io.read": (readers,),
        "bronze.build": (bronze,),
        "silver.build": (silver,),
        "scd2.build": (scd2,),
        "gold.build": (gold,),
        "quality.suite": (compiler,),
        "watermark": (WatermarkManager,
                      ["get_watermark", "buffered_watermark",
                       "update_watermark"]),
        "serving.build": (serving,),
        "similarity.build": (similarity,),
        "dedup.build": (dedup,),
    }


def op_metrics(spans: list[trace.Span], counters: dict,
               outputs: dict, counts: dict) -> dict[str, float]:
    """Per-layer values of one traced op."""
    totals = trace.layer_totals(spans)
    out = {m: 0.0 for m, _ in METRICS if m not in _RUN_LEVEL}
    for span, metric in _SELF_MS.items():
        out[metric] = totals.get(span, {}).get("self_ms", 0.0)
    out["io.write_calls"] = totals.get("io.write", {}).get("calls", 0)
    runner = [s for s in spans if s.name == "runner"]
    if runner:
        r = runner[0]
        child_ms = sum((s.end - s.start) for s in spans if s.parent == r.id)
        out["runner.overlap"] = child_ms / (r.end - r.start)
    out["io.bytes_written_per_row"] = outputs.get("bytes_per_row", 0.0)
    out["bronze.reject_ratio"] = outputs.get("reject_ratio", 0.0)
    out["gold.join_ratio"] = outputs.get("join_ratio", 0.0)
    out.update(counters)
    if "serving.exec" in totals:
        out["serving.jobs_per_query"] = outputs["serving_jobs"]
    if "queries.build" in totals:
        out["queries.build_jobs"] = outputs["build_jobs"]
        out["queries.exec_jobs"] = outputs["exec_jobs"]
    batches = totals.get("streaming.batch", {})
    out["streaming.batches"] = batches.get("calls", 0)
    # wall time, not self time: the batch's writes are its work
    out[_BATCH_MS_SUM] = sum(
        (s.end - s.start) * 1e3 for s in spans if s.name == "streaming.batch")
    for m in ("workdir.materialize_builds", "workdir.materialize_hits",
              "workdir.build_ms"):
        out[m] = counts.get(m, 0.0)
    return out


_BATCH_MS_SUM = "streaming.batch_ms_sum"  # per op; summarized per batch


def summarize(per_op: list[dict[str, float]], traced_ms: list[float],
              untraced_ms: list[float], stat=statistics.median
              ) -> dict[str, float]:
    """``stat`` (the median, or the mean over a mixed op set) over
    traced ops of each per-layer value, the mean wall time of a
    streaming micro-batch, and the tracing overhead: traced minus
    untraced median op latency."""
    out = {m: stat([op[m] for op in per_op]) for m, _ in METRICS
           if m not in _RUN_LEVEL}
    n_batches = sum(op["streaming.batches"] for op in per_op)
    out["streaming.batch_ms"] = (
        sum(op[_BATCH_MS_SUM] for op in per_op) / n_batches
        if n_batches else 0.0)
    out["trace.overhead_ms"] = (
        statistics.median(traced_ms) - statistics.median(untraced_ms))
    return out
