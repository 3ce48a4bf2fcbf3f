"""The measurement loop behind ``run.py``.

A run discards the workload's fixed number of warm-up ops, then runs
its fixed number of measured ops, and goes on past them only while the
measured ops add up to less than ``--seconds``. End-to-end metrics
(``--trace 0``) are over the first ``measured_ops`` ops after warm-up,
so their sample positions do not depend on how fast the program is:

- ``setup_s``: median of the workload's repeated set-ups;
- ``cpu_ms_per_op``: CPU time of the process tree (this process, the
  Spark JVM, the Python workers), sampled around each op, summed over
  the measured ops and divided by their count: the cost of an op.

Op latency is not an end-to-end metric. Host CPU steal comes in bursts
of a minute or more on a shared 4-core VM, and the JIT compiler, still busy
in a fresh JVM, falls behind when it does: across ten seeds with steal
at 0-19% of ticks the median op latency spread by 0.27-0.69 of its
median (quartile distance), against 0.10-0.14 for CPU per op. Every
op's latency is still recorded with the machine conditions. The tree's
peak resident set, ``peak_rss_mb``, is reported by the traced run: it
repeated only within 5-14% across seeds, moving with the JVM's heap
growth.

Per-layer metrics (``--trace 1``) are listed in ``layers.py``. A traced
run alternates blocks of traced and untraced ops (one op, or one pass
over ``curation``'s query set), so both see the same point of the JIT
warm-up curve and the same op mix, and their median difference is the
tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

from perfbench import layers, machine, trace, workloads

# A run stops starting ops after this much wall time, whatever
# --seconds says, so that it exits well inside its time limit.
WALL_CAP_S = 150.0
HIGH_STEAL = 0.10  # a run whose steal share is above this is flagged


class JobCounter:
    """Spark jobs, stages and tasks launched since the last call, from
    the status tracker (job ids are sequential), plus JVM GC and JIT
    milliseconds from the management beans, over py4j."""

    def __init__(self, spark) -> None:
        self.st = spark.sparkContext.statusTracker()
        self.mf = spark._jvm.java.lang.management.ManagementFactory
        self.next_job = max(self.st.getJobIdsForGroup(None), default=-1) + 1
        self.next_job = self._probe(self.next_job)[1]
        self.gc, self.jit = self._jvm_ms()

    def _jvm_ms(self) -> tuple[float, float]:
        gc = sum(b.getCollectionTime()
                 for b in self.mf.getGarbageCollectorMXBeans())
        return float(gc), float(self.mf.getCompilationMXBean()
                                .getTotalCompilationTime())

    def next_id(self) -> int:
        """Id of the next Spark job, without consuming any."""
        return self._probe(self.next_job)[1]

    def _probe(self, start: int) -> tuple[list, int]:
        infos, j = [], start
        while (info := self.st.getJobInfo(j)) is not None:
            infos.append(info)
            j += 1
        return infos, j

    def delta(self) -> dict[str, float]:
        jobs, self.next_job = self._probe(self.next_job)
        stages = [s for info in jobs for s in info.stageIds]
        tasks = 0
        for s in stages:
            info = self.st.getStageInfo(s)
            tasks += info.numTasks if info is not None else 0
        gc, jit = self._jvm_ms()
        out = {
            "spark.jobs_per_op": len(jobs),
            "spark.stages_per_op": len(stages),
            "spark.tasks_per_op": tasks,
            "jvm.gc_ms_per_op": gc - self.gc,
            "jvm.jit_ms_per_op": jit - self.jit,
        }
        self.gc, self.jit = gc, jit
        return out


def cores(nproc: int) -> int:
    """Spark's task threads: half the cores this process may use, so
    that the JIT compiler, the GC, the driver and the Python workers run
    beside the task threads rather than preempting them. The ops are
    bound by job overhead, not data: at 2 task threads they took the
    same time as at 4 on a 4-core VM."""
    return max(1, nproc // 2)


def _tree_cpu_ms() -> float:
    return machine.tree_cpu_ms(machine.process_tree())


def run(args, run_dir: Path, confs: dict, identity: dict) -> int:
    from sales_data_pipeline_spark.session import build_session

    started = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](str(run_dir / "work"), args.seed)
    try:
        nproc = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        spark = build_session("perfbench", master=f"local[{cores(nproc)}]",
                              extra_conf=confs)
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("FATAL")
        try:
            t = time.perf_counter()
            wl.attach(spark)
            identity = {**identity, "attach_s": time.perf_counter() - t}
            return _measure(args, wl, spark, nproc, session_s, started,
                            identity)
        finally:
            from perfbench.run import stop_spark

            stop_spark(spark)
    finally:
        wl.close()


def _measure(args, wl, spark, nproc, session_s, started, identity) -> int:
    setup_s = []
    for i in range(wl.setups):
        wl.before_setup(i)
        t = time.perf_counter()
        wl.setup(i)
        setup_s.append(time.perf_counter() - t)
        if i > 0:
            wl.cleanup_setup(i - 1)
    wl.after_setup()

    tracer = counter = None
    if args.trace:
        tracer = trace.Tracer()
        layers.instrument(tracer)
        counter = JobCounter(spark)
        wl.next_job_id = counter.next_id

    lat, kinds, cpu, traced_ms, untraced_ms, per_op = [], [], [], [], [], []
    warm_lat, warm_cpu = [], []
    attempted = failed = 0
    measured_s = 0.0
    shares = load0 = None
    # a traced run needs a traced and an untraced block at least
    n_ops = max(wl.measured_ops, 2 * wl.trace_block if tracer else 0)
    i = 0
    while time.perf_counter() - started < WALL_CAP_S:
        warm = i < wl.warmup_ops
        if not warm:
            if shares is None:
                shares, load0 = machine.CpuShares(), machine.load()
            if i - wl.warmup_ops >= n_ops and measured_s >= args.seconds:
                break
        traced = tracer is not None and not warm and (
            (i - wl.warmup_ops) // wl.trace_block) % 2 == 0
        attempted += 1
        dt = None
        try:
            wl.prepare(i)
            if traced:
                counter.delta()  # drop anything prepare() launched
            c0 = _tree_cpu_ms()
            scope = tracer.op_scope(i) if tracer else contextlib.nullcontext()
            with scope:
                if traced:
                    tracer.enabled = True
                t0 = time.perf_counter()
                try:
                    result = wl.op(i, tracer if traced else None)
                finally:
                    dt = time.perf_counter() - t0
                    if tracer:
                        tracer.enabled = False
            c1 = _tree_cpu_ms()
            counters = counter.delta() if traced else None
            wl.check(i, result)
        except Exception:
            failed += 1
            print(f"op {i} failed:", file=sys.stderr)
            traceback.print_exc()
        else:
            if warm:
                warm_lat.append(dt * 1000.0)
                warm_cpu.append(c1 - c0)
            else:
                lat.append(dt * 1000.0)
                kinds.append(wl.kind())
                cpu.append(c1 - c0)
                if tracer is not None:
                    (traced_ms if traced else untraced_ms).append(dt * 1000.0)
                if traced:
                    spans = [s for s in tracer.spans if s.op == i]
                    per_op.append(layers.op_metrics(
                        spans, counters, getattr(wl, "last", {}),
                        tracer.counts.get(i, {})))
        finally:
            wl.cleanup(i)
        if not warm and dt is not None:
            measured_s += dt
        i += 1

    conditions = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "scale": wl.scale(),
        "master": spark.sparkContext.master, "nproc": nproc,
        "warmup_ops": wl.warmup_ops, "measured_ops_fixed": wl.measured_ops,
        "setups": wl.setups,
        "setup_s_each": setup_s, "measured_ops": len(lat),
        "op_ms_each": lat, "op_kind_each": kinds, "op_cpu_ms_each": cpu,
        "warmup_op_ms_each": warm_lat, "warmup_op_cpu_ms_each": warm_cpu,
        "session_start_s": session_s,
        **(shares.read() if shares else {}),
        "load1_start": load0["load1"] if load0 else None,
        **machine.load(), **identity,
        "run_s": time.perf_counter() - started,
    }
    conditions["high_steal"] = conditions.get("steal_share", 0) > HIGH_STEAL
    if args.trace:
        metrics = _per_layer(args, wl, per_op, traced_ms, untraced_ms,
                             tracer)
    else:
        n = wl.measured_ops
        metrics = _end_to_end(cpu[:n], setup_s)
    print(json.dumps({"conditions": conditions}))
    ok = bool(metrics) and failed == 0
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    # a printed result, even one with failed ops, is a finished run
    return 0 if metrics else 1


def _end_to_end(cpu, setup_s) -> dict:
    if not cpu:
        return {}
    values = {
        "setup_s": (statistics.median(setup_s), "s"),
        "cpu_ms_per_op": (sum(cpu) / len(cpu), "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def _per_layer(args, wl, per_op, traced_ms, untraced_ms, tracer) -> dict:
    if not per_op or not untraced_ms:
        return {}
    values = layers.summarize(per_op, traced_ms, untraced_ms,
                              wl.layer_stat)
    values["peak_rss_mb"] = machine.tree_peak_rss_mb(machine.process_tree())
    units = dict(layers.METRICS)
    out_dir = Path(__file__).resolve().parents[1] / ".perfbench" / "traces"
    out_dir.mkdir(parents=True, exist_ok=True)
    tracer.dump(str(out_dir / f"{args.workload}-seed{args.seed}.jsonl"))
    width = max(len(m) for m in values)
    for m, v in values.items():
        print(f"{m:<{width}}  {v:12.3f} {units[m]}", file=sys.stderr)
    return {m: {"value": v, "unit": units[m]} for m, v in values.items()}
