"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the program. ``--workload all`` runs
each workload in turn, each in a fresh process. One process runs one
workload: it generates the seeded inputs, starts Spark at
``local[<half the cores>]``, sets the workload up several times,
discards the warm-up ops and then runs the workload's fixed number of
measured ops in a closed loop, and more while the timed ops add up to
less than ``--seconds``. Every op's output is checked, untimed; a wrong output or
an exception counts as failed and the loop goes on.

All state lives in a run-private directory under ``.perfbench/`` in the
checkout (temp files, Spark local dirs, fixtures, materialized
artifacts), deleted at exit, so no run reads what another left behind.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, from
spans recorded around the program's public functions (``layers.py``).
The line before it holds the machine conditions of the run.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true",
                   help="shrink the inputs to ~6k fact rows and 200 "
                        "documents (the self-test's size)")
    return p.parse_args(argv)


def isolate(run_dir: Path) -> dict[str, str]:
    """Point every temp and cache root at ``run_dir``; return the Spark
    confs that do the same inside the JVM."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM of the run (spark-submit's launcher too): temp files in
    # the run dir, and no hsperfdata files, which always go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = str(tmp)
    from sales_data_pipeline_spark import workdir

    workdir._MAT_ROOT = str(run_dir / "mat")
    workdir._RUN_ROOT = str(run_dir / "runs")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={run_dir}/derby",
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def source_identity() -> dict[str, str | None]:
    import hashlib

    h = hashlib.sha256()
    for f in sorted((ROOT / "sales_data_pipeline_spark").rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    sha = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        sha = r.stdout.strip() or None
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


def run_all(argv: list[str], names: list[str]) -> int:
    """Run every workload, each in a fresh process with the same
    arguments. Print each workload's conditions line and each metric as
    ``workload.metric value unit``, and last one result line over all
    of them."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        args = [a if a != "all" else name for a in argv]
        proc = subprocess.run([sys.executable, __file__, *args], cwd=ROOT,
                              stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print(lines[-2] if len(lines) > 1 else "{}")
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for metric, v in res["metrics"].items():
            print(f"{name}.{metric} {v['value']:.4f} {v['unit']}")
            merged["metrics"][f"{name}.{metric}"] = v
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "sales_data_pipeline_spark" / "__init__.py").is_file():
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import harness, workloads

    if args.workload == "all":
        return run_all(argv if argv is not None else sys.argv[1:],
                       sorted(workloads.WORKLOADS))
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    if args.small:
        workloads.SCALE = dataclasses.replace(
            workloads.SCALE, orders=1500, customers=1000, parts=1000)
        workloads.CORPUS = dataclasses.replace(
            workloads.CORPUS, docs=200, vectors=160, events=2_000)
    # a killed run cannot clean up after itself; the next one does
    for old in (ROOT / ".perfbench").glob("run-*"):
        if not Path(f"/proc/{old.name[4:]}").exists():
            shutil.rmtree(old, ignore_errors=True)
    run_dir = ROOT / ".perfbench" / f"run-{os.getpid()}"
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        confs = isolate(run_dir)
        return harness.run(args, run_dir, confs, source_identity())
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
