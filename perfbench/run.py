#!/usr/bin/env python3
"""Benchmark of the engine: the reference's move job and two query families.

Usage, from the repository root:

    python3 perfbench/run.py --workload lake_move --seed 1 --seconds 15 --trace 0

Workloads (closed loop, one driver process, ``local[4]``):

- ``lake_move``: manifest archive (copy) and list-filter-move over a seeded
  lake of JSON quote files;
- ``near_dup``: the band-keyed near-duplicate query family.

A run starts one Spark session and sets up the workload's inputs several
times. The first pass over the last inputs counts as set-up (it fills the
session's caches); untimed burn-in passes follow until the JIT settles;
then passes are timed for ``--seconds`` (and at least three). Every pass is
checked: query results against their DuckDB oracles, file moves against the
lake's ground truth. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``. A traced run alternates traced and untraced passes, so
it also reports the tracing overhead.

All files the run writes live under ``.perfbench_work/`` in the current
directory and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

CPUS = 4
DRIVER_MEM = "2g"
SETUPS = 3
#: untimed passes after the first one run for at least this long: pass times
#: keep falling for a few passes while the JVM compiles hot code
BURN_IN_S = 9.0
MIN_PASSES = 3
WORKLOADS = ("lake_move", "near_dup")

END_TO_END = {"setup_s": "s", "pass_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from perfbench.tracing import SPARK_COUNTERS
    from perfbench.workloads import LAKE_METRICS, LAYERS, QUERY_METRICS

    units = {
        "session.start_s": "s",
        "setup.generate_s": "s",
        "catalog.load_table_s": "s",
        "setup.warm_pass_s": "s",
        "driver.peak_rss_mb": "MB",
        "trace.overhead_s": "s",
        "trace.unattributed_share": "ratio",
    }
    units.update({f"self.{layer}_s": "s" for layer in LAYERS})
    for k in SPARK_COUNTERS + ("driver_s",):
        unit = "count" if k == "tasks" else ("MB" if k.endswith("_mb") else "s")
        units[f"spark.{k}"] = unit
    for k in LAKE_METRICS:
        if k.endswith("_per_s"):
            unit = "MB/s" if k.endswith("mb_per_s") else "1/s"
        elif k.endswith("_s"):
            unit = "s"
        elif k.endswith("_mb") or k.endswith("mb_written"):
            unit = "MB"
        elif k.endswith("_ratio"):
            unit = "ratio"
        else:
            unit = "count"
        units[k] = unit
    units.update({k: "s" for k in QUERY_METRICS})
    return units


def _configure_env(work: Path) -> dict[str, str | None]:
    """Pin the session's size and keep every file Spark writes in ``work``.
    Returns the previous values, for :func:`_restore_env`."""
    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_MASTER": None,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": None,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "TZ": "UTC",
    }
    saved = {k: os.environ.get(k) for k in env}
    _restore_env(env)
    return saved


def _restore_env(env: dict[str, str | None]) -> None:
    for k, v in env.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v
    time.tzset()
    tempfile.tempdir = None


def _session_conf(work: Path) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            f"-Dderby.system.home={work}"
        ),
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    from perfbench.tracing import _children

    sc = spark.sparkContext
    gateway = sc._gateway
    proc = gateway.proc
    kids = _children(proc.pid)
    tree, todo = [], [proc.pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(kids.get(p, []))
    spark.stop()
    gateway.shutdown()
    # the next session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool, *, lake_files: int = 500,
        scale: float = 0.01, extra_rows=()) -> dict:
    """One benchmark run; returns the result object. The keyword arguments
    size the inputs, and inject plan rows for the benchmark's own tests."""
    work = Path.cwd() / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    saved = _configure_env(work)
    try:
        return _run(work, workload, seed, seconds, trace, lake_files, scale, extra_rows)
    finally:
        _restore_env(saved)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is still using it
            pass


def _layer_row(tracer, first: int, wl, res, out) -> dict[str, float]:
    """Per-layer metrics of the traced pass whose root span is ``first``."""
    from perfbench.tracing import self_times, spark_totals
    from perfbench.workloads import LAYERS

    spans = tracer.spans[first:]
    wall = spans[0].dur
    selfs = self_times(tracer.spans, first)
    row = {f"self.{layer}_s": selfs.get(layer, 0.0) for layer in LAYERS}
    tot = spark_totals(spans)
    row.update({f"spark.{k}": v for k, v in tot.items()})
    row["spark.driver_s"] = wall - tot["executor_run_s"] / CPUS
    row["trace.unattributed_share"] = selfs.get("pass", 0.0) / wall
    row.update(wl.layer_metrics(spans, res, out))
    return row


def _run(work, workload, seed, seconds, trace, lake_files, scale, extra_rows) -> dict:
    from perfbench.tracing import Tracer, tree_peak_rss_mb
    from perfbench.workloads import make_workload

    from py_datalake_move_files_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=_session_conf(work))
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark)
        wl = make_workload(workload, spark, tracer, seed, scale=scale, lake_files=lake_files)
        if extra_rows:
            wl.extra_rows = list(extra_rows)

        setups = []
        for k in range(SETUPS):
            d = work / f"inputs{k}"
            setups.append(wl.setup(str(d)))
            if k:
                shutil.rmtree(work / f"inputs{k - 1}")
        attempted = failed = 0

        t = time.perf_counter()
        res = wl.run_pass()
        warm_s = time.perf_counter() - t
        out = wl.check(res)
        attempted += out.attempted
        failed += out.failed
        burn_in = time.perf_counter()
        while time.perf_counter() - burn_in < BURN_IN_S:
            out = wl.check(wl.run_pass())
            attempted += out.attempted
            failed += out.failed

        walls, traced_walls, rows = [], [], []
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < seconds or i < MIN_PASSES:
            traced = trace and i % 2 == 0
            first = len(tracer.spans)
            tracer.enabled = traced
            t = time.perf_counter()
            with tracer.span("pass"):
                res = wl.run_pass()
            wall = time.perf_counter() - t
            tracer.enabled = False
            if traced:
                tracer.collect_spark(tracer.spans[first:])
            out = wl.check(res)
            attempted += out.attempted
            failed += out.failed
            if traced:
                traced_walls.append(tracer.spans[first].dur)
                rows.append(_layer_row(tracer, first, wl, res, out))
            else:
                walls.append(wall)
            i += 1

        setup_s = (
            session_s
            + _median([s["generate_s"] + s["load_table_s"] for s in setups])
            + warm_s
        )
        peak_rss_mb = tree_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        _stop(spark)

    if trace:
        units = per_layer_units()
        values = {name: _median([r.get(name, 0.0) for r in rows]) for name in units}
        values.update(
            {
                "session.start_s": session_s,
                "setup.generate_s": _median([s["generate_s"] for s in setups]),
                "catalog.load_table_s": _median([s["load_table_s"] for s in setups]),
                "setup.warm_pass_s": warm_s,
                "driver.peak_rss_mb": peak_rss_mb,
                "trace.overhead_s": _median(traced_walls) - _median(walls),
            }
        )
    else:
        units = END_TO_END
        values = {"setup_s": setup_s, "pass_s": _median(walls)}
    print(
        f"perfbench: {workload} seed={seed} passes={[round(w, 3) for w in walls]} "
        f"traced={[round(w, 3) for w in traced_walls]}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import py_datalake_move_files_spark as engine
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2
    if ROOT not in Path(engine.__file__).resolve().parents:
        print(f"perfbench: the engine package is not in {ROOT}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
