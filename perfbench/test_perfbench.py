"""The benchmark's own tests: tiny inputs, every named metric, injected
failures, and the refusal to run without the engine package.

Run from the repository root:  python3 -m pytest perfbench -q
Each ``run`` starts and stops its own Spark session (20-60 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run as bench  # noqa: E402
from perfbench.tracing import Span, self_times  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _names(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def _assert_metrics(result: dict, kind: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _names(kind)
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_self_time_subtracts_children():
    spans = [Span("pass", 0.0, None, 10.0), Span("sources.list", 1.0, 0, 4.0),
             Span("movecopy.execute", 5.0, 0, 9.0), Span("paths.x", 6.0, 2, 7.0)]
    st = self_times(spans)
    assert st == pytest.approx({"pass": 3.0, "sources": 3.0, "movecopy": 3.0, "paths": 1.0})
    assert sum(st.values()) == pytest.approx(spans[0].dur)


def test_per_layer_units_match_spec():
    assert bench.per_layer_units() == _names("per_layer")
    assert bench.END_TO_END == _names("end_to_end")
    assert [w["name"] for w in SPEC["workloads"]] == list(bench.WORKLOADS)


@pytest.mark.parametrize("trace", [False, True])
def test_tiny_lake_prints_every_metric(trace):
    res = bench.run("lake_move", 3, 0, trace, lake_files=40)
    _assert_metrics(res, "per_layer" if trace else "end_to_end")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    if trace:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["sources.files_listed"] == 40
        assert m["movecopy.errors"] == 0
        assert m["movecopy.tasks"] > 0


def test_small_near_dup_traced():
    res = bench.run("near_dup", 3, 0, True, scale=0.001)
    _assert_metrics(res, "per_layer")
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["query.dedup_minhash_lsh.s"] > 0
    assert m["spark.tasks"] > 0
    assert m["movecopy.execute_s"] == 0


def test_injected_failure_is_counted(tmp_path):
    # source absent, and the target's parent is a regular file
    blocker = tmp_path / "blocker"
    blocker.write_text("x")
    bad = (f"file:{tmp_path}/absent.json", f"file:{blocker}/sub/absent.json")
    res = bench.run("lake_move", 3, 0, False, lake_files=40, extra_rows=[bad])
    assert not res["correct"]
    assert res["failed"] >= 1
    assert res["failed"] / res["attempted"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        SPEC["command"] + ["--workload", "lake_move", "--seed", "1", "--seconds", "1",
                           "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
