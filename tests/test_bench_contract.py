"""Bench output contract (VERDICT r5 #4): the driver parses ONE JSON line
from the process tail, so bench.py must (a) print exactly one compact
JSON object as its final stdout line, small enough that tail capture
cannot truncate it, and (b) write the full per-query map to the sidecar.

Runs bench.py as a real subprocess (the way the driver does) on a 2-query
subset at sf0.001 then sf0.01 in one session — the contract is the same at
any scale, and the second dir exercises the multi-scale sidecar fields."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def test_bench_emits_one_compact_json_line_and_sidecar(tmp_path):
    out_sidecar = tmp_path / "bench_full.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001,/root/testdata/sf0.01",
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_BENCH_QUERIES="q1_pricing_summary,orders_by_month",
        SPARK_GRAFT_BENCH_OUT=str(out_sidecar),
    )
    proc = subprocess.run(
        [sys.executable, str(ROOT / "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=420,
        check=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert lines, proc.stderr[-500:]
    summary = json.loads(lines[-1])  # final line IS the summary
    assert summary["metric"] == "registry_queries_total"
    assert "headline_total" in summary  # the r1-r7 comparable series
    assert summary["unit"] == "sec"
    assert summary["queries_timed"] == 2
    assert summary["queries_headline"] == 2
    assert set(summary["queries"]) <= {"q1_pricing_summary", "orders_by_month"}
    assert summary["value"] > 0
    assert summary["sf"] == 0.001
    # compact: the driver's tail capture must never split it mid-line
    assert len(lines[-1]) < 4096

    full = json.loads(out_sidecar.read_text())
    assert set(full["queries"]) == {"q1_pricing_summary", "orders_by_month"}
    assert abs(sum(full["queries"].values()) - full["value"]) < 1e-6

    # per-query exchange volume (VERDICT r10 #4): both fields present for
    # every timed query, non-negative, and the aggregating queries here
    # genuinely shuffle (q1 groups 6M-row lineitem at sf0.1; >0 even at
    # sf0.001)
    for field in ("shuffle_read_mb", "shuffle_write_mb"):
        assert set(full[field]) == set(full["queries"]), field
        assert all(v >= 0 for v in full[field].values()), full[field]
    assert full["shuffle_write_mb"]["q1_pricing_summary"] > 0
    assert summary["shuffle_read_mb_total"] >= 0

    # per-query build time: the QUERIES call alone, part of the query time
    assert set(full["build_s"]) == set(full["queries"])
    assert all(0 <= full["build_s"][n] <= full["queries"][n] for n in full["queries"])
    assert summary["build_s_total"] == full["build_s_total"] >= 0

    # join shape per timed query: hash exchanges, broadcast exchanges,
    # SortMergeJoin, CartesianProduct
    assert set(full["plan_counts"]) == set(full["queries"])
    for counts in full["plan_counts"].values():
        assert len(counts) == 4 and all(c >= 0 for c in counts), counts

    # the second dir's maps, its time ratios against the first, and the
    # plan-flip list between them
    (second,) = full["later_sfs"]
    assert second["sf"] == 0.01
    for field in ("queries", "shuffle_read_mb", "shuffle_write_mb",
                  "plan_counts", "time_ratio_vs_prev"):
        assert set(second[field]) == {"q1_pricing_summary", "orders_by_month"}, field
    assert isinstance(full["plan_flips"], list)


@pytest.mark.heavy
def test_shuffle_volume_within_budget(spark):
    """Exchange-volume regression gate (VERDICT r11 #5). Per-query shuffle
    read/write is deterministic (0.12 MB max back-to-back delta over full
    sweeps) where wall time carries 2-10x host noise — so volume is the
    per-query metric worth gating hard. For the top-20 shuffle queries
    (by committed sf0.1 volume), re-measure the per-run executor shuffle
    delta at sf0.01 under the bench protocol (warm-up run first, so
    artifact builds and JIT never pollute the delta) and fail on growth
    beyond max(1.2x, +0.15 MB) per metric vs the committed
    SHUFFLE_BUDGET.json. An injected repartition(), a lost broadcast, or
    a widened shuffle payload goes red HERE, in-suite, without waiting
    for the next bench sweep. Regenerate the budget only for adjudicated
    changes:  python tools/make_shuffle_budget.py
    """
    sys.path.insert(0, str(ROOT / "tools"))
    import make_shuffle_budget as msb

    artifact = json.loads((ROOT / "SHUFFLE_BUDGET.json").read_text())
    budget = artifact["queries"]
    measured = msb.measure(spark, list(budget), msb.SF_DIR)
    over = []
    for name, b in budget.items():
        m = measured[name]
        for metric in ("read_mb", "write_mb"):
            # +0.15 MB absolute floor: the metric is deterministic to
            # 0.12 MB, and a looser floor (0.5) swallowed a real
            # injected repartition of the 15k-row orders table at sf0.01
            cap = max(b[metric] * 1.2, b[metric] + 0.15)
            if m[metric] > cap:
                over.append(
                    f"{name}.{metric}: {m[metric]} MB > budget "
                    f"{b[metric]} MB (cap {round(cap, 3)})"
                )
    assert not over, "exchange-volume regressions:\n" + "\n".join(over)
