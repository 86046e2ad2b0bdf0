"""Driver-side build cost of the near-duplicate queries.

Building a query's DataFrame runs no Spark job, but it is not free: every
Dataset operation is one JVM analysis pass, and every PySpark ``Column``
call is a few Py4J round trips (more with call-site origin tracking on).
A projection written as one ``selectExpr`` of SQL text costs a fixed few
calls; the same projection as a loop of per-element ``Column`` objects
costs hundreds. These tests count the round trips of a warm build by
wrapping ``ClientServerConnection.send_command``, the one method every
Python-to-JVM call goes through.
"""

from __future__ import annotations

import pytest
from py4j.clientserver import ClientServerConnection

from py_datalake_move_files_spark.queries import QUERIES

#: Py4J round trips one warm build may make (1,076 and ~1,600 when the
#: projections were per-element Column loops)
ROUND_TRIP_BOUNDS = {
    "dedup_minhash_lsh": 650,
    "semantic_dedup_summary": 600,
}


@pytest.mark.parametrize("name", sorted(ROUND_TRIP_BOUNDS))
def test_near_dup_build_round_trips_are_bounded(name, spark, sf_small, monkeypatch):
    """A warm build of each ``near_dup`` query runs 0 jobs and stays under
    its round-trip bound. The minimum of three builds is compared: Python's
    garbage collector may release JVM references during a build, and each
    release is a round trip that belongs to no particular build."""
    q = QUERIES[name]
    q(spark, sf_small).collect()  # reads the schema, trains the centroids
    send = ClientServerConnection.send_command
    calls = [0]

    def counting(self, command):
        calls[0] += 1
        return send(self, command)

    sc = spark.sparkContext
    group = f"build-cost-{name}"
    counts = []
    sc.setJobGroup(group, "build")
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        for _ in range(3):
            before = calls[0]
            q(spark, sf_small)
            counts.append(calls[0] - before)
    finally:
        monkeypatch.undo()
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert min(counts) > 0, "the wrapper saw no Py4J calls"
    assert min(counts) <= ROUND_TRIP_BOUNDS[name], counts


def test_minhash_lsh_scans_documents_once(spark, sf_small):
    """``dedup_minhash_lsh`` builds one shingle frame and hands it to the
    signatures and to the verify, so the executed plan reads ``documents``
    once and reuses that scan's exchange for the second consumer."""
    df = QUERIES["dedup_minhash_lsh"](spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, plan
    assert "ReusedExchange" in final, plan
