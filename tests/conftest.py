from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

#: Files excluded from the `-m smoke` subset (suite-hygiene split, VERDICT
#: r8 #8): the two-SF oracle-parity sweep (the bulk of the wall time — it
#: re-runs EVERY registered query twice and stays the per-round gate),
#: hypothesis property suites, and the subprocess CLI drives (one JVM
#: start per test). Everything else — operator semantics, plan-shape
#: pins, tier invariants — is auto-marked `smoke`, so a
#: mid-round change gets a fast signal with `pytest -m smoke` and the
#: full suite still runs before each snapshot.
_NON_SMOKE_FILES = {"test_oracle_parity.py", "test_cli.py"}


def pytest_collection_modifyitems(config, items):
    for item in items:
        name = item.fspath.basename
        if "hypothesis" in name:
            # property suites get their own marker (VERDICT r10 #6): the
            # functional gate runs `-m "not property"`, the property
            # suites run nightly / pre-snapshot with `-m property`
            item.add_marker(pytest.mark.property)
            continue
        if name in _NON_SMOKE_FILES:
            continue
        item.add_marker(pytest.mark.smoke)


@pytest.fixture(scope="session")
def spark():
    from py_datalake_move_files_spark.session import get_spark

    s = get_spark("pdmfs-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return "/root/testdata/sf0.01"
