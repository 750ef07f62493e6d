from __future__ import annotations

import os

import pytest

from data_ingestion_challenge_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

_SLOW_LIST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def slow_ids() -> set[str]:
    """Node ids listed in tests/slow_tests.txt (empty if absent)."""
    try:
        with open(_SLOW_LIST) as fh:
            return {ln.strip() for ln in fh
                    if ln.strip() and not ln.startswith("#")}
    except OSError:
        return set()


def pytest_collection_modifyitems(config, items):
    """Attach the `slow` marker from the COMMITTED measured list
    (tests/slow_tests.txt, node ids of the heavyweight tests: >= ~9 s
    in the r18 baseline run, plus the >= ~2.5 s band of the r18
    instrumented gate run) instead of scattering decorators over many
    files: pytest.ini deselects `slow` by default so the default
    verify command fits its time window, while `-m "slow or not slow"`
    runs everything — see pytest.ini for the contract.  Whatever its
    duration, the list never holds a `*_matches_oracle` /
    `*_matches_duckdb_oracle` parity test, a plan-pin module
    (test_plans_scale.py, test_r*_plans.py) or
    test_txn.py::test_merge_model_property, the model-based reference
    for MERGE, or one of the TxnTable log-replay and merged-read pins
    named in tests/test_gate_policy.py.  It DOES demote most hypothesis equivalence properties
    (test_properties.py) and most of the sharded-sink battery
    (test_shard_sink.py); those run only in the full suite.  These
    keep rules, and that every listed id names an existing test, are
    enforced by tests/test_gate_policy.py."""
    slow = slow_ids()
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    import os
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cat(spark):
    from data_ingestion_challenge_spark.catalog import Catalog
    return Catalog(spark, SF_DIR)


def plan_string(spark, name: str) -> str:
    """Executed-plan string for a registered query at SF_DIR — the
    shared helper behind the plan-pin modules (test_r12/r13/r15_plans
    carried drifting copies before r15).  Scoped: the spark fixture is
    session-wide, so a leaked metadata length would make later
    plan-string tests order-dependent."""
    from data_ingestion_challenge_spark.plans import QUERIES
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        df = QUERIES[name](spark, SF_DIR)
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


@pytest.fixture(scope="module", params=("/root/testdata/sf0.001",
                                        "/root/testdata/sf0.01"))
def sf_pair(request, spark):
    """(Catalog, DuckDB connection) over the SAME SF dir, all ten
    tables registered — the shared oracle-parity fixture the
    candidate-pool test modules use (one definition; the per-file
    copies drifted on their table lists)."""
    import duckdb

    from data_ingestion_challenge_spark.catalog import Catalog
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "orders",
              "lineitem", "supplier", "customer", "nation", "part",
              "region"):
        con.sql(f"CREATE VIEW {t} AS SELECT * "
                f"FROM '{request.param}/{t}.parquet'")
    return Catalog(spark, request.param), con
