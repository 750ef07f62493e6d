"""The default gate's stated policy (tests/conftest.py
pytest_collection_modifyitems), checked mechanically against the
committed slow list: every listed id names an existing test, and no
listed id is one the policy keeps in the default gate."""

from __future__ import annotations

import fnmatch
import importlib

from tests.conftest import slow_ids

_KEPT_NAMES = ("*_matches_oracle", "*_matches_duckdb_oracle")
_KEPT_MODULES = ("test_plans_scale.py", "test_r*_plans.py")
_KEPT_IDS = (
    "tests/test_txn.py::test_merge_model_property",
    # the TxnTable log replay and merged read: checkpoints, expiry,
    # the _base conflict snapshot, latest-wins/plain/sum reads, point
    # reads and CDC reads
    "tests/test_txn.py::test_checkpoint_compacts_replay",
    "tests/test_txn.py::test_expire_log_after_checkpoint",
    "tests/test_txn.py::test_expire_log_vintage_schemaless_table",
    "tests/test_txn.py::test_merge_base_snapshot_closes_lost_update_window",
    "tests/test_txn_runs.py::test_append_run_latest_wins_read",
    "tests/test_txn_runs.py::test_merge_only_tables_read_exactly_as_before",
    "tests/test_txn_runs.py::test_point_read_stays_bucket_pruned_over_runs",
    "tests/test_txn_runs.py::test_checkpoint_and_expiry_keep_run_order",
    "tests/test_txn_discipline.py::"
    "test_point_read_empty_bucket_plans_no_files",
    "tests/test_txn_changes.py::test_changes_net_upserts_since_version",
    "tests/test_txn_changes.py::test_changes_delta_sums_increments",
)


def _split(node_id: str) -> tuple[str, str]:
    path, func = node_id.split("::", 1)
    return path, func.split("[", 1)[0]


def test_slow_ids_name_existing_tests():
    ids = slow_ids()
    assert ids, "tests/slow_tests.txt is missing or empty"
    missing = []
    for node_id in sorted(ids):
        path, func = _split(node_id)
        mod = importlib.import_module(
            path.removesuffix(".py").replace("/", "."))
        if not (func.startswith("test_")
                and callable(getattr(mod, func, None))):
            missing.append(node_id)
    assert not missing, f"stale ids in tests/slow_tests.txt: {missing}"


def test_slow_ids_keep_policy():
    bad = []
    for node_id in sorted(slow_ids()):
        path, func = _split(node_id)
        module = path.rsplit("/", 1)[-1]
        if (any(fnmatch.fnmatchcase(func, p) for p in _KEPT_NAMES)
                or any(fnmatch.fnmatchcase(module, p)
                       for p in _KEPT_MODULES)
                or f"{path}::{func}" in _KEPT_IDS):
            bad.append(node_id)
    assert not bad, f"default-gate tests listed as slow: {bad}"
