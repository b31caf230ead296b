"""Shared test fixtures: one local SparkSession per test run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_data_lake_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# Two-tier suite (r16, closes the r15 verdict #1 verify-contract gap):
# the full suite is 808 tests / ~57 min — over the driver's pytest budget
# (VERIFY_r15 was cut at ~62% with zero failures). The DEFAULT tier skips
# the tests listed in tests/slow_tests.txt (call time >= 2s in the
# committed full-suite durations run; every test file keeps at least its
# fastest case, so each operator/query family stays covered) and finishes
# in ~10 min. The CERTIFYING run — recorded per round in COVERAGE.md — is
#   MDLS_RUN_SLOW=1 python -m pytest tests/ -q
# (env-gated like the live-broker tests, per the r15 verdict's ask).
# ---------------------------------------------------------------------------
_SLOW_LIST = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "slow_tests.txt")


def _slow_ids() -> set[str]:
    try:
        with open(_SLOW_LIST) as fh:
            return {
                ln.strip() for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except OSError:
        return set()


def pytest_collection_modifyitems(config, items):
    slow = _slow_ids()
    if not slow:
        return
    run_slow = os.environ.get("MDLS_RUN_SLOW") == "1"
    skip = pytest.mark.skip(
        reason="slow tier (tests/slow_tests.txt); set MDLS_RUN_SLOW=1"
    )
    for item in items:
        # nodeid is "tests/file.py::test[param]" relative to rootdir;
        # normalize for invocations from inside tests/
        nid = item.nodeid
        if not nid.startswith("tests/"):
            nid = "tests/" + nid
        if nid in slow:
            item.add_marker(pytest.mark.slow)
            if not run_slow:
                item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = get_spark(
        app_name="mdls-tests",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": cpus},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # MDLS_TEST_SF_DIR runs the oracle sweep at a bigger scale factor
    # (the per-round sf0.1 verification pass COVERAGE.md records)
    import os

    return os.environ.get("MDLS_TEST_SF_DIR", SF_SMOKE)


def _env(table, op, ts, data):
    import json

    return json.dumps({"table": table, "operation": op, "timestamp": ts, "data": data})


@pytest.fixture(scope="session")
def bronze_root(tmp_path_factory):
    """Five-table envelope-JSON bronze layer (shared by pipeline +
    orchestration tests)."""
    root = tmp_path_factory.mktemp("lake_bronze")
    specs = {
        "customer": [
            {"customer_id": str(i), "store_id": "1", "first_name": f"F{i}",
             "last_name": f"L{i}", "email": f"c{i}@x.com", "address_id": "1",
             "active": "1", "create_date": "2024-01-01 00:00:00",
             "last_update": "2024-01-01 00:00:00"}
            for i in range(1, 6)
        ],
        "film": [
            {"film_id": str(i), "title": f"FILM {i}", "description": "d",
             "release_year": "2006", "language_id": "1", "rental_duration": "5",
             "rental_rate": "2.99", "length": "90", "replacement_cost": "19.99",
             "rating": "PG", "special_features": "Trailers",
             "last_update": "2024-01-01 00:00:00"}
            for i in range(1, 4)
        ],
        "payment": [
            {"payment_id": str(i), "customer_id": str(i % 5 + 1), "staff_id": "1",
             "rental_id": str(i), "amount": str(round(5 + i * 1.25, 2)),
             "payment_date": f"2024-01-{i % 28 + 1:02d} 10:00:00",
             "last_update": "2024-01-01 00:00:00"}
            for i in range(1, 31)
        ],
        "rental": [
            {"rental_id": str(i), "rental_date": f"2024-01-{i % 28 + 1:02d} 09:00:00",
             "inventory_id": str(i % 3 + 1), "customer_id": str(i % 5 + 1),
             "return_date": f"2024-01-{i % 28 + 2:02d} 09:00:00", "staff_id": "1",
             "last_update": "2024-01-01 00:00:00"}
            for i in range(1, 31)
        ],
        "inventory": [
            {"inventory_id": str(i), "film_id": str(i % 3 + 1), "store_id": "1",
             "last_update": "2024-01-01 00:00:00"}
            for i in range(1, 4)
        ],
    }
    for table, rows in specs.items():
        d = root / table / "year=2024" / "month=1" / "day=1"
        d.mkdir(parents=True)
        (d / "batch.json").write_text(
            "\n".join(_env(table, "INSERT", "2024-01-01T00:00:00", r) for r in rows)
        )
    return str(root)


class _CountingLogStore:
    """The active LogStore with its ``list``/``read`` calls recorded
    (every other method passes straight through)."""

    def __init__(self, inner):
        self._inner = inner
        self.lists: list[str] = []
        self.reads: list[str] = []

    def list(self, dir_path):
        self.lists.append(dir_path)
        return self._inner.list(dir_path)

    def read(self, file_path):
        self.reads.append(file_path)
        return self._inner.read(file_path)

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def reset(self) -> None:
        self.lists.clear()
        self.reads.clear()


@pytest.fixture
def log_access():
    """Count the log touches of the code under test: installs a
    :class:`_CountingLogStore` around the active store (``lists`` /
    ``reads`` hold the paths, ``reset()`` clears them) and restores the
    store afterwards."""
    from medallion_data_lake_spark.operators.logstore import (
        get_log_store,
        set_log_store,
    )

    counting = _CountingLogStore(get_log_store())
    prev = set_log_store(counting)
    try:
        yield counting
    finally:
        set_log_store(prev)
