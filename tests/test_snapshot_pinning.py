"""Unpinned-'latest' read races (ADVICE r8): every snapshot read must
resolve files, DVs, stats, and column mapping at ONE pinned version.

Were they independent 'latest' lookups, a rewrite commit landing
between them (e.g. OPTIMIZE purging DV'd rows) would pop a removed
file's deletion vector while the stale file list still includes the
file — transiently RESURRECTING deleted rows. These tests land the
rewrite right after the read's first snapshot resolution
deterministically (driver-side monkeypatch for
read_table/read_table_pruned; construct-then-rewrite for the
data-source reader, whose partitions() runs later by design).
"""

from __future__ import annotations

import os

import pytest

from medallion_data_lake_spark.operators import versioned as V
from medallion_data_lake_spark.operators.versioned import (
    commit,
    delete_rows_dv,
    latest_version,
    optimize_table,
    read_table,
    read_table_pruned,
)
from medallion_data_lake_spark.sources.lakehouse_source import (
    MedallionLakeBatchReader,
)


def _ambush_snapshot(monkeypatch, spark, path):
    """Patch _snapshot so the FIRST resolution for ``path`` is followed
    by an OPTIMIZE (materializing the DVs and dropping the original
    files) — any later lookup of 'latest' by the same read would see
    the new version: the exact interleaving the version pin defends."""
    orig = V._snapshot
    state = {"armed": True}

    def ambushed(p, version=None):
        snap = orig(p, version)
        if state["armed"] and p == path:
            state["armed"] = False  # optimize itself resolves a snapshot
            optimize_table(spark, path, target_file_bytes=1 << 30)
        return snap

    monkeypatch.setattr(V, "_snapshot", ambushed)
    return state


def test_read_table_pins_against_interleaved_optimize(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "pin")
    commit(spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, payload string"),
        path, stats_cols=("id",))
    delete_rows_dv(spark, path, keys={"id": [7, 42]})
    _ambush_snapshot(monkeypatch, spark, path)

    ids = {r.id for r in read_table(spark, path).collect()}

    assert 7 not in ids and 42 not in ids, "OPTIMIZE mid-read resurrected DV'd rows"
    assert len(ids) == 98


def test_read_table_pruned_pins_against_interleaved_optimize(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "pin")
    commit(spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, payload string"),
        path, stats_cols=("id",))
    delete_rows_dv(spark, path, keys={"id": [7, 42]})
    _ambush_snapshot(monkeypatch, spark, path)

    df, report = read_table_pruned(spark, path, col="id", lo=0, hi=99)
    ids = {r.id for r in df.collect()}

    assert 7 not in ids and 42 not in ids
    assert len(ids) == 98
    assert report["files_read"] >= 1


def test_batch_reader_pins_version_at_construction(spark, tmp_path):
    path = str(tmp_path / "pin")
    commit(spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, payload string"),
        path, stats_cols=("id",))
    delete_rows_dv(spark, path, keys={"id": [7, 42]})
    pinned = latest_version(path)
    pinned_files = V._snapshot(path, pinned).live
    pinned_dvs = V._snapshot(path, pinned).dv
    assert pinned_dvs, "fixture must carry a DV"

    reader = MedallionLakeBatchReader(path, {})
    # the rewrite lands AFTER planning started but BEFORE partitions()
    optimize_table(spark, path, target_file_bytes=1 << 30)
    parts = reader.partitions()

    assert reader._version == pinned
    got = {os.path.relpath(p.file, path) for p in parts}
    assert got == set(pinned_files), "partitions must be the pinned snapshot"
    by_rel = {os.path.relpath(p.file, path): p for p in parts}
    for rel, positions in pinned_dvs.items():
        assert by_rel[rel].drop_positions == positions, (
            "pinned snapshot must pair pinned files with PINNED DVs"
        )


def test_data_source_pins_schema_and_scan_on_one_version(spark, tmp_path):
    """schema() and reader() are SEPARATE engine calls (potentially in
    separate runner processes): both must resolve the same load-time
    version, or a commit landing between them pairs version-N's
    declared schema with version-N+1's files. End-to-end: a DataFrame
    loaded before a commit scans the load-time snapshot."""
    from medallion_data_lake_spark.sources.lakehouse_source import (
        FORMAT_NAME,
        register_lake_source,
    )

    path = str(tmp_path / "pin_ds")
    commit(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, payload string"), path)
    register_lake_source(spark)

    df = spark.read.format(FORMAT_NAME).load(path)
    # a commit lands after load (analysis) but before the scan plans
    commit(spark.createDataFrame(
        [(999, "late")], "id long, payload string"), path)

    ids = {r.id for r in df.collect()}
    assert 999 not in ids, "scan drifted past the load-time snapshot"
    assert len(ids) == 10
    # a FRESH load sees the new tip
    ids2 = {r.id for r in
            spark.read.format(FORMAT_NAME).load(path).collect()}
    assert 999 in ids2 and len(ids2) == 11
