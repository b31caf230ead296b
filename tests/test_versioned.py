"""Log-structured versioned tables: atomicity, time travel, rollback,
vacuum, and the optimistic-concurrency contract."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.operators.versioned import (
    commit,
    history,
    latest_version,
    read_table,
    rollback,
    vacuum,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def test_append_overwrite_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    e0 = commit(_df(spark, 0, 5, "a"), path)                  # v0: 5 rows
    e1 = commit(_df(spark, 5, 8, "b"), path)                  # v1: +3
    e2 = commit(_df(spark, 100, 102, "c"), path, mode="overwrite")  # v2: =2
    assert (e0["version"], e1["version"], e2["version"]) == (0, 1, 2)
    assert latest_version(path) == 2

    assert read_table(spark, path).count() == 2               # latest
    assert read_table(spark, path, version=1).count() == 8    # pre-overwrite
    assert read_table(spark, path, version=0).count() == 5
    # time travel by timestamp: as-of v1's commit time sees v1
    assert read_table(spark, path, as_of_timestamp=e1["timestamp"]).count() == 8
    tags = {r["tag"] for r in read_table(spark, path, version=1).collect()}
    assert tags == {"a", "b"}


def test_readers_never_see_partial_state(spark, tmp_path):
    """Data lands before the log entry: a table with data written but no
    commit published is simply not visible at all."""
    path = str(tmp_path / "t")
    commit(_df(spark, 0, 4, "a"), path)
    # simulate a crashed writer: data directory exists, no log entry
    stray = os.path.join(path, "data", "commit-deadbeef")
    _df(spark, 90, 95, "ghost").write.parquet(stray)
    assert read_table(spark, path).count() == 4  # ghost files invisible
    tags = {r["tag"] for r in read_table(spark, path).collect()}
    assert tags == {"a"}


def test_version_race_loses_loudly_then_retries(spark, tmp_path):
    path = str(tmp_path / "t")
    commit(_df(spark, 0, 3, "a"), path)
    # occupy the next version number to force one lost race
    log = os.path.join(path, "_log")
    with open(os.path.join(log, f"{1:020d}.json"), "x") as fh:
        json.dump({"version": 1, "timestamp": 0.0, "mode": "append",
                   "added": [], "removed": [], "operation": "SQUATTER"}, fh)
    entry = commit(_df(spark, 3, 6, "b"), path)   # must retry past v1
    assert entry["version"] == 2
    assert read_table(spark, path).count() == 6


def test_rollback_is_metadata_only_and_history_survives(spark, tmp_path):
    path = str(tmp_path / "t")
    commit(_df(spark, 0, 6, "good"), path)
    commit(_df(spark, 0, 2, "bad"), path, mode="overwrite")
    entry = rollback(spark, path, to_version=0)
    assert entry["operation"] == "RESTORE(0)"
    assert read_table(spark, path).count() == 6
    assert {r["tag"] for r in read_table(spark, path).collect()} == {"good"}
    # the bad version remains time-travelable (RESTORE, not reset)
    assert read_table(spark, path, version=1).count() == 2
    ops = [h["operation"] for h in history(path)]
    assert ops == ["WRITE", "WRITE", "RESTORE(0)"]


def test_vacuum_deletes_only_unreferenced(spark, tmp_path):
    path = str(tmp_path / "t")
    commit(_df(spark, 0, 4, "a"), path)
    commit(_df(spark, 10, 14, "b"), path, mode="overwrite")
    commit(_df(spark, 20, 24, "c"), path, mode="overwrite")
    doomed = vacuum(path, keep_last=2)
    assert doomed  # v0's files physically gone
    # retained snapshots still read
    assert read_table(spark, path).count() == 4
    assert read_table(spark, path, version=1).count() == 4
    # v0 is no longer materializable
    with pytest.raises(Exception):
        read_table(spark, path, version=0).count()


def test_empty_overwrite_keeps_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    commit(_df(spark, 0, 3, "a"), path)
    empty = _df(spark, 0, 3, "a").filter(F.lit(False))
    commit(empty, path, mode="overwrite")
    out = read_table(spark, path)
    assert out.count() == 0
    assert out.columns == ["id", "tag"]


def test_checkpoints_bound_snapshot_resolution(spark, tmp_path):
    """Every CHECKPOINT_INTERVAL-th commit writes a log checkpoint; a
    snapshot read must resolve from checkpoint + tail, reading O(interval)
    entries — not the whole log (the O(#commits) gap SCALE.md named)."""
    import medallion_data_lake_spark.operators.versioned as V

    path = str(tmp_path / "t")
    n_commits = 40
    for i in range(n_commits):
        commit(_df(spark, i, i + 1, f"b{i}"), path)
    ckpts = V._checkpoint_versions(path)
    assert ckpts == [9, 19, 29, 39]  # interval 10, written at claim time

    # count log entries actually read during a latest-snapshot resolve
    reads = []
    orig = V._read_entry

    def counting(path_, version):
        reads.append(version)
        return orig(path_, version)

    V._read_entry = counting
    try:
        assert read_table(spark, path).count() == n_commits
    finally:
        V._read_entry = orig
    assert len(reads) <= V.CHECKPOINT_INTERVAL  # tail only, never the 40

    # stronger: entries at/below the newest checkpoint are not needed at
    # all — delete them and both latest and pinned-tail reads still work
    for v in range(30):
        os.remove(os.path.join(path, "_log", f"{v:020d}.json"))
    assert read_table(spark, path).count() == n_commits
    assert read_table(spark, path, version=35).count() == 36  # ckpt 29 + tail


def test_txn_commit_is_idempotent(spark, tmp_path):
    """Delta's txnAppId/txnVersion contract: a commit whose txn_version
    is already covered by the app's watermark is skipped (returns None),
    leaves the table unchanged, and leaves no orphan data files."""
    from medallion_data_lake_spark.operators.versioned import latest_txn_version

    path = str(tmp_path / "t")
    e = commit(_df(spark, 0, 5, "a"), path, txn_app_id="app", txn_version=0)
    assert e is not None and e["txn"] == {"app_id": "app", "version": 0}
    assert latest_txn_version(path, "app") == 0

    # replay of the same batch: skipped
    assert commit(_df(spark, 0, 5, "a"), path, txn_app_id="app", txn_version=0) is None
    assert read_table(spark, path).count() == 5
    assert latest_version(path) == 0
    assert len(os.listdir(os.path.join(path, "data"))) == 1  # no orphans

    # a LOWER version (late replay after later batches landed): skipped too
    assert commit(_df(spark, 5, 9, "b"), path, txn_app_id="app", txn_version=1) is not None
    assert commit(_df(spark, 0, 5, "a"), path, txn_app_id="app", txn_version=0) is None
    # other apps are independent
    assert commit(_df(spark, 9, 10, "c"), path, txn_app_id="other", txn_version=0) is not None
    assert read_table(spark, path).count() == 10
    # the watermark survives a checkpoint round-trip
    for i in range(12):
        commit(_df(spark, 100 + i, 101 + i, "x"), path)
    assert latest_txn_version(path, "app") == 1


def test_rollback_retries_past_version_race(spark, tmp_path):
    """rollback publishes through the same claim loop as commit: a
    squatted version number costs a retry, not an unhandled
    FileExistsError (round-3 advice)."""
    path = str(tmp_path / "t")
    commit(_df(spark, 0, 6, "good"), path)
    commit(_df(spark, 0, 2, "bad"), path, mode="overwrite")
    log = os.path.join(path, "_log")
    with open(os.path.join(log, f"{2:020d}.json"), "x") as fh:
        json.dump({"version": 2, "timestamp": 0.0, "mode": "append",
                   "added": [], "removed": [], "operation": "SQUATTER"}, fh)
    entry = rollback(spark, path, to_version=0)
    assert entry["version"] == 3
    assert read_table(spark, path).count() == 6
    assert {r["tag"] for r in read_table(spark, path).collect()} == {"good"}


def test_optimize_retries_past_append_race_and_aborts_on_delete(spark, tmp_path):
    """OPTIMIZE through the claim loop: a concurrent append costs a
    retry (appended files stay live beside the compacted ones); a
    concurrent removal of a compacted file aborts with CommitConflict
    and cleans up the stale rewrite (no orphan data)."""
    import medallion_data_lake_spark.operators.versioned as V
    from medallion_data_lake_spark.operators.versioned import (
        CommitConflict,
        optimize_table,
    )

    path = str(tmp_path / "t")
    for i in range(3):
        commit(_df(spark, i * 10, i * 10 + 10, f"b{i}"), path)
    log = os.path.join(path, "_log")
    # squat the next version to force one lost race (append-shaped: no removals)
    with open(os.path.join(log, f"{3:020d}.json"), "x") as fh:
        json.dump({"version": 3, "timestamp": 0.0, "mode": "append",
                   "added": [], "removed": [], "operation": "SQUATTER"}, fh)
    stats = optimize_table(spark, path, target_file_bytes=1 << 30)
    assert stats["version"] == 4
    assert read_table(spark, path).count() == 30

    # now race a DELETE of a live (compacted-set) file: must abort
    live = V._snapshot(path).live
    with open(os.path.join(log, f"{5:020d}.json"), "x") as fh:
        json.dump({"version": 5, "timestamp": 0.0, "mode": "append",
                   "added": [], "removed": [live[0]], "operation": "DELETER"}, fh)
    n_data_dirs = len(os.listdir(os.path.join(path, "data")))

    orig = V._snapshot
    calls = {"n": 0}

    def stale_then_fresh(p, version=None):
        # first call (the pre-rewrite read) sees the PRE-delete snapshot,
        # as if the deleter published mid-OPTIMIZE
        calls["n"] += 1
        if calls["n"] == 1:
            return orig(p, 4)
        return orig(p, version)

    V._snapshot = stale_then_fresh
    try:
        with pytest.raises(CommitConflict):
            optimize_table(spark, path, target_file_bytes=1 << 30)
    finally:
        V._snapshot = orig
    # the stale rewrite's data directory was removed, nothing orphaned
    assert len(os.listdir(os.path.join(path, "data"))) == n_data_dirs


def test_optimize_compacts_live_set_atomically(spark, tmp_path):
    path = str(tmp_path / "t")
    # many small commits -> fragmented live set
    for i in range(6):
        commit(_df(spark, i * 10, i * 10 + 10, f"b{i}"), path)
    from medallion_data_lake_spark.operators.versioned import optimize_table

    before = read_table(spark, path)
    n_before = before.count()
    stats = optimize_table(spark, path, target_file_bytes=1 << 30)
    assert stats["files_after"] < stats["files_before"]
    after = read_table(spark, path)
    assert after.count() == n_before
    assert (
        after.agg(F.sum("id")).first()[0] == before.agg(F.sum("id")).first()[0]
    )
    # pre-optimize version still resolves to the original files
    assert read_table(spark, path, version=5).count() == n_before
    assert history(path)[-1]["operation"].startswith("OPTIMIZE(")
    # vacuum now reclaims the fragmented files; optimized snapshot survives
    vacuum(path, keep_last=1)
    assert read_table(spark, path).count() == n_before


def test_concurrent_writers_all_land_distinct_versions(spark, tmp_path):
    """Five writers committing simultaneously: optimistic concurrency
    must give every one a distinct version with no lost updates — the
    union of all appended rows is the final table."""
    import threading

    path = str(tmp_path / "t")
    commit(_df(spark, 0, 1, "seed"), path)
    errors: list[Exception] = []

    def writer(i):
        try:
            commit(_df(spark, 100 * i, 100 * i + 10, f"w{i}"), path)
        except Exception as exc:  # pragma: no cover - failure reporting
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    versions = [h["version"] for h in history(path)]
    assert versions == list(range(6))  # 1 seed + 5 writers, no gaps/dups
    assert read_table(spark, path).count() == 1 + 5 * 10  # no lost updates
    tags = {r["tag"] for r in read_table(spark, path).collect()}
    assert tags == {"seed", "w1", "w2", "w3", "w4", "w5"}


def test_expire_log_bounds_metadata(spark, tmp_path):
    """expire_log = vacuum + checkpoint-based log truncation: a
    25-commit table retains a bounded log, keeps its retained snapshots
    (and txn watermarks) readable, and refuses expired versions."""
    from medallion_data_lake_spark.operators.versioned import (
        expire_log,
        latest_txn_version,
    )
    import medallion_data_lake_spark.operators.versioned as V

    path = str(tmp_path / "t")
    commit(_df(spark, 0, 3, "first"), path, txn_app_id="app", txn_version=7)
    for i in range(24):
        commit(_df(spark, 10 + i, 11 + i, f"b{i}"), path)

    out = expire_log(path, keep_last=3)
    assert out["base"] == 22
    assert out["entries_deleted"] == 22
    # the log directory is now bounded: base checkpoint + 3 entries (+ any
    # surviving newer checkpoint)
    assert V._commit_versions(path) == [22, 23, 24]
    assert min(V._checkpoint_versions(path)) == 22

    # retained snapshots read; the txn watermark survived in the checkpoint
    assert read_table(spark, path).count() == 3 + 24
    assert read_table(spark, path, version=22).count() == 3 + 22
    assert latest_txn_version(path, "app") == 7

    # expired versions refuse loudly instead of returning empty
    with pytest.raises(ValueError, match="expired"):
        read_table(spark, path, version=5)

    # and the cycle composes: more commits, another expiry, still sound
    commit(_df(spark, 100, 104, "late"), path)
    out2 = expire_log(path, keep_last=2)
    assert out2["base"] == 24
    assert read_table(spark, path).count() == 3 + 24 + 4
    assert vacuum(path, keep_last=1) == []  # nothing unreferenced remains
