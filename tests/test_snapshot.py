"""One snapshot per versioned-table operation: ``_snapshot`` lists the
log once and reads each checkpoint/entry once, every operation resolves
one and hands it down, and a checkpoint missing a current field is never
the base of a replay."""

from __future__ import annotations

import json
import os

import pytest

from medallion_data_lake_spark.operators import versioned as V
from medallion_data_lake_spark.operators.versioned import (
    commit,
    compact_small_files,
    delete_rows,
    delete_rows_dv,
    read_table,
    read_table_pruned,
    rename_column,
    update_rows,
)


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"t{i}") for i in range(lo, hi)], "id long, tag string"
    )


def test_each_operation_lists_the_log_once_and_reads_each_file_once(
    spark, tmp_path, log_access
):
    """5 commits of 10 rows with range stats and blooms on ``id``, no
    checkpoint, no racing writer: reads list ``_log`` exactly once (a
    timestamp read too, though it reads every entry), writers at most 3
    times (plan, claim, checkpoint), ``compact_small_files`` at most
    twice (plan, claim), and no operation reads any log file twice."""
    path = str(tmp_path / "t")
    for i in range(5):
        commit(_df(spark, i * 10, i * 10 + 10), path,
               stats_cols=("id",), bloom_cols=("id",))
    log = os.path.join(path, "_log")
    ts2 = V._read_entry(path, 2)["timestamp"]
    ops = [
        ("read_table", lambda: read_table(spark, path)),
        ("read_table_pruned",
         lambda: read_table_pruned(spark, path, eq={"id": 7})),
        ("read_table(as_of_timestamp)",
         lambda: read_table(spark, path, as_of_timestamp=ts2)),
        ("delete_rows", lambda: delete_rows(spark, path, keys={"id": [8]})),
        ("update_rows", lambda: update_rows(
            spark, path, {"tag": "'u'"}, keys={"id": [17]})),
        ("delete_rows_dv",
         lambda: delete_rows_dv(spark, path, keys={"id": [23]})),
        ("commit", lambda: commit(_df(spark, 50, 60), path,
                                  stats_cols=("id",), bloom_cols=("id",))),
        ("_write_checkpoint", lambda: V._write_checkpoint(path, 8)),
        ("compact_small_files",
         lambda: compact_small_files(spark, path, min_files=2)),
    ]
    for name, op in ops:
        log_access.reset()
        op()
        lists = log_access.lists.count(log)
        reads = [f for f in log_access.reads if os.path.dirname(f) == log]
        assert len(reads) == len(set(reads)), (
            f"{name} read a log file twice: {sorted(reads)}"
        )
        if name.startswith("read_table"):
            assert lists == 1, f"{name} listed _log {lists} times"
        elif name == "compact_small_files":
            assert lists <= 2, f"{name} listed _log {lists} times"
        else:
            assert lists <= 3, f"{name} listed _log {lists} times"
    assert V.latest_version(path) == 9
    assert V._read_entry(path, 9)["operation"].startswith("OPTIMIZE")
    # 9 is a CHECKPOINT_INTERVAL commit: written from the folded entry
    assert V._checkpoint_versions(path) == [8, 9]
    assert read_table(spark, path).count() == 58  # ids 0-59 but 8 and 23
    # the one-listing timestamp read resolves the same version as before
    assert V.version_at_timestamp(path, ts2) == 2
    assert read_table(spark, path, as_of_timestamp=ts2).count() == 30


@pytest.fixture(scope="module")
def evolved_table(spark, tmp_path_factory):
    """A 7-version table whose snapshot state is non-trivial in every
    checkpoint field by version 4: txn watermarks, range stats and
    blooms, a deletion vector, an evolved (mixed) schema and a renamed
    column; versions 5-6 extend the vector and the watermark."""
    path = str(tmp_path_factory.mktemp("legacy_ckpt") / "t")
    commit(_df(spark, 0, 10), path, stats_cols=("id",), bloom_cols=("id",),
           txn_app_id="app", txn_version=0)
    commit(spark.createDataFrame([(10, "t10", 1.5)],
                                 "id long, tag string, score double"),
           path, allow_schema_evolution=True, txn_app_id="app",
           txn_version=1)
    delete_rows_dv(spark, path, keys={"id": [1]})
    rename_column(spark, path, "tag", "label")
    commit(spark.createDataFrame([(11, "t11", 2.5)],
                                 "id long, label string, score double"),
           path, stats_cols=("id",))
    delete_rows_dv(spark, path, keys={"id": [2]})
    commit(spark.createDataFrame([(12, "t12", 3.5)],
                                 "id long, label string, score double"),
           path, txn_app_id="app", txn_version=2)
    assert V.latest_version(path) == 6 and not V._checkpoint_versions(path)
    return path


def _state(snap):
    return {k: getattr(snap, k) for k in ("version", *sorted(V._CKPT_FIELDS))}


@pytest.mark.parametrize("stripped", [None, *sorted(V._CKPT_FIELDS)])
def test_checkpoint_missing_a_field_is_not_a_fold_base(
    evolved_table, log_access, stripped
):
    """A mid-log checkpoint (version 4) with one current field stripped
    — a checkpoint of an older code generation, expire_log not run —
    resolves at that version and at latest exactly like a
    checkpoint-free replay, because resolution replays the entries
    below it instead. The intact checkpoint (``stripped=None``) is the
    control: it IS the base, and no entry at/below it is read."""
    path = evolved_table
    ck_file = os.path.join(V._log_dir(path), f"{4:020d}.checkpoint.json")
    if os.path.exists(ck_file):
        os.remove(ck_file)
    replay_mid, replay_tip = V._snapshot(path, 4), V._snapshot(path)
    assert replay_mid.dv and replay_mid.txns == {"app": 1}
    assert replay_mid.mixed_schema and replay_mid.column_mapping["map"]
    assert replay_mid.file_stats and replay_mid.table_schema

    V._write_checkpoint(path, 4)
    if stripped is not None:
        payload = json.load(open(ck_file))
        del payload[stripped]
        with open(ck_file, "w") as fh:
            json.dump(payload, fh)

    log_access.reset()
    assert _state(V._snapshot(path, 4)) == _state(replay_mid)
    assert _state(V._snapshot(path)) == _state(replay_tip)
    below = {
        os.path.join(V._log_dir(path), f"{v:020d}.json") for v in range(5)
    }
    read_below = below & set(log_access.reads)
    if stripped is None:
        assert not read_below, "an intact checkpoint must be the base"
    else:
        assert read_below == below, "a legacy checkpoint must be skipped"


def test_overlaps_keeps_every_file_it_cannot_rule_out():
    """The one range rule behind ``_plan_files`` and the lake source's
    batch reader: a file is skipped only when its recorded range
    provably misses the bounds."""
    assert V._overlaps(None, 5, 5)
    assert V._overlaps([], 5, 5)
    assert V._overlaps([None, None], 5, 5)
    assert V._overlaps(["2024-01-01", "2024-12-31"], 5, None)  # cross-type
    assert V._overlaps([1, 10], None, None)
    assert V._overlaps([1, 10], 10, 20) and V._overlaps([1, 10], -5, 1)
    assert not V._overlaps([1, 10], 11, None)
    assert not V._overlaps([1, 10], None, 0)
