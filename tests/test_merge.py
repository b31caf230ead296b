"""File-granular MERGE on the versioned table: upsert semantics AND the
scale property — only key-range-overlapping files are rewritten."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.operators.versioned import (
    _snapshot,
    commit,
    history,
    merge_into,
    read_table,
)


def _batch(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


@pytest.fixture
def table(spark, tmp_path):
    """Three disjoint-key-range commits, each with recorded id stats."""
    path = str(tmp_path / "t")
    for lo in (0, 10, 20):
        commit(_batch(spark, lo, lo + 10, f"base{lo}"), path, stats_cols=("id",))
    return path


def test_merge_upsert_semantics(spark, table):
    src = spark.createDataFrame(
        [(12, "updated"), (13, "updated"), (100, "inserted")], "id long, tag string"
    )
    stats = merge_into(spark, table, src, key="id")
    got = {r["id"]: r["tag"] for r in read_table(spark, table).collect()}
    assert len(got) == 31                      # 30 base + 1 insert
    assert got[12] == got[13] == "updated"     # matched: source wins
    assert got[100] == "inserted"              # source-only: insert
    assert got[11] == "base10" and got[0] == "base0"  # rest untouched
    assert history(table)[-1]["operation"].startswith("MERGE(")
    # pre-merge snapshot still time-travels
    assert read_table(spark, table, version=2).count() == 30
    assert stats["files_matched"] >= 1


def test_merge_rewrites_only_overlapping_files(spark, table):
    """The file-granular claim, asserted on physical paths: files whose
    recorded [min,max] id range misses the source batch keep their exact
    live paths; only the overlapping range is rewritten."""
    live_before = _snapshot(table).live
    stats_before = _snapshot(table).file_stats
    # every base file carries its range
    assert all(f in stats_before for f in live_before)

    src = spark.createDataFrame([(12, "u"), (14, "u")], "id long, tag string")
    out = merge_into(spark, table, src, key="id")

    live_after = _snapshot(table).live
    touched = set(live_before) - set(live_after)
    kept = set(live_before) & set(live_after)
    # only the [10,19] file(s) were rewritten; [0,9] and [20,29] kept
    for f in touched:
        fmin, fmax = stats_before[f]["id"]
        assert fmin <= 14 and fmax >= 12, (f, stats_before[f])
    for f in kept:
        fmin, fmax = stats_before[f]["id"]
        assert fmax < 12 or fmin > 14, (f, stats_before[f])
    assert out["files_untouched"] == len(kept) and len(kept) >= 1

    # the rewrite's own output files carry fresh stats (stay prunable)
    stats_after = _snapshot(table).file_stats
    new_files = set(live_after) - set(live_before)
    assert new_files and all(f in stats_after for f in new_files)


def test_merge_matches_naive_full_merge(spark, table):
    src = spark.createDataFrame(
        [(5, "u5"), (25, "u25"), (40, "new")], "id long, tag string"
    )
    base = read_table(spark, table)
    naive = (
        base.join(src.select(F.col("id").alias("sid")), base.id == F.col("sid"), "left_anti")
        .unionByName(src)
    )
    merge_into(spark, table, src, key="id")
    got = sorted(tuple(r) for r in read_table(spark, table).collect())
    want = sorted(tuple(r) for r in naive.collect())
    assert got == want


def test_merge_delete_rows(spark, table):
    src = spark.createDataFrame(
        [(3, "x", True), (4, "upd", False), (50, "new", False)],
        "id long, tag string, is_deleted boolean",
    )
    merge_into(spark, table, src, key="id", delete_col="is_deleted")
    got = {r["id"]: r["tag"] for r in read_table(spark, table).collect()}
    assert 3 not in got           # deleted
    assert got[4] == "upd"        # updated
    assert got[50] == "new"       # inserted
    assert len(got) == 30         # 30 base - 1 deleted + 1 inserted
    assert "is_deleted" not in read_table(spark, table).columns


def test_merge_refuses_duplicate_source_keys(spark, table):
    src = spark.createDataFrame([(1, "a"), (1, "b")], "id long, tag string")
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(spark, table, src, key="id")


def test_files_without_stats_are_conservatively_matched(spark, tmp_path):
    """A commit made without stats_cols has no range: merge must treat
    its files as overlapping (correctness over pruning)."""
    path = str(tmp_path / "t")
    commit(_batch(spark, 0, 10, "nostats"), path)  # no stats recorded
    commit(_batch(spark, 100, 110, "stats"), path, stats_cols=("id",))
    src = spark.createDataFrame([(5, "u")], "id long, tag string")
    out = merge_into(spark, path, src, key="id")
    got = {r["id"]: r["tag"] for r in read_table(spark, path).collect()}
    assert got[5] == "u" and got[105] == "stats"
    # the stats-bearing file [100,110] was prunable and stayed untouched
    assert out["files_untouched"] >= 1


def test_optimize_zorder_clusters_and_records_stats(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY: the compacted rewrite is Morton-clustered,
    so per-file [min,max] boxes are tight in BOTH zorder columns — a
    point probe on either dimension prunes to a strict subset of files
    via the recorded stats (the same ranges merge_into uses)."""
    from medallion_data_lake_spark.operators.versioned import optimize_table

    path = str(tmp_path / "t")
    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 141).alias("a"),
        ((F.col("id") * 7919) % 149).alias("b"),
        F.col("id").alias("payload"),
    )
    commit(df, path)
    stats = optimize_table(
        spark, path, target_file_bytes=15_000, zorder_by=("a", "b")
    )
    assert "ZORDER(a,b)" in stats["operation"]
    assert stats["files_after"] > 3  # multi-file layout, else nothing to skip

    ranges = _snapshot(path).file_stats
    live = _snapshot(path).live
    assert set(ranges) == set(live)
    assert all(set(r) == {"a", "b"} for r in ranges.values())

    def files_matching(col, v):
        return sum(
            1 for r in ranges.values() if r[col][0] <= v <= r[col][1]
        )

    n_files = len(live)
    # z-clustering keeps BOTH dimensions skippable: a point probe on
    # either column must exclude at least some files
    assert files_matching("a", 70) < n_files
    assert files_matching("b", 74) < n_files
    # and the table still reads whole
    assert read_table(spark, path).count() == n


def test_stats_survive_checkpoint_roundtrip(spark, tmp_path):
    """file_stats resolve from checkpoint + tail once the log checkpoints
    (12 commits > interval), so merge pruning stays O(tail)."""
    import os

    path = str(tmp_path / "t")
    for i in range(12):
        commit(_batch(spark, i * 10, i * 10 + 10, f"b{i}"), path, stats_cols=("id",))
    import medallion_data_lake_spark.operators.versioned as V

    assert V._checkpoint_versions(path)  # checkpointed
    # pre-checkpoint entries unnecessary for stats resolution
    for v in range(10):
        os.remove(os.path.join(path, "_log", f"{v:020d}.json"))
    stats = _snapshot(path).file_stats
    live = _snapshot(path).live
    assert set(stats) == set(live) and len(live) >= 12


def test_merge_insert_only_batch_rewrites_nothing(spark, table):
    """A source batch whose key range misses every file is a pure
    insert: zero files rewritten, all live paths preserved."""
    live_before = _snapshot(table).live
    src = spark.createDataFrame(
        [(500, "n1"), (501, "n2")], "id long, tag string"
    )
    out = merge_into(spark, table, src, key="id")
    assert out["files_matched"] == 0
    live_after = _snapshot(table).live
    assert set(live_before) <= set(live_after)  # nothing rewritten
    got = {r["id"]: r["tag"] for r in read_table(spark, table).collect()}
    assert len(got) == 32 and got[500] == "n1" and got[0] == "base0"


def test_read_table_pruned_skips_files_by_stats(spark, table):
    """Stats-pruned reads open only the range-overlapping files and
    still return exactly the predicate's rows."""
    from medallion_data_lake_spark.operators.versioned import read_table_pruned

    # each commit wrote several part-files; stats are per PART-FILE, so
    # pruning is finer than per-commit: a 4-key probe must skip the vast
    # majority of files (both other commits AND non-overlapping parts of
    # its own commit)
    df, report = read_table_pruned(spark, table, "id", lo=12, hi=15)
    assert report["files_total"] == report["files_read"] + report["files_skipped"]
    assert report["files_read"] <= report["files_total"] // 2
    assert sorted(r["id"] for r in df.collect()) == [12, 13, 14, 15]

    # open-ended range: only the [20,29] commit's files are opened
    df2, rep2 = read_table_pruned(spark, table, "id", lo=20)
    assert rep2["files_read"] <= rep2["files_total"] // 2 and df2.count() == 10

    # a range nothing matches: zero files opened, empty-but-typed result
    df3, rep3 = read_table_pruned(spark, table, "id", lo=400, hi=500)
    assert rep3["files_read"] == 0 and df3.count() == 0
    assert df3.columns == ["id", "tag"]

    # version pinning composes: pre-merge snapshot prunes by OLD stats
    src = spark.createDataFrame([(12, "u")], "id long, tag string")
    merge_into(spark, table, src, key="id")
    df4, rep4 = read_table_pruned(spark, table, "id", lo=12, hi=12, version=2)
    assert rep4["files_read"] < rep4["files_total"]
    assert [r["tag"] for r in df4.collect()] == ["base10"]  # pre-merge value


def test_read_table_pruned_multi_column_conjunctive(spark, tmp_path):
    """Multi-column predicates prune CONJUNCTIVELY: on a z-ordered
    layout each file covers a compact box in BOTH columns, so a 2-D
    probe skips at least as many files as either 1-D probe alone — the
    read-side payoff OPTIMIZE ZORDER BY exists for."""
    from medallion_data_lake_spark.operators.versioned import (
        commit,
        optimize_table,
        read_table_pruned,
    )

    path = str(tmp_path / "zvt")
    grid = spark.range(0, 4096).selectExpr(
        "CAST(id % 64 AS BIGINT) AS x",
        "CAST(id DIV 64 AS BIGINT) AS y",
        "id AS payload",
    )
    commit(grid, path)
    optimize_table(
        spark, path, target_file_bytes=4 * 1024,
        zorder_by=("x", "y"), stats_cols=("x", "y"),
    )

    box, rep2d = read_table_pruned(
        spark, path, predicates={"x": (10, 13), "y": (10, 13)}
    )
    assert box.count() == 16
    assert {(r["x"], r["y"]) for r in box.collect()} == {
        (x, y) for x in range(10, 14) for y in range(10, 14)}

    _, rep_x = read_table_pruned(spark, path, "x", lo=10, hi=13)
    _, rep_y = read_table_pruned(spark, path, "y", lo=10, hi=13)
    assert rep2d["files_read"] <= min(rep_x["files_read"], rep_y["files_read"])
    assert rep2d["files_skipped"] > 0


def test_delete_rows_is_file_granular_and_time_travels(spark, tmp_path):
    """DELETE: only range-matching files rewrite; untouched files stay
    live by identity; history shows the rows until vacuum; no-match
    publishes nothing."""
    from medallion_data_lake_spark.operators.versioned import (
        _snapshot,
        commit,
        delete_rows,
        history,
        read_table,
    )

    path = str(tmp_path / "vt")
    for lo in (0, 100, 200):  # three disjoint key-range commits
        commit(
            spark.range(lo, lo + 50).selectExpr(
                "id", "CAST(id % 2 AS INT) AS parity"),
            path, stats_cols=("id",),
        )
    before = set(_snapshot(path).live)

    out = delete_rows(
        spark, path, predicates={"id": (110, 130)}, where="parity = 0"
    )
    assert out is not None and out["rows_deleted"] == 11  # evens in 110..130
    assert out["files_untouched"] > 0
    after = set(_snapshot(path).live)
    # untouched files are live by IDENTITY (not rewritten copies)
    assert (before & after) and (before - after) == set(out["removed"])

    got = read_table(spark, path)
    assert got.count() == 150 - 11
    assert got.filter("id BETWEEN 110 AND 130 AND parity = 0").count() == 0
    assert got.filter("id BETWEEN 110 AND 130 AND parity = 1").count() == 10
    # time travel still shows the deleted rows
    assert read_table(spark, path, version=2).count() == 150
    assert any(h["operation"].startswith("DELETE(") for h in history(path))

    # a predicate matching nothing: no commit published
    n_versions = len(history(path))
    assert delete_rows(spark, path, predicates={"id": (9000, 9999)}) is None
    assert delete_rows(
        spark, path, predicates={"id": (0, 10)}, where="parity = 5"
    ) is None
    assert len(history(path)) == n_versions

    # idempotent-writer contract
    assert delete_rows(
        spark, path, predicates={"id": (0, 5)},
        txn_app_id="gdpr", txn_version=1,
    ) is not None
    assert delete_rows(
        spark, path, predicates={"id": (0, 5)},
        txn_app_id="gdpr", txn_version=1,
    ) is None


def test_delete_and_update_rewrite_only_files_holding_a_match(spark, tmp_path):
    """Two files whose id ranges both admit the predicate, a matching
    row in only one: DELETE and UPDATE replace exactly that file, and
    the other stays live by identity."""
    from medallion_data_lake_spark.operators.versioned import (
        delete_rows,
        update_rows,
    )

    path = str(tmp_path / "vt")
    for tag in ("a", "b"):
        commit(spark.range(0, 10).selectExpr("id", f"'{tag}' AS tag")
               .coalesce(1), path, stats_cols=("id",))
    file_a, file_b = _snapshot(path).live

    out = delete_rows(spark, path, predicates={"id": (0, 9)},
                      where="tag = 'a' AND id < 3")
    assert out["removed"] == [file_a] and out["rows_deleted"] == 3
    assert (out["files_matched"], out["files_untouched"]) == (1, 1)
    live = _snapshot(path).live
    assert file_b in live and file_a not in live
    (new_a,) = set(live) - {file_b}

    out = update_rows(spark, path, set_exprs={"tag": "'z'"},
                      predicates={"id": (0, 9)}, where="tag = 'b' AND id = 7")
    assert out["removed"] == [file_b] and out["rows_updated"] == 1
    assert new_a in _snapshot(path).live
    got = sorted(tuple(r) for r in read_table(spark, path).collect())
    assert got == sorted(
        [(i, "a") for i in range(3, 10)]
        + [(i, "z" if i == 7 else "b") for i in range(10)]
    )


def test_update_and_delete_retry_past_append_race_and_abort_on_removal(
    spark, tmp_path
):
    """UPDATE/DELETE through the shared claim loop: a squatted version
    (concurrent append) costs a retry; a concurrent removal of a file
    they rewrote aborts with CommitConflict and leaves no orphan data."""
    import json as _json
    import os as _os

    import medallion_data_lake_spark.operators.versioned as V
    from medallion_data_lake_spark.operators.versioned import (
        CommitConflict,
        commit,
        delete_rows,
        read_table,
        update_rows,
    )

    path = str(tmp_path / "t")
    commit(
        spark.range(0, 20).selectExpr("id", "'open' AS tag"), path,
        stats_cols=("id",),
    )
    log = _os.path.join(path, "_log")
    # squat the next version: the writer must lose one race and retry
    with open(_os.path.join(log, f"{1:020d}.json"), "x") as fh:
        _json.dump({"version": 1, "timestamp": 0.0, "mode": "append",
                    "added": [], "removed": [], "operation": "SQUATTER"}, fh)
    out = update_rows(spark, path, set_exprs={"tag": "'done'"},
                      predicates={"id": (0, 4)})
    assert out is not None and out["version"] == 2
    assert read_table(spark, path).filter("tag = 'done'").count() == 5

    # concurrent removal of a rewritten file mid-flight: abort + cleanup
    live = V._snapshot(path).live
    orig = V._snapshot
    calls = {"n": 0}

    def stale_then_fresh(p, version=None):
        # first call (the pre-rewrite file matching) sees the PRE-removal
        # snapshot (version 2), as if the deleter published mid-DELETE
        calls["n"] += 1
        if calls["n"] == 1:
            return orig(p, 2)
        return orig(p, version)

    n_dirs = len(_os.listdir(_os.path.join(path, "data")))
    V._snapshot = stale_then_fresh
    try:
        with open(_os.path.join(log, f"{3:020d}.json"), "x") as fh:
            _json.dump({"version": 3, "timestamp": 0.0, "mode": "append",
                        "added": [], "removed": [live[0]],
                        "operation": "DELETER"}, fh)
        import pytest as _pytest

        with _pytest.raises(CommitConflict):
            delete_rows(spark, path, predicates={"id": (0, 50)})
    finally:
        V._snapshot = orig
    # stale rewrite cleaned up: no orphan commit dir
    assert len(_os.listdir(_os.path.join(path, "data"))) == n_dirs


def test_temporal_stats_pruning_and_merge(spark, tmp_path):
    """REGRESSION (r7): file stats render non-numeric min/max as
    strings, but range probes compared NATIVE Python values against
    them — a timestamp-keyed merge or a datetime-bounded pruned read
    raised TypeError ('<' between str and datetime). Probes now render
    through _stat_probe (the stats' own rendering; date bounds promote
    to midnight on timestamp columns) so temporal pruning works AND
    prunes correctly."""
    import datetime

    from medallion_data_lake_spark.operators.versioned import (
        commit,
        merge_into,
        read_table,
        read_table_pruned,
    )

    path = str(tmp_path / "vt")
    for b in range(3):  # one month per commit: disjoint ts ranges
        rows = [
            (datetime.datetime(2024, 1 + b, d), f"v{b}-{d}")
            for d in range(1, 11)
        ]
        commit(spark.createDataFrame(rows, "ts timestamp, p string"),
               path, stats_cols=("ts",))

    df, rep = read_table_pruned(spark, path, predicates={
        "ts": (datetime.datetime(2024, 2, 2), datetime.datetime(2024, 2, 3)),
    })
    assert df.count() == 2
    assert rep["files_skipped"] > 0          # other months pruned

    # date (not datetime) bounds on a timestamp column: midnight
    # promotion keeps the boundary row IN (Spark's cast semantics)
    df2, rep2 = read_table_pruned(spark, path, predicates={
        "ts": (datetime.date(2024, 2, 2), datetime.date(2024, 2, 3)),
    })
    assert df2.count() == 2                  # rows AT midnight included
    assert rep2["files_skipped"] > 0

    src = spark.createDataFrame(
        [(datetime.datetime(2024, 2, 5), "NEW")], "ts timestamp, p string")
    out = merge_into(spark, path, src, key="ts")
    assert out is not None and out["files_untouched"] > 0  # pruned merge
    got = read_table(spark, path)
    assert got.filter(F.col("p") == "NEW").count() == 1
    assert got.count() == 30                 # upsert replaced, not added


def test_datetime_probe_on_date_column_not_false_pruned(spark, tmp_path):
    """Symmetric temporal case (r7 self-review): a DATETIME bound on a
    DATE column must demote to its date for the stats compare — the
    longer timestamp rendering lexically exceeds the stored date string
    and boundary files were silently pruned."""
    import datetime

    from medallion_data_lake_spark.operators.versioned import (
        commit,
        read_table_pruned,
    )

    path = str(tmp_path / "vt")
    for b in range(3):
        rows = [
            (datetime.date(2024, 1 + b, d), f"v{b}-{d}") for d in range(1, 11)
        ]
        commit(spark.createDataFrame(rows, "d date, p string"),
               path, stats_cols=("d",))
    # midnight datetime bounds spanning one stored date
    df, rep = read_table_pruned(spark, path, predicates={
        "d": (datetime.datetime(2024, 2, 5), datetime.datetime(2024, 2, 5)),
    })
    assert df.count() == 1                   # pre-fix: 0 (file pruned)
    assert rep["files_skipped"] > 0          # other months still pruned
