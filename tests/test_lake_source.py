"""The ``medallion_lake`` Python Data Source
(sources/lakehouse_source.py): the versioned table as a native Spark
format — batch reads match ``read_table`` exactly (DVs, renames,
schema evolution), batch file skipping prunes partitions via pushed
filters, and the STREAMING reader tails the commit log with
engine-managed exactly-once offsets (snapshot + tail, restart
recovery, Delta-parity failure modes on non-append commits, CDF rows
that net-apply to the current table)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.operators.versioned import (
    commit,
    delete_rows_dv,
    optimize_table,
    read_table,
    rename_column,
    update_rows,
)
from medallion_data_lake_spark.sources.lakehouse_source import (
    FORMAT_NAME,
    read_table_stream,
    register_lake_source,
)


def _mk(spark, tmp_path, name="vt"):
    path = str(tmp_path / name)
    commit(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)],
            "id long, tag string, score double",
        ),
        path,
    )
    return path


def _more(spark, rows, ddl="id long, tag string, score double"):
    return spark.createDataFrame(rows, ddl)


def _run_available_now(df, out, ck):
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q


def _rows(spark, out, cols=("id", "tag")):
    files = [
        f for f in os.listdir(out) if f.endswith(".parquet")
    ] if os.path.isdir(out) else []
    if not files:
        return []
    try:
        df = spark.read.parquet(out)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())
    except Exception:
        # mid-write race while polling a live stream's sink: the
        # _spark_metadata log may not have committed any file yet
        return []


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------


def test_batch_read_matches_read_table(spark, tmp_path):
    """DV delete + metadata-only rename: the data source and the JVM
    read path must agree byte-for-byte on rows AND logical names."""
    path = _mk(spark, tmp_path)
    commit(_more(spark, [(3, "c", 30.0)]), path)
    delete_rows_dv(spark, path, keys={"id": [2]})
    rename_column(spark, path, "score", "rating")

    register_lake_source(spark)
    got = spark.read.format(FORMAT_NAME).load(path)
    assert got.columns == ["id", "tag", "rating"]
    want = read_table(spark, path)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_batch_read_evolved_table_nulls_missing_columns(spark, tmp_path):
    """Pre-evolution files lack the new physical column — the reader
    must null-fill per file, mirroring mergeSchema semantics."""
    path = _mk(spark, tmp_path)
    commit(
        _more(spark, [(3, "c", 30.0, "x")],
              "id long, tag string, score double, extra string"),
        path,
        allow_schema_evolution=True,
    )
    register_lake_source(spark)
    got = spark.read.format(FORMAT_NAME).load(path)
    by_id = {r["id"]: r["extra"] for r in got.collect()}
    assert by_id == {1: None, 2: None, 3: "x"}


def test_columns_option_projects_schema_and_read(spark, tmp_path):
    """Manual projection pushdown (the Python source API has no
    automatic column pruning): the declared schema narrows AND the
    per-file parquet read only touches the named columns."""
    path = _mk(spark, tmp_path)
    register_lake_source(spark)
    df = (
        spark.read.format(FORMAT_NAME).option("columns", "id").load(path)
    )
    assert df.columns == ["id"]
    assert {r["id"] for r in df.collect()} == {1, 2}
    with pytest.raises(Exception, match="not in the table schema"):
        spark.read.format(FORMAT_NAME).option(
            "columns", "nope"
        ).load(path).collect()
    # streaming honors it too (CDF columns append after the projection)
    sdf = read_table_stream(spark, path, columns="id",
                            read_change_feed=True)
    assert sdf.columns == ["id", "_change_type", "_commit_version"]


def test_batch_read_version_pin(spark, tmp_path):
    path = _mk(spark, tmp_path)
    commit(_more(spark, [(3, "c", 30.0)]), path)
    register_lake_source(spark)
    v0 = (
        spark.read.format(FORMAT_NAME).option("version", "0").load(path)
    )
    assert {r["id"] for r in v0.collect()} == {1, 2}


def test_batch_pushdown_prunes_files(spark, tmp_path):
    """Two files with disjoint id ranges + an id predicate: the pushed
    filter must shrink the scan to ONE input partition (file skipping
    via the log's per-file stats), and results stay exact."""
    path = str(tmp_path / "vt")
    commit(_more(spark, [(1, "a", 1.0), (2, "b", 2.0)]), path,
           stats_cols=("id",))
    commit(_more(spark, [(100, "x", 3.0), (200, "y", 4.0)]), path,
           stats_cols=("id",))
    register_lake_source(spark)
    df = spark.read.format(FORMAT_NAME).load(path).filter(F.col("id") >= 100)
    assert {r["id"] for r in df.collect()} == {100, 200}
    # unit-level: the reader's partitions() honors the pushed range
    from pyspark.sql.datasource import GreaterThanOrEqual

    from medallion_data_lake_spark.sources.lakehouse_source import (
        MedallionLakeBatchReader,
    )

    import pyarrow as pa

    from medallion_data_lake_spark.sources.lakehouse_source import (
        _read_lake_partition,
    )

    reader = MedallionLakeBatchReader(path, {})
    n_all = len(reader.partitions())
    leftover = list(reader.pushFilters([GreaterThanOrEqual(("id",), 100)]))
    assert len(leftover) == 1  # every filter stays with Spark (residual)
    pruned = reader.partitions()
    assert len(pruned) < n_all
    admitted = pa.Table.from_batches(
        [b for p in pruned for b in _read_lake_partition(p)]
    )
    assert set(admitted.column("id").to_pylist()) == {100, 200}


# ---------------------------------------------------------------------------
# streaming: snapshot + tail, exactly-once restart
# ---------------------------------------------------------------------------


def test_stream_snapshot_then_tail_exactly_once(spark, tmp_path):
    path = _mk(spark, tmp_path)
    delete_rows_dv(spark, path, keys={"id": [2]})  # snapshot honors DVs
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    _run_available_now(read_table_stream(spark, path), out, ck)
    assert _rows(spark, out) == [(1, "a")]

    commit(_more(spark, [(3, "c", 30.0)]), path)
    commit(_more(spark, [(4, "d", 40.0)]), path)
    _run_available_now(read_table_stream(spark, path), out, ck)
    assert _rows(spark, out) == [(1, "a"), (3, "c"), (4, "d")]

    # re-run with zero new commits: no duplicates (offset idempotence)
    _run_available_now(read_table_stream(spark, path), out, ck)
    assert _rows(spark, out) == [(1, "a"), (3, "c"), (4, "d")]


def test_stream_starting_version_latest_skips_history(spark, tmp_path):
    path = _mk(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(
        read_table_stream(spark, path, starting_version="latest"), out, ck
    )
    assert _rows(spark, out) == []
    commit(_more(spark, [(3, "c", 30.0)]), path)
    _run_available_now(
        read_table_stream(spark, path, starting_version="latest"), out, ck
    )
    assert _rows(spark, out) == [(3, "c")]


def test_stream_starting_version_replays_from_there(spark, tmp_path):
    path = _mk(spark, tmp_path)                     # v0
    commit(_more(spark, [(3, "c", 30.0)]), path)    # v1
    commit(_more(spark, [(4, "d", 40.0)]), path)    # v2
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(
        read_table_stream(spark, path, starting_version=1), out, ck
    )
    assert _rows(spark, out) == [(3, "c"), (4, "d")]


def test_stream_optimize_is_invisible(spark, tmp_path):
    """Compaction rewrites files but changes no rows — the tail must
    emit nothing for it (the property that makes auto-compaction safe
    inside ingest loops)."""
    path = _mk(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(read_table_stream(spark, path), out, ck)
    commit(_more(spark, [(3, "c", 30.0)]), path)
    optimize_table(spark, path)
    _run_available_now(read_table_stream(spark, path), out, ck)
    assert _rows(spark, out) == [(1, "a"), (2, "b"), (3, "c")]


def test_stream_rename_between_restarts_binds_by_physical(spark, tmp_path):
    """A rename between restarts surfaces the NEW logical name on the
    restarted stream (Delta-style: schema changes appear at restart),
    and the physical-name binding keeps the VALUES correct — the
    post-rename append's bytes land under the renamed column, never
    misbound, and the alter commit itself emits nothing."""
    path = _mk(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(read_table_stream(spark, path), out, ck)
    rename_column(spark, path, "score", "rating")
    commit(_more(spark, [(3, "c", 30.0)],
                 "id long, tag string, rating double"), path)
    sdf = read_table_stream(spark, path)
    assert sdf.columns == ["id", "tag", "rating"]
    _run_available_now(sdf, out, ck)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    got = {
        r["id"]: (r["score"], r["rating"]) for r in merged.collect()
    }
    # run-1 rows under the old name, run-2's row under the new — and
    # exactly one output row per id (no re-emission of the snapshot)
    assert got == {1: (10.0, None), 2: (20.0, None), 3: (None, 30.0)}


# ---------------------------------------------------------------------------
# streaming: non-append commits (Delta-parity failure modes)
# ---------------------------------------------------------------------------


def test_stream_fails_on_delete_without_flags(spark, tmp_path):
    path = _mk(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(read_table_stream(spark, path), out, ck)
    delete_rows_dv(spark, path, keys={"id": [1]})
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="ignoreDeletes"):
        _run_available_now(read_table_stream(spark, path), out, ck)


def test_stream_ignore_deletes_skips_delete_commits(spark, tmp_path):
    path = _mk(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(
        read_table_stream(spark, path, ignore_deletes=True), out, ck
    )
    delete_rows_dv(spark, path, keys={"id": [1]})
    commit(_more(spark, [(3, "c", 30.0)]), path)
    _run_available_now(
        read_table_stream(spark, path, ignore_deletes=True), out, ck
    )
    assert _rows(spark, out) == [(1, "a"), (2, "b"), (3, "c")]


def test_stream_ignore_changes_reemits_rewrites(spark, tmp_path):
    """Delta's documented ignoreChanges contract: an UPDATE's rewritten
    files re-emit (copied rows duplicate downstream — by design)."""
    path = _mk(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(
        read_table_stream(spark, path, ignore_changes=True), out, ck
    )
    update_rows(spark, path, {"tag": "'B'"}, where="id = 2")
    _run_available_now(
        read_table_stream(spark, path, ignore_changes=True), out, ck
    )
    got = _rows(spark, out)
    # original snapshot + the full rewritten file (both rows again)
    assert got.count((2, "B")) == 1      # updated value arrived
    assert (2, "b") in got               # pre-image from the snapshot


# ---------------------------------------------------------------------------
# streaming: change-data-feed mode
# ---------------------------------------------------------------------------


def test_stream_cdf_net_applies_to_current_table(spark, tmp_path):
    """insert/delete rows from the CDF stream, net-applied as a
    multiset, must reproduce the live table exactly — across appends,
    an update rewrite (uncancelled form), and a DV delete."""
    path = _mk(spark, tmp_path)
    commit(_more(spark, [(3, "c", 30.0)]), path)
    update_rows(spark, path, {"tag": "'B'"}, where="id = 2")
    delete_rows_dv(spark, path, keys={"id": [1]})

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(
        read_table_stream(spark, path, read_change_feed=True,
                          starting_version=0),
        out, ck,
    )
    rows = spark.read.parquet(out).collect()
    assert set(r["_change_type"] for r in rows) <= {"insert", "delete"}
    from collections import Counter

    net: Counter = Counter()
    for r in rows:
        delta = 1 if r["_change_type"] == "insert" else -1
        net[(r["id"], r["tag"], r["score"])] += delta
    # negatives must FAIL, not vanish: range(c) of a negative count is
    # empty, which would let an over-emitted delete slip through the
    # "lossless decomposition" check
    assert all(c >= 0 for c in net.values()), dict(net)
    applied = sorted(k for k, c in net.items() for _ in range(c))
    current = sorted(map(tuple, read_table(spark, path).collect()))
    assert applied == current


def test_stream_cdf_snapshot_mode_tags_inserts(spark, tmp_path):
    """Default (no startingVersion) + CDF: the initial snapshot arrives
    as inserts at the stream-start version, then changes tail."""
    path = _mk(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(
        read_table_stream(spark, path, read_change_feed=True), out, ck
    )
    rows = spark.read.parquet(out).collect()
    assert {(r["_change_type"], r["_commit_version"]) for r in rows} == {
        ("insert", 0)
    }
    delete_rows_dv(spark, path, keys={"id": [2]})
    _run_available_now(
        read_table_stream(spark, path, read_change_feed=True), out, ck
    )
    rows = spark.read.parquet(out).collect()
    deletes = [r for r in rows if r["_change_type"] == "delete"]
    assert [(r["id"], r["_commit_version"]) for r in deletes] == [(2, 1)]


def test_stream_max_versions_per_batch_bounds_catchup(spark, tmp_path):
    """A running consumer that falls behind gets bounded micro-batches
    — offsets advance <= N versions per batch after the first one (the
    Python source API gives latestOffset no start offset, so the first
    planned batch of a run is unbounded by design; see the reader's
    latestOffset). Needs a processing-time trigger: availableNow falls
    back to single-batch for Python sources, which would mask the
    throttle."""
    import json
    import time

    path = _mk(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        read_table_stream(spark, path, starting_version=0,
                          max_versions_per_batch=2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(_rows(spark, out)) < 2:
            time.sleep(0.25)          # batch 0 (v0) landed
        for i in range(3, 9):         # now fall 6 commits behind
            commit(_more(spark, [(i, f"r{i}", float(i))]), path)
        deadline = time.time() + 120
        while time.time() < deadline and len(_rows(spark, out)) < 8:
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(_rows(spark, out)) == 8  # all rows, exactly once
    offsets_dir = os.path.join(ck, "offsets")
    batches = sorted(
        int(f) for f in os.listdir(offsets_dir) if f.isdigit()
    )
    ends = []
    for b in batches:
        with open(os.path.join(offsets_dir, str(b))) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        ends.append(json.loads(lines[-1])["version"])
    steps = [b - a for a, b in zip(ends, ends[1:])]
    # catch-up from v0 to v6 at <=2 versions per step -> >=3 more
    # batches after batch 0, every step bounded
    assert len(steps) >= 3
    assert all(s <= 2 for s in steps)


# ---------------------------------------------------------------------------
# review-fix regressions (r8 second-pass review of the source)
# ---------------------------------------------------------------------------


def test_batch_read_zero_admitted_files_returns_empty(spark, tmp_path):
    """The engine substitutes [None] for an empty partitions() list —
    a filter that prunes EVERY file (or an all-deleted snapshot) must
    come back as 0 rows, not a worker crash."""
    path = str(tmp_path / "vt")
    commit(_more(spark, [(1, "a", 1.0), (2, "b", 2.0)]), path,
           stats_cols=("id",))
    register_lake_source(spark)
    df = (
        spark.read.format(FORMAT_NAME).load(path)
        .filter(F.col("id") > 10**6)
    )
    assert df.count() == 0


def test_batch_read_change_feed_refused_with_pointer(spark, tmp_path):
    path = _mk(spark, tmp_path)
    register_lake_source(spark)
    with pytest.raises(Exception, match="table_changes"):
        (
            spark.read.format(FORMAT_NAME)
            .option("readChangeFeed", "true")
            .load(path)
            .collect()
        )


def test_stream_starting_version_beyond_tip_refused(spark, tmp_path):
    path = _mk(spark, tmp_path)  # tip = v0
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="out of range"):
        _run_available_now(
            read_table_stream(spark, path, starting_version=5), out, ck
        )
    # tip+1 is legal: "everything after the current tip"
    _run_available_now(
        read_table_stream(spark, path, starting_version=1), out, ck
    )
    assert _rows(spark, out) == []


def test_stream_refuses_expired_gap(spark, tmp_path):
    """A stream down longer than log retention must fail loudly on
    restart (consumer-drift hazard), not silently replay only the
    retained tail — same contract as table_changes."""
    from medallion_data_lake_spark.operators.versioned import expire_log

    path = _mk(spark, tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(read_table_stream(spark, path), out, ck)  # @v0
    for i in range(3, 7):
        commit(_more(spark, [(i, f"r{i}", float(i))]), path)
    expire_log(path, keep_last=1)

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="expired"):
        _run_available_now(read_table_stream(spark, path), out, ck)


# ---------------------------------------------------------------------------
# streaming SINK: writeStream.format("medallion_lake")
# ---------------------------------------------------------------------------


def _sink(df, dst, ck, app="t", **opts):
    w = (
        df.writeStream.format(FORMAT_NAME)
        .option("path", dst)
        .option("txnAppId", app)
        .option("checkpointLocation", ck)
    )
    for k, v in opts.items():
        w = w.option(k, str(v))
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(180)


def test_sink_roundtrip_exactly_once_with_stats(spark, tmp_path):
    """source table -> stream -> sink table: rows arrive exactly once
    across restarts, commits land as versioned entries with the txn
    watermark, and numeric per-file stats ride the log (usable by
    later merge/delete pruning on the destination)."""
    from medallion_data_lake_spark.operators.versioned import (
        _snapshot,
        history,
    )

    src = _mk(spark, tmp_path, "src")
    dst, ck = str(tmp_path / "dst"), str(tmp_path / "ckink")
    register_lake_source(spark)

    _sink(read_table_stream(spark, src), dst, ck, statsColumns="id")
    assert sorted(map(tuple, read_table(spark, dst).collect())) == [
        (1, "a", 10.0), (2, "b", 20.0)
    ]
    commit(_more(spark, [(3, "c", 30.0)]), src)
    _sink(read_table_stream(spark, src), dst, ck, statsColumns="id")
    got = sorted(map(tuple, read_table(spark, dst).collect()))
    assert got == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    ops = {h.get("operation") for h in history(dst)}
    assert ops == {"STREAM-SINK(t)"}
    stats = _snapshot(dst).file_stats
    assert stats and all("id" in s for s in stats.values())


def test_sink_requires_txn_app_id(spark, tmp_path):
    src = _mk(spark, tmp_path, "src")
    register_lake_source(spark)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(Exception, match="txnAppId"):
        q = (
            read_table_stream(spark, src)
            .writeStream.format(FORMAT_NAME)
            .option("path", str(tmp_path / "dst"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)


def test_sink_refuses_constrained_tables_and_bad_stats_cols(
    spark, tmp_path
):
    from medallion_data_lake_spark.operators.versioned import (
        set_table_constraints,
    )

    src = _mk(spark, tmp_path, "src")
    dst = _mk(spark, tmp_path, "dst")
    set_table_constraints(
        dst, [{"kind": "check", "name": "pos", "sql": "score > 0"}]
    )
    register_lake_source(spark)
    with pytest.raises(Exception, match="run_append_stream"):
        _sink(read_table_stream(spark, src), dst, str(tmp_path / "ck1"))

    dst2 = str(tmp_path / "dst2")
    with pytest.raises(Exception, match="non-numeric"):
        _sink(read_table_stream(spark, src), dst2,
              str(tmp_path / "ck2"), statsColumns="tag")


def test_sink_commit_replay_is_idempotent(spark, tmp_path):
    """Direct unit drive of the crash window: a batch whose commit
    PUBLISHED but whose checkpoint epoch didn't — the replayed commit
    must drop the retried files and keep the original entry."""
    import pyarrow as pa

    from medallion_data_lake_spark.sources.lakehouse_source import (
        MedallionLakeStreamWriter,
    )
    from medallion_data_lake_spark.operators.versioned import history

    dst = str(tmp_path / "dst")
    os.makedirs(dst)
    schema = "id long, tag string, score double"
    from pyspark.sql.types import StructType
    st = spark.createDataFrame([], schema).schema

    w = MedallionLakeStreamWriter(dst, st, False, {"txnAppId": "u"})
    batch = pa.record_batch(
        {"id": [1, 2], "tag": ["a", "b"], "score": [1.0, 2.0]}
    )
    m1 = w.write(iter([batch]))
    w.commit([m1], 0)
    assert read_table(spark, dst).count() == 2
    # replay: same batchId, fresh task files
    m2 = w.write(iter([batch]))
    w.commit([m2], 0)
    assert read_table(spark, dst).count() == 2        # not doubled
    assert len(history(dst)) == 1
    assert not os.path.isdir(
        os.path.dirname(os.path.join(dst, m2.file))
    )  # retried files cleaned


def test_sink_refuses_mapping_drift(spark, tmp_path):
    """A RENAME landing between stream start and a batch commit leaves
    the written files on the old physical layout — the commit must
    refuse, not publish misbound columns."""
    import pyarrow as pa

    from medallion_data_lake_spark.sources.lakehouse_source import (
        MedallionLakeStreamWriter,
    )

    dst = _mk(spark, tmp_path, "dst")
    st = spark.createDataFrame(
        [], "id long, tag string, score double"
    ).schema
    w = MedallionLakeStreamWriter(dst, st, False, {"txnAppId": "u2"})
    rename_column(spark, dst, "score", "rating")
    m = w.write(iter([pa.record_batch(
        {"id": [9], "tag": ["z"], "score": [9.0]}
    )]))
    with pytest.raises(ValueError, match="RENAME"):
        w.commit([m], 0)
    # refused batch left no files behind
    assert not os.path.exists(os.path.join(dst, os.path.dirname(m.file)))


def test_sink_complete_mode_overwrites_per_batch(spark, tmp_path):
    """outputMode complete -> per-batch OVERWRITE commits: the
    destination always holds exactly the latest aggregate snapshot."""
    src = _mk(spark, tmp_path, "src")
    dst, ck = str(tmp_path / "dst"), str(tmp_path / "ck")
    register_lake_source(spark)
    agg = (
        read_table_stream(spark, src)
        .groupBy("tag").agg(F.sum("score").alias("total"))
    )
    q = (
        agg.writeStream.format(FORMAT_NAME)
        .outputMode("complete")
        .option("path", dst)
        .option("txnAppId", "aggrun")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(map(tuple, read_table(spark, dst).collect())) == [
        ("a", 10.0), ("b", 20.0)
    ]
    commit(_more(spark, [(3, "a", 5.0)]), src)
    q = (
        agg.writeStream.format(FORMAT_NAME)
        .outputMode("complete")
        .option("path", dst)
        .option("txnAppId", "aggrun")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(map(tuple, read_table(spark, dst).collect())) == [
        ("a", 15.0), ("b", 20.0)
    ]


def test_sink_stats_typo_refused(spark, tmp_path):
    src = _mk(spark, tmp_path, "src")
    register_lake_source(spark)
    with pytest.raises(Exception, match="not in the stream schema"):
        _sink(read_table_stream(spark, src), str(tmp_path / "d"),
              str(tmp_path / "ck"), statsColumns="idd")


def test_sink_overwrite_keeps_column_mapping(spark, tmp_path):
    """Per-batch OVERWRITE keeps the mapping (unlike commit(), which
    resets it): the long-lived write-leg writer renames under the
    mapping captured at query start, so a reset would misbind every
    later batch's files."""
    import pyarrow as pa

    from medallion_data_lake_spark.sources.lakehouse_source import (
        MedallionLakeStreamWriter,
    )
    from medallion_data_lake_spark.operators.versioned import (
        _snapshot,
    )

    dst = _mk(spark, tmp_path, "dst")
    rename_column(spark, dst, "score", "rating")
    cm_before = _snapshot(dst).column_mapping
    st = spark.createDataFrame(
        [], "id long, tag string, rating double"
    ).schema
    w = MedallionLakeStreamWriter(dst, st, True, {"txnAppId": "ow"})
    m = w.write(iter([pa.record_batch(
        {"id": [7], "tag": ["g"], "rating": [70.0]}
    )]))
    w.commit([m], 0)
    assert _snapshot(dst).column_mapping == cm_before  # mapping retained
    got = read_table(spark, dst)
    assert got.columns == ["id", "tag", "rating"]
    assert [tuple(r) for r in got.collect()] == [(7, "g", 70.0)]
    # second batch from the SAME long-lived instance still binds
    m2 = w.write(iter([pa.record_batch(
        {"id": [8], "tag": ["h"], "rating": [80.0]}
    )]))
    w.commit([m2], 1)
    assert sorted(map(tuple, read_table(spark, dst).collect())) == [
        (8, "h", 80.0)
    ]


def test_sink_failed_commit_cleans_files(spark, tmp_path):
    """A commit refused by the drift rule must delete the batch's
    files — they are referenced by no entry, and vacuum's candidate
    universe is log-referenced files, so a leak here is permanent."""
    import pyarrow as pa

    from medallion_data_lake_spark.sources.lakehouse_source import (
        MedallionLakeStreamWriter,
    )

    dst = _mk(spark, tmp_path, "dst")
    st = spark.createDataFrame(
        [], "id long, tag string, score string"  # type change: refused
    ).schema
    w = MedallionLakeStreamWriter.__new__(MedallionLakeStreamWriter)
    # bypass the early __init__ drift check to reach the commit-leg one
    w._path, w._schema, w._mode = dst, st, "append"
    w._kind = "stream sink"
    w._app_id, w._stats_cols = "drifty", ()
    w._allow_evolution = False
    w._prior_cm = {"map": {}, "retired": []}
    w._cm = {"map": {}, "retired": []}
    m = w.write(iter([pa.record_batch(
        {"id": [9], "tag": ["z"], "score": ["oops"]}
    )]))
    assert os.path.exists(os.path.join(dst, m.file))
    with pytest.raises(Exception, match="drift"):
        w.commit([m], 0)
    assert not os.path.exists(
        os.path.join(dst, os.path.dirname(m.file))
    )


def test_batch_writer_save_modes(spark, tmp_path):
    """df.write.format('medallion_lake'): append/overwrite land as
    atomic versioned commits with the same file format and drift
    discipline as the streaming sink."""
    from medallion_data_lake_spark.operators.versioned import history

    dst = str(tmp_path / "dst")
    register_lake_source(spark)
    # Python data sources accept only Append/Overwrite SaveModes
    _more(spark, [(1, "a", 1.0)]).write.format(FORMAT_NAME).mode(
        "append"
    ).save(dst)
    _more(spark, [(2, "b", 2.0)]).write.format(FORMAT_NAME).mode(
        "append"
    ).save(dst)
    assert sorted(map(tuple, read_table(spark, dst).collect())) == [
        (1, "a", 1.0), (2, "b", 2.0)
    ]
    _more(spark, [(9, "z", 9.0)]).write.format(FORMAT_NAME).mode(
        "overwrite"
    ).save(dst)
    assert [tuple(r) for r in read_table(spark, dst).collect()] == [
        (9, "z", 9.0)
    ]
    assert [h["mode"] for h in history(dst)] == [
        "append", "append", "overwrite"
    ]
    # drift discipline: a type change refuses like commit()
    with pytest.raises(Exception, match="drift"):
        _more(spark, [(3, "c", "nope")],
              "id long, tag string, score string").write.format(
            FORMAT_NAME
        ).mode("append").save(dst)


def test_two_lake_streams_compose_in_one_query(spark, tmp_path):
    """Composability: two versioned tables tailed as streams join into
    a third through the native sink — the full medallion hop expressed
    entirely in spark.readStream/writeStream over one commit-log
    format. (Stream-stream inner join without watermarks is unbounded
    state in general; availableNow keeps this a bounded catch-up run,
    which is the maintenance-job shape.)"""
    facts = str(tmp_path / "facts")
    dims = str(tmp_path / "dims")
    commit(spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, v long"), facts)
    commit(spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, name string"), dims)
    register_lake_source(spark)
    joined = (
        read_table_stream(spark, facts)
        .join(spark.read.format(FORMAT_NAME).load(dims), "id")
    )
    dst, ck = str(tmp_path / "dst"), str(tmp_path / "ck")
    q = (
        joined.writeStream.format(FORMAT_NAME)
        .option("path", dst)
        .option("txnAppId", "hop")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(map(tuple, read_table(spark, dst).collect())) == [
        (1, 10, "x"), (2, 20, "y")
    ]


def test_batch_read_timestamp_as_of(spark, tmp_path):
    """timestampAsOf resolves to the newest commit at/before the
    instant — same contract as read_table(as_of_timestamp=...)."""
    import json as _json
    import os as _os

    path = _mk(spark, tmp_path)                   # v0
    commit(_more(spark, [(3, "c", 30.0)]), path)  # v1
    log = _os.path.join(path, "_log")
    ts0 = _json.load(open(_os.path.join(log, f"{0:020d}.json")))["timestamp"]
    register_lake_source(spark)
    old = (
        spark.read.format(FORMAT_NAME)
        .option("timestampAsOf", str(ts0))
        .load(path)
    )
    assert {r["id"] for r in old.collect()} == {1, 2}
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format(FORMAT_NAME)
            .option("timestampAsOf", str(ts0))
            .option("version", "1")
            .load(path)
            .collect()
        )


def test_source_reads_shallow_clone(spark, tmp_path):
    """A shallow clone's files are ../-relative into the SOURCE table
    — both the batch reader and the streaming snapshot must resolve
    them (and keep honoring the clone's own DVs)."""
    from medallion_data_lake_spark.operators.versioned import clone_table

    src = _mk(spark, tmp_path, "src")
    dst = str(tmp_path / "cl")
    clone_table(spark, src, dst)
    delete_rows_dv(spark, dst, keys={"id": [1]})  # diverge the clone
    register_lake_source(spark)
    got = spark.read.format(FORMAT_NAME).load(dst)
    assert sorted(map(tuple, got.collect())) == [(2, "b", 20.0)]
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(read_table_stream(spark, dst), out, ck)
    assert _rows(spark, out) == [(2, "b")]
    # the source table is untouched
    assert spark.read.format(FORMAT_NAME).load(src).count() == 2


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_stream_cdf_model_random_histories(spark, tmp_path, seed):
    """Model test: a random history of appends, DV deletes, updates,
    optimizes, renames, and overwrites — the CDF stream replayed from
    version 0 must NET-APPLY to exactly the live table, whatever the
    interleaving. (The streaming analog of the versioned model test's
    invariant: the change feed is a lossless decomposition.)"""
    import random

    from medallion_data_lake_spark.operators.versioned import (
        optimize_table,
    )

    rng = random.Random(seed)
    path = str(tmp_path / f"vt{seed}")
    next_id = [0]

    def fresh_rows(n):
        rows = [
            (next_id[0] + i, f"r{next_id[0] + i}",
             float(rng.randint(0, 99)))
            for i in range(n)
        ]
        next_id[0] += n
        return rows

    commit(_more(spark, fresh_rows(3)), path)
    renamed = False
    ddl = "id long, tag string, {} double"
    for _ in range(rng.randint(4, 7)):
        op = rng.choice(
            ["append", "delete_dv", "update", "optimize", "rename",
             "overwrite"]
        )
        score_col = "rating" if renamed else "score"
        try:
            if op == "append":
                commit(_more(spark, fresh_rows(rng.randint(1, 3)),
                             ddl.format(score_col)), path)
            elif op == "delete_dv":
                live = [r["id"] for r in read_table(spark, path).collect()]
                if live:
                    delete_rows_dv(
                        spark, path,
                        keys={"id": rng.sample(live,
                                               min(2, len(live)))},
                    )
            elif op == "update":
                update_rows(spark, path, {"tag": "'U'"},
                            where=f"id % 3 = {rng.randint(0, 2)}")
            elif op == "optimize":
                optimize_table(spark, path)
            elif op == "rename" and not renamed:
                rename_column(spark, path, "score", "rating")
                renamed = True
            elif op == "overwrite":
                commit(_more(spark, fresh_rows(2),
                             ddl.format(score_col)), path,
                       mode="overwrite")
        except ValueError:
            continue  # e.g. UPDATE refusing DV-carrying files: legal

    out, ck = str(tmp_path / f"o{seed}"), str(tmp_path / f"c{seed}")
    _run_available_now(
        read_table_stream(spark, path, read_change_feed=True,
                          starting_version=0),
        out, ck,
    )
    from collections import Counter

    score_col = "rating" if renamed else "score"
    net: Counter = Counter()
    if os.path.isdir(out) and any(
        f.endswith(".parquet") for f in os.listdir(out)
    ):
        for r in spark.read.parquet(out).collect():
            delta = 1 if r["_change_type"] == "insert" else -1
            net[(r["id"], r["tag"], r[score_col])] += delta
    # negatives must FAIL, not vanish: range(c) of a negative count is
    # empty, which would let an over-emitted delete slip through the
    # "lossless decomposition" check
    assert all(c >= 0 for c in net.values()), dict(net)
    applied = sorted(k for k, c in net.items() for _ in range(c))
    current = sorted(map(tuple, read_table(spark, path).collect()))
    assert applied == current


def test_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp replays every commit AT or AFTER the instant
    (no snapshot); an instant past the tip means tail-only."""
    import json as _json
    import os as _os

    path = _mk(spark, tmp_path)                     # v0
    commit(_more(spark, [(3, "c", 30.0)]), path)    # v1
    log = _os.path.join(path, "_log")
    ts1 = _json.load(open(_os.path.join(log, f"{1:020d}.json")))["timestamp"]
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_available_now(
        read_table_stream(spark, path, startingTimestamp=str(ts1)), out, ck
    )
    assert _rows(spark, out) == [(3, "c")]          # v0 is before ts1
    # an instant past the tip: nothing until the next commit
    out2, ck2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    _run_available_now(
        read_table_stream(spark, path,
                          startingTimestamp=str(ts1 + 9999)), out2, ck2
    )
    assert _rows(spark, out2) == []
    commit(_more(spark, [(4, "d", 40.0)]), path)
    _run_available_now(
        read_table_stream(spark, path,
                          startingTimestamp=str(ts1 + 9999)), out2, ck2
    )
    assert _rows(spark, out2) == [(4, "d")]


def test_stream_starting_timestamp_refuses_expired_prefix(
    spark, tmp_path
):
    """A cutoff that predates the retained history cannot be satisfied
    — silently starting at the retained tail would drop every row from
    the expired range (same contract as the expired-gap guard)."""
    from medallion_data_lake_spark.operators.versioned import expire_log

    path = _mk(spark, tmp_path)
    for i in range(3, 7):
        commit(_more(spark, [(i, f"r{i}", float(i))]), path)
    expire_log(path, keep_last=2)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="predates"):
        _run_available_now(
            read_table_stream(spark, path, startingTimestamp="0"), out, ck
        )


def test_restore_refuses_out_of_range(spark, tmp_path):
    from medallion_data_lake_spark.operators.versioned import (
        expire_log,
        rollback,
    )

    path = _mk(spark, tmp_path)                    # v0
    commit(_more(spark, [(3, "c", 30.0)]), path)   # v1
    with pytest.raises(ValueError, match="out of range"):
        rollback(spark, path, 99)
    commit(_more(spark, [(4, "d", 40.0)]), path)   # v2
    expire_log(path, keep_last=1)
    with pytest.raises(ValueError, match="out of range"):
        rollback(spark, path, 0)
