"""Write-Audit-Publish (operators/wap.py): staged commits are invisible
to every reader until published; the audit sees exactly the would-be
files; publish is atomic metadata referencing already-written data;
abandon leaves no trace. Publish re-validates against the FRESH tip
(concurrent append ok, DDL and contract drift refuse)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.operators.expectations import (
    in_range,
    not_null,
    unique,
)
from medallion_data_lake_spark.operators.versioned import (
    CommitConflict,
    commit,
    history,
    read_table,
    rename_column,
    set_table_constraints,
    table_changes,
    vacuum,
)
from medallion_data_lake_spark.operators.wap import (
    abandon_staged,
    audit_and_publish,
    expire_staged,
    list_staged,
    publish_staged,
    read_staged,
    stage_commit,
)


def _mk(spark, tmp_path):
    path = str(tmp_path / "vt")
    commit(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)],
            "id long, tag string, score double",
        ),
        path,
    )
    return path


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id long, tag string, score double")


def test_staged_is_invisible_until_published(spark, tmp_path):
    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(3, "c", 30.0)]), path)

    # no reader surface sees it: snapshot, history, change feed
    assert {r["id"] for r in read_table(spark, path).collect()} == {1, 2}
    assert len(history(path)) == 1
    assert table_changes(spark, path, 0, 0).filter(
        F.col("id") == 3
    ).count() == 0
    # ...but the preview does, both scopes
    inc = read_staged(spark, path, sid)
    assert {r["id"] for r in inc.collect()} == {3}
    full = read_staged(spark, path, sid, scope="full")
    assert {r["id"] for r in full.collect()} == {1, 2, 3}

    files_before = sorted(
        glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                  recursive=True)
    )
    entry = publish_staged(spark, path, sid)
    assert entry["version"] == 1 and entry["staging_id"] == sid
    # publish moved ZERO data: the staged files are the committed files
    assert sorted(
        glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                  recursive=True)
    ) == files_before
    assert {r["id"] for r in read_table(spark, path).collect()} == {1, 2, 3}
    assert list_staged(path) == []  # manifest cleaned up

    # idempotent re-publish (crash between publish and cleanup)
    assert publish_staged(spark, path, sid)["version"] == 1


def test_audit_gate_blocks_and_quarantines(spark, tmp_path):
    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(3, "c", -5.0)]), path)
    out = audit_and_publish(
        spark, path, sid, [not_null("tag"), in_range("score", 0.0, 100.0)]
    )
    assert not out["published"]
    assert out["report"]["checks"]["in_range_score"] == 1
    # on_fail="keep": the staging IS the quarantine, inspectable
    assert len(list_staged(path)) == 1
    assert {r["id"] for r in read_staged(spark, path, sid).collect()} == {3}
    assert {r["id"] for r in read_table(spark, path).collect()} == {1, 2}

    abandon_staged(path, sid)
    assert list_staged(path) == []
    assert not glob.glob(os.path.join(path, "data", f"commit-{sid}", "*"))

    # a clean batch passes the same gate and publishes
    sid2 = stage_commit(_batch(spark, [(4, "d", 40.0)]), path)
    out2 = audit_and_publish(
        spark, path, sid2, [not_null("tag"), in_range("score", 0.0, 100.0)]
    )
    assert out2["published"] and out2["entry"]["version"] == 1
    assert {r["id"] for r in read_table(spark, path).collect()} == {1, 2, 4}


def test_full_scope_catches_cross_batch_duplicates(spark, tmp_path):
    """The increment alone looks clean; only the post-publish preview
    (current ∪ staged) reveals the duplicate key — scope='full'."""
    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(2, "dup", 99.0)]), path)
    inc = audit_and_publish(spark, path, sid, [unique("id")],
                            scope="increment")
    # increment-only audit cannot see the clash (documented trade)
    assert inc["published"] is True
    # stage the same shape again and audit with full scope
    sid2 = stage_commit(_batch(spark, [(1, "dup2", 98.0)]), path)
    out = audit_and_publish(spark, path, sid2, [unique("id")], scope="full",
                            on_fail="abandon")
    assert not out["published"]
    assert list_staged(path) == []  # abandoned


def test_publish_survives_concurrent_append_but_not_ddl(spark, tmp_path):
    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(3, "c", 30.0)]), path)
    # a live append lands between stage and publish: both survive
    commit(_batch(spark, [(9, "z", 90.0)]), path)
    entry = publish_staged(spark, path, sid)
    assert entry["version"] == 2
    assert {r["id"] for r in read_table(spark, path).collect()} == {1, 2, 3, 9}

    # concurrent DDL: staged files carry the old physical layout
    sid2 = stage_commit(_batch(spark, [(4, "d", 40.0)]), path)
    rename_column(spark, path, "score", "rating")
    with pytest.raises(CommitConflict, match="re-stage"):
        publish_staged(spark, path, sid2)
    abandon_staged(path, sid2)


def test_contract_drift_refuses_publish(spark, tmp_path):
    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(3, "c", 30.0)]), path)
    set_table_constraints(
        path, [{"kind": "not_null", "col": "tag", "name": "tag_nn"}]
    )
    with pytest.raises(CommitConflict, match="contract"):
        publish_staged(spark, path, sid)


def test_overwrite_staging_replaces_snapshot_atomically(spark, tmp_path):
    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(7, "g", 70.0)]), path,
                       mode="overwrite")
    assert {r["id"] for r in read_table(spark, path).collect()} == {1, 2}
    publish_staged(spark, path, sid)
    assert {r["id"] for r in read_table(spark, path).collect()} == {7}
    # time travel still shows the replaced snapshot
    assert {r["id"] for r in read_table(spark, path, version=0).collect()} \
        == {1, 2}


def test_vacuum_never_touches_staged_files(spark, tmp_path):
    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(3, "c", 30.0)]), path)
    commit(_batch(spark, [(5, "e", 50.0)]), path, mode="overwrite")
    vacuum(path, keep_last=1)
    # the staged dir survived retention cleanup and still publishes
    entry = publish_staged(spark, path, sid)
    assert entry is not None
    assert {r["id"] for r in read_table(spark, path).collect()} == {3, 5}


def test_expire_staged_reclaims_stale_stagings(spark, tmp_path):
    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(3, "c", 30.0)]), path)
    assert expire_staged(path, older_than_sec=3600) == []
    assert expire_staged(path, older_than_sec=0.0) == [sid]
    assert list_staged(path) == []


def test_staged_stats_ride_into_the_entry(spark, tmp_path):
    path = str(tmp_path / "vt")
    commit(_batch(spark, [(1, "a", 10.0)]), path, stats_cols=("id",))
    sid = stage_commit(_batch(spark, [(2, "b", 20.0)]), path,
                       stats_cols=("id",), bloom_cols=("id",))
    entry = publish_staged(spark, path, sid)
    fs = entry["file_stats"]
    assert fs and all("id" in v for v in fs.values())


def test_wap_gates_curation_pipeline_output(spark, tmp_path):
    """The training-data flow the two subsystems exist for: curate the
    corpus (operators/curation_pipeline.py), STAGE the curated cut on
    the versioned corpus table, audit the staged increment with the
    release contract, publish on pass — downstream consumers (CDF,
    index-sync, incremental views) never see an unaudited row."""
    from medallion_data_lake_spark.catalog import load_star_table
    from medallion_data_lake_spark.operators.curation_pipeline import (
        CurationConfig,
        curate_corpus,
    )
    from medallion_data_lake_spark.operators.expectations import custom

    docs = load_star_table(spark, "/root/testdata/sf0.001", "documents")
    curated = curate_corpus(
        docs, config=CurationConfig(semantic_from_text=False)
    )["curated"]

    table = str(tmp_path / "corpus")
    sid = stage_commit(curated, table, stats_cols=("doc_id",))
    out = audit_and_publish(
        spark, table, sid,
        [not_null("doc_id"), not_null("text"),
         custom("nonempty_text", F.length("text") > 0),
         unique("doc_id")],
    )
    assert out["published"], out["report"]
    n = read_table(spark, table).count()
    assert n == out["report"]["n_rows"] > 0

    # a poisoned batch (null text) is blocked before any reader sees it
    bad = spark.createDataFrame(
        [(10**9, None, "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sid2 = stage_commit(bad, table)
    out2 = audit_and_publish(
        spark, table, sid2, [not_null("text")], on_fail="abandon"
    )
    assert not out2["published"]
    assert read_table(spark, table).count() == n


def test_abandon_after_published_crash_keeps_data(spark, tmp_path):
    """Crash window: publish landed, manifest cleanup didn't. A later
    abandon/expire on the stale manifest must drop ONLY the manifest —
    rmtree'ing the (now log-referenced) data dir would permanently
    destroy committed rows (r8 second-pass review finding)."""
    import shutil as _sh

    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(3, "c", 30.0)]), path)
    mf = os.path.join(path, "_staging", f"{sid}.json")
    saved = mf + ".crashcopy"
    _sh.copy(mf, saved)
    publish_staged(spark, path, sid)          # cleans the manifest
    _sh.copy(saved, mf)                       # simulate the crash leak
    os.remove(saved)

    abandon_staged(path, sid)                 # maintenance sweep
    assert list_staged(path) == []            # stale manifest gone...
    # ...and the committed rows are fully intact and readable
    assert {r["id"] for r in read_table(spark, path).collect()} == {1, 2, 3}


def test_overwrite_publish_resets_mapping_after_concurrent_rename(
    spark, tmp_path
):
    """A rename landing between stage(overwrite) and publish must not
    leak its mapping into the overwritten snapshot: the publish entry
    explicitly resets the mapping, reads speak the BATCH's names, and
    a later re-append of the batch column stays identity-mapped."""
    from medallion_data_lake_spark.operators.versioned import (
        _snapshot,
    )

    path = _mk(spark, tmp_path)
    sid = stage_commit(_batch(spark, [(7, "g", 70.0)]), path,
                       mode="overwrite")
    rename_column(spark, path, "score", "rating")
    publish_staged(spark, path, sid)
    now = read_table(spark, path)
    assert set(now.columns) == {"id", "tag", "score"}
    assert {(r["id"], r["score"]) for r in now.collect()} == {(7, 70.0)}
    cm = _snapshot(path).column_mapping
    assert cm == {"map": {}, "retired": []}  # identity again
    # appending 'score' keeps identity (no fresh col-uuid physical)
    commit(_batch(spark, [(8, "h", 80.0)]), path)
    assert _snapshot(path).column_mapping == {"map": {}, "retired": []}


def test_expire_staged_sweeps_manifestless_crash_dirs(spark, tmp_path):
    """A crash between the staged data write and the manifest write
    leaves a dir no manifest, entry, or vacuum can see — the
    expire_staged sweep is its only reclaimer."""
    path = _mk(spark, tmp_path)
    leak = os.path.join(path, "data", "commit-wap-deadbeefcafe")
    os.makedirs(leak)
    open(os.path.join(leak, "part-0.parquet"), "w").write("x")
    os.utime(leak, (0, 0))  # ancient mtime

    # a LIVE (manifested) staging of the same shape must survive
    sid = stage_commit(_batch(spark, [(3, "c", 30.0)]), path)

    out = expire_staged(path, older_than_sec=3600)
    assert out == ["wap-deadbeefcafe"]
    assert not os.path.isdir(leak)
    assert [m["staging_id"] for m in list_staged(path)] == [sid]
    publish_staged(spark, path, sid)  # still publishable
