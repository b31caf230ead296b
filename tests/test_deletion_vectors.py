"""Deletion vectors: merge-on-read deletes — position vectors in the
log instead of file rewrites, applied at read time, materialized by
OPTIMIZE, versioned like every other table state."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.operators.versioned import (
    _snapshot,
    commit,
    delete_rows,
    delete_rows_dv,
    history,
    merge_into,
    optimize_table,
    read_table,
    read_table_pruned,
    rollback,
    table_changes,
    update_rows,
)


@pytest.fixture
def table(spark, tmp_path):
    path = str(tmp_path / "vt")
    commit(spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, payload string"),
        path, stats_cols=("id",), bloom_cols=("id",))
    commit(spark.createDataFrame(
        [(i, f"v{i}") for i in range(100, 200)], "id long, payload string"),
        path, stats_cols=("id",), bloom_cols=("id",))
    return path


def _data_files(path):
    return set(glob.glob(os.path.join(path, "data", "*", "*.parquet")))


def test_dv_delete_is_metadata_only(spark, table):
    before = _data_files(table)
    out = delete_rows_dv(spark, table, keys={"id": [7, 150]})
    assert out is not None and out["rows_deleted"] == 2
    assert _data_files(table) == before          # NO rewrite, no new files
    entry = history(table)[-1]
    assert entry["mode"] == "delete_dv"
    assert entry["n_added"] == 0 and entry["n_removed"] == 0

    got = read_table(spark, table)
    assert got.count() == 198
    assert got.filter(F.col("id").isin(7, 150)).count() == 0
    # time travel: the pre-delete snapshot still shows both rows
    assert read_table(spark, table, version=1) \
        .filter(F.col("id").isin(7, 150)).count() == 2


def test_dv_redelete_is_noop_and_vectors_accumulate(spark, table):
    delete_rows_dv(spark, table, keys={"id": [7]})
    assert delete_rows_dv(spark, table, keys={"id": [7]}) is None
    delete_rows_dv(spark, table, keys={"id": [8, 9]})
    assert read_table(spark, table).count() == 197
    dv = _snapshot(table).dv
    assert sum(len(ps) for ps in dv.values()) == 3


def test_dv_refuses_oversized_delete(spark, table):
    with pytest.raises(ValueError, match="max_dv_rows"):
        delete_rows_dv(spark, table, predicates={"id": (0, 199)},
                       max_dv_rows=50)


def test_rewrites_refuse_dv_files_until_materialized(spark, table):
    delete_rows_dv(spark, table, keys={"id": [7]})
    with pytest.raises(ValueError, match="deletion vectors"):
        update_rows(spark, table, set_exprs={"payload": "'x'"},
                    predicates={"id": (0, 10)})
    with pytest.raises(ValueError, match="deletion vectors"):
        delete_rows(spark, table, predicates={"id": (0, 10)})
    with pytest.raises(ValueError, match="deletion vectors"):
        merge_into(spark, table,
                   spark.createDataFrame([(7, "z")], "id long, payload string"),
                   key="id")


def test_optimize_materializes_vectors(spark, table):
    delete_rows_dv(spark, table, keys={"id": [7, 8, 150]})
    optimize_table(spark, table, target_file_bytes=1 << 30)
    assert _snapshot(table).dv == {}  # vectors died with the files
    got = read_table(spark, table)
    assert got.count() == 197
    assert got.filter(F.col("id").isin(7, 8, 150)).count() == 0
    # rewrites work again after materialization
    out = update_rows(spark, table, set_exprs={"payload": "'p'"},
                      predicates={"id": (9, 9)})
    assert out is not None and out["rows_updated"] == 1


def test_dv_change_feed_and_replay(spark, table):
    delete_rows_dv(spark, table, keys={"id": [7, 150]})
    feed = table_changes(spark, table, from_version=2, to_version=2)
    deletes = {r["id"] for r in feed.collect()}
    assert deletes == {7, 150}
    assert {r["_change_type"] for r in feed.collect()} == {"delete"}

    # full-feed replay reconstructs the current snapshot
    full = table_changes(spark, table, 0)
    plus = full.filter(F.col("_change_type").isin("insert", "update_postimage"))
    minus = full.filter(F.col("_change_type").isin("delete", "update_preimage"))
    rebuilt = plus.select("id", "payload").exceptAll(minus.select("id", "payload"))
    now = read_table(spark, table).select("id", "payload")
    assert rebuilt.exceptAll(now).count() == 0
    assert now.exceptAll(rebuilt).count() == 0


def test_dv_survives_checkpoint_and_expiry(spark, table):
    from medallion_data_lake_spark.operators.versioned import expire_log

    delete_rows_dv(spark, table, keys={"id": [7]})
    for i in range(10):  # cross a checkpoint boundary
        commit(spark.createDataFrame([(1000 + i, "x")],
                                     "id long, payload string"), table)
    expire_log(table, keep_last=2)
    got = read_table(spark, table)
    assert got.filter(F.col("id") == 7).count() == 0
    assert got.count() == 199 + 10  # 200 - 1 + 10 appends


def test_rollback_restores_vector_state(spark, table):
    delete_rows_dv(spark, table, keys={"id": [7]})     # v2
    delete_rows_dv(spark, table, keys={"id": [8]})     # v3
    rollback(spark, table, to_version=2)               # only id=7 deleted
    got = read_table(spark, table)
    assert got.filter(F.col("id") == 7).count() == 0
    assert got.filter(F.col("id") == 8).count() == 1
    rollback(spark, table, to_version=1)               # pre-DV snapshot
    assert read_table(spark, table).count() == 200


def test_pruned_read_applies_vectors(spark, table):
    delete_rows_dv(spark, table, keys={"id": [7]})
    df, report = read_table_pruned(spark, table, eq={"id": 7})
    assert df.count() == 0                       # bloom admits, DV removes
    df, report = read_table_pruned(spark, table, predicates={"id": (0, 10)})
    assert df.count() == 10                      # 11 ids minus deleted 7


def test_optimize_refuses_dv_landed_mid_rewrite(spark, table, monkeypatch):
    """TOCTOU (r6 verdict #2): a delete_rows_dv committing between
    OPTIMIZE's plan and publish must ABORT the rewrite — publishing
    would replace the file with data rewritten from the pre-vector
    snapshot while the vector dies with the removed file (silent
    deleted-row resurrection). Delta's ConcurrentDeleteRead rule."""
    import medallion_data_lake_spark.operators.versioned as V

    real_publish = V._publish
    fired: dict = {}

    def chaos(path_, build, **kw):
        if not fired:  # only ambush the OUTER writer's publish
            fired["x"] = True
            delete_rows_dv(spark, table, keys={"id": [42]})
        return real_publish(path_, build, **kw)

    monkeypatch.setattr(V, "_publish", chaos)
    with pytest.raises(V.CommitConflict):
        optimize_table(spark, table)
    # the interleaved delete survives: row 42 stays deleted
    got = read_table(spark, table)
    assert got.filter(F.col("id") == 42).count() == 0
    assert got.count() == 199
    # a re-run on the fresh snapshot succeeds and MATERIALIZES the DV
    monkeypatch.setattr(V, "_publish", real_publish)
    out = optimize_table(spark, table)
    assert out is not None
    assert read_table(spark, table).count() == 199
    assert _snapshot(table).dv == {}  # vector folded into the rewrite


def test_delete_rewrite_refuses_dv_landed_mid_rewrite(spark, table,
                                                      monkeypatch):
    """Same TOCTOU through the DELETE rewrite path: plan-time
    _refuse_dv_files saw vector-free files; a vector landing mid-flight
    must abort the publish, not resurrect id=3 (which the rewrite's
    kept-set still contains)."""
    import medallion_data_lake_spark.operators.versioned as V

    real_publish = V._publish
    fired: dict = {}

    def chaos(path_, build, **kw):
        if not fired:
            fired["x"] = True
            delete_rows_dv(spark, table, keys={"id": [3]})
        return real_publish(path_, build, **kw)

    monkeypatch.setattr(V, "_publish", chaos)
    with pytest.raises(V.CommitConflict):
        delete_rows(spark, table, predicates={"id": (10, 50)})
    assert read_table(spark, table).filter(F.col("id") == 3).count() == 0


def test_dv_optimize_vacuum_time_travel_exact(spark, table):
    """r6 verdict item 10 (vacuum leg): DV-delete → OPTIMIZE → vacuum.
    Every RETAINED version must read vector-exact afterwards — the
    pre-delete snapshot complete, the DV snapshot merge-on-read exact,
    the materialized snapshot exact — and vacuuming down to the
    materialized version alone must still read exact."""
    from medallion_data_lake_spark.operators.versioned import vacuum

    delete_rows_dv(spark, table, keys={"id": [7, 150]})   # v2: vector only
    optimize_table(spark, table)                          # v3: materializes
    vacuum(table, keep_last=3)                            # retain v1..v3

    v1 = read_table(spark, table, version=1)              # pre-delete
    assert v1.count() == 200
    assert v1.filter(F.col("id").isin(7, 150)).count() == 2
    v2 = read_table(spark, table, version=2)              # merge-on-read
    assert v2.count() == 198
    assert v2.filter(F.col("id").isin(7, 150)).count() == 0
    v3 = read_table(spark, table, version=3)              # materialized
    assert v3.count() == 198
    assert v3.filter(F.col("id").isin(7, 150)).count() == 0
    assert _snapshot(table).dv == {}  # vector died with the rewrite

    vacuum(table, keep_last=1)                            # only v3 survives
    got = read_table(spark, table)
    assert got.count() == 198
    assert got.filter(F.col("id").isin(7, 150)).count() == 0
