"""Change Data Feed derived from the commit log (versioned.table_changes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.operators.versioned import (
    commit,
    delete_rows,
    merge_into,
    optimize_table,
    read_table,
    table_changes,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, tag string")


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "vt")
    commit(_df(spark, [(1, "a"), (2, "b")]), path, stats_cols=("id",))   # v0
    commit(_df(spark, [(3, "c")]), path, stats_cols=("id",))            # v1
    merge_into(                                                          # v2
        spark, path,
        _df(spark, [(2, "b2"), (4, "d")]),
        key="id",
    )
    delete_rows(spark, path, predicates={"id": (3, 3)})                  # v3
    optimize_table(spark, path, target_file_bytes=1 << 30)               # v4
    return path


def _changes(spark, path, lo, hi=None):
    return {
        (r["_commit_version"], r["_change_type"], r["id"], r["tag"])
        for r in table_changes(spark, path, lo, hi).collect()
    }


def test_cdf_classifies_every_commit_kind(spark, table):
    got = _changes(spark, table, 0)
    assert got == {
        (0, "insert", 1, "a"),
        (0, "insert", 2, "b"),
        (1, "insert", 3, "c"),
        (2, "update_preimage", 2, "b"),
        (2, "update_postimage", 2, "b2"),
        (2, "insert", 4, "d"),
        (3, "delete", 3, "c"),
        # v4 OPTIMIZE: no logical change, contributes nothing
    }


def test_cdf_range_and_replayability(spark, table):
    # a bounded slice sees only its versions
    assert {v for v, *_ in _changes(spark, table, 2, 2)} == {2}
    # replaying the full feed reconstructs the current snapshot:
    # inserts+postimages minus deletes+preimages == read_table
    feed = table_changes(spark, table, 0)
    plus = feed.filter(F.col("_change_type").isin("insert", "update_postimage"))
    minus = feed.filter(F.col("_change_type").isin("delete", "update_preimage"))
    rebuilt = plus.select("id", "tag").exceptAll(minus.select("id", "tag"))
    now = read_table(spark, table).select("id", "tag")
    assert rebuilt.exceptAll(now).count() == 0
    assert now.exceptAll(rebuilt).count() == 0


def test_cdf_feeds_incremental_rollup(spark, table):
    """The consumer pattern the feed exists for: maintain a count by
    applying only the changes, never re-reading the snapshot."""
    feed = table_changes(spark, table, 1)  # consumer already has v0
    delta = (
        feed.groupBy()
        .agg(
            F.sum(
                F.when(F.col("_change_type").isin(
                    "insert", "update_postimage"), 1)
                .when(F.col("_change_type").isin(
                    "delete", "update_preimage"), -1)
            ).alias("dn")
        )
        .first()["dn"]
    )
    assert 2 + delta == read_table(spark, table).count()


def test_refresh_from_changes_tracks_mutable_source(spark, tmp_path):
    """Incremental view over a table that takes MERGE and DELETE: each
    refresh applies only the unseen change-feed versions, and the view
    always equals the from-scratch recompute."""
    from medallion_data_lake_spark.operators.incremental import (
        refresh_from_changes,
    )

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    rows = "id long, day string, amount double"
    commit(spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 5.0), (3, "d2", 2.0)], rows),
        src, stats_cols=("id",))

    def grain():
        return {"day": F.col("day")}

    def values():
        return {"revenue": F.col("amount"), "n": F.lit(1)}

    def recompute():
        return {
            r["day"]: (r["revenue"], r["n"])
            for r in read_table(spark, src)
            .groupBy("day")
            .agg(F.sum("amount").alias("revenue"),
                 F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def view_state():
        return {r["day"]: (r["revenue"], r["n"])
                for r in read_table(spark, view).collect()}

    assert refresh_from_changes(spark, src, view, grain(), values()) is not None
    assert view_state() == recompute() == {"d1": (15.0, 2), "d2": (2.0, 1)}
    # idempotent: nothing new -> no commit
    assert refresh_from_changes(spark, src, view, grain(), values()) is None

    # source mutates: update amount (MERGE), delete a row, append
    merge_into(spark, src,
               spark.createDataFrame([(1, "d1", 100.0)], rows), key="id")
    delete_rows(spark, src, predicates={"id": (3, 3)})
    commit(spark.createDataFrame([(9, "d3", 7.0)], rows), src,
           stats_cols=("id",))

    assert refresh_from_changes(spark, src, view, grain(), values()) is not None
    assert view_state() == recompute() == {"d1": (105.0, 2), "d3": (7.0, 1)}
    # d2 vanished entirely (its only row deleted) — no zero-row residue
    assert "d2" not in view_state()


def test_cdf_refuses_partial_feed_after_expiry(spark, tmp_path):
    """Expired history must fail loudly, never return a silently
    incomplete feed (a consumer applying it would drift undetectably)."""
    from medallion_data_lake_spark.operators.versioned import expire_log

    path = str(tmp_path / "vt")
    for i in range(6):
        commit(_df(spark, [(i, f"t{i}")]), path)
    expire_log(path, keep_last=2)
    with pytest.raises(ValueError, match="Bootstrap from read_table"):
        table_changes(spark, path, 0)
    # the retained window still serves
    kept = table_changes(spark, path, 4)
    assert {r["_commit_version"] for r in kept.collect()} == {4, 5}


def test_update_rows_file_granular_and_in_feed(spark, tmp_path):
    """UPDATE: only range-matching files rewrite, SET expressions apply
    to matching rows only, constraints gate the output, and the change
    feed carries exactly the updated rows as pre/postimages."""
    from medallion_data_lake_spark.operators.versioned import (
        ConstraintViolation,
        _snapshot,
        set_table_constraints,
        update_rows,
    )

    path = str(tmp_path / "vt")
    set_table_constraints(path, [
        {"kind": "check", "name": "amount_nonneg", "sql": "amount >= 0"}])
    for lo in (0, 100):
        commit(
            spark.range(lo, lo + 10).selectExpr(
                "id", "CAST(id AS DOUBLE) AS amount", "'open' AS status"),
            path, stats_cols=("id",),
        )
    before = set(_snapshot(path).live)

    out = update_rows(
        spark, path,
        set_exprs={"status": "'done'", "amount": "amount * 2"},
        predicates={"id": (100, 104)},
    )
    assert out is not None and out["rows_updated"] == 5
    assert out["files_untouched"] > 0
    after = set(_snapshot(path).live)
    assert (before & after) and (before - after) == set(out["removed"])

    got = {r["id"]: (r["amount"], r["status"])
           for r in read_table(spark, path).collect()}
    for i in range(100, 105):
        assert got[i] == (float(i) * 2, "done")
    assert got[105] == (105.0, "open")      # unmatched row in same file
    assert got[0] == (0.0, "open")          # untouched file
    # time travel shows pre-update values
    assert {r["id"]: r["status"]
            for r in read_table(spark, path, version=1).collect()}[100] == "open"

    # change feed: exactly the 5 updated rows, pre+post
    feed = table_changes(spark, path, 2, 2)
    by_type = {}
    for r in feed.collect():
        by_type.setdefault(r["_change_type"], set()).add(
            (r["id"], r["amount"], r["status"]))
    assert set(by_type) == {"update_preimage", "update_postimage"}
    assert by_type["update_preimage"] == {
        (i, float(i), "open") for i in range(100, 105)}
    assert by_type["update_postimage"] == {
        (i, float(i) * 2, "done") for i in range(100, 105)}

    # a SET that breaks the table contract is refused, nothing lands
    n = len(read_table(spark, path).columns)
    with pytest.raises(ConstraintViolation):
        update_rows(spark, path, set_exprs={"amount": "-1.0"},
                    predicates={"id": (0, 1)})
    assert {r["id"] for r in read_table(spark, path).collect()} == set(
        range(10)) | set(range(100, 110))
    # no-match: no commit
    assert update_rows(spark, path, set_exprs={"status": "'x'"},
                       predicates={"id": (9000, 9999)}) is None
