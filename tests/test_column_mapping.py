"""Column mapping (operators/versioned.py rename_column / drop_column —
r7 verdict item 5): rename and drop are METADATA-ONLY commits. The
contract under test: query by the new name works immediately with zero
data files rewritten; time travel resolves each version's OWN names;
per-file stats and bloom pruning keep working across a rename (keys are
physical and sticky); constraints follow; DML (delete/update/merge)
speaks logical names; dropped-column re-adds get fresh physical names.
"""

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
    drop_column,
    expire_log,
    merge_into,
    optimize_table,
    read_table,
    read_table_pruned,
    rename_column,
    rollback,
    set_table_constraints,
    table_changes,
    update_rows,
)


def _data_files(path):
    return sorted(glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                            recursive=True))


def _mk(spark, tmp_path, rows=((1, "a", 10.0), (2, "b", 20.0))):
    path = str(tmp_path / "vt")
    commit(
        spark.createDataFrame(list(rows), "id long, tag string, score double"),
        path, stats_cols=("id",), bloom_cols=("id",),
    )
    return path


def test_rename_is_metadata_only_and_versioned(spark, tmp_path):
    path = _mk(spark, tmp_path)
    files_before = _data_files(path)
    v_before = 0

    rename_column(spark, path, "tag", "label")

    assert _data_files(path) == files_before  # zero bytes rewritten
    now = read_table(spark, path)
    assert "label" in now.columns and "tag" not in now.columns
    assert {r["label"] for r in now.collect()} == {"a", "b"}
    # time travel resolves the OLD name at the pre-rename version
    old = read_table(spark, path, version=v_before)
    assert "tag" in old.columns and "label" not in old.columns
    assert {r["tag"] for r in old.collect()} == {"a", "b"}


def test_rename_then_append_and_stats_pruning_follow(spark, tmp_path):
    path = str(tmp_path / "vt")
    commit(
        spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)],
                              "id long, tag string, score double"),
        path, stats_cols=("id", "score"), bloom_cols=("id",),
    )
    rename_column(spark, path, "score", "rating")
    # append speaks the NEW logical name; lands physically as `score`
    commit(
        spark.createDataFrame([(3, "c", 30.0)],
                              "id long, tag string, rating double"),
        path, stats_cols=("rating",), bloom_cols=("id",),
    )
    now = read_table(spark, path)
    assert {r["rating"] for r in now.collect()} == {10.0, 20.0, 30.0}
    # physical name is sticky: files never contain `rating`
    raw = spark.read.parquet(*[
        os.path.join(path, "") + f.split(path + os.sep, 1)[1]
        for f in _data_files(path)
    ])
    assert "score" in raw.columns and "rating" not in raw.columns
    # pruning by the NEW name probes stats recorded under the physical
    df, report = read_table_pruned(spark, path, "rating", 25.0, 99.0)
    assert report["files_skipped"] >= 1  # the (10,20) file pruned
    assert {r["rating"] for r in df.collect()} == {30.0}
    # bloom point-lookup by an untouched column still composes
    df2, rep2 = read_table_pruned(spark, path, eq={"id": 3})
    assert {r["id"] for r in df2.collect()} == {3}


def test_dml_speaks_logical_names_after_rename(spark, tmp_path):
    path = _mk(spark, tmp_path,
               rows=((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    rename_column(spark, path, "score", "rating")

    # structured predicates on the new name
    out = delete_rows(spark, path, predicates={"rating": (25.0, 99.0)})
    assert out["rows_deleted"] == 1
    # raw where in logical terms resolves (dual-name evaluation)
    out = update_rows(
        spark, path,
        set_exprs={"tag": "concat(tag, '_x')"},
        where="rating >= 20.0",
    )
    assert out["rows_updated"] == 1
    got = {r["id"]: (r["tag"], r["rating"])
           for r in read_table(spark, path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b_x", 20.0)}
    # the STALE physical name is refused loudly, not silently bound
    with pytest.raises(ValueError, match="score"):
        delete_rows(spark, path, where="score > 0")

    # DV delete via keys on the renamed column
    out = delete_rows_dv(spark, path, predicates={"rating": (10.0, 10.0)})
    assert out["rows_deleted"] == 1
    assert {r["id"] for r in read_table(spark, path).collect()} == {2}

    # materialize the vector before the rewrite (documented contract)
    optimize_table(spark, path, target_file_bytes=1 << 30)

    # merge keyed on a renamed column: rename the KEY itself
    rename_column(spark, path, "id", "doc_id")
    src = spark.createDataFrame(
        [(2, "b2", 21.0), (9, "z", 90.0)],
        "doc_id long, tag string, rating double",
    )
    merge_into(spark, path, src, key="doc_id")
    got = {r["doc_id"]: r["tag"] for r in read_table(spark, path).collect()}
    assert got == {2: "b2", 9: "z"}


def test_drop_column_and_fresh_physical_on_readd(spark, tmp_path):
    path = _mk(spark, tmp_path)
    v0_files = _data_files(path)
    drop_column(spark, path, "score")
    assert _data_files(path) == v0_files  # metadata only
    now = read_table(spark, path)
    assert "score" not in now.columns
    # time travel still shows it
    assert "score" in read_table(spark, path, version=0).columns

    # re-adding `score` must NOT resurrect the retired bytes: the new
    # column gets a fresh physical name and old rows read as NULL
    commit(
        spark.createDataFrame([(3, "c", 99.0)],
                              "id long, tag string, score double"),
        path, allow_schema_evolution=True,
    )
    cm = _snapshot(path).column_mapping
    assert cm["map"].get("score", "score") != "score"  # fresh physical
    got = {r["id"]: r["score"] for r in read_table(spark, path).collect()}
    assert got == {1: None, 2: None, 3: 99.0}


def test_constraints_follow_rename_and_block_drop(spark, tmp_path):
    path = _mk(spark, tmp_path)
    set_table_constraints(path, [
        {"kind": "in_range", "col": "score", "lo": 0.0, "hi": 100.0},
    ])
    rename_column(spark, path, "score", "rating")
    # enforcement now speaks the new name: violating append refused
    with pytest.raises(Exception, match="rating"):
        commit(
            spark.createDataFrame([(9, "x", 999.0)],
                                  "id long, tag string, rating double"),
            path,
        )
    # dropping a constrained column is refused until the constraint goes
    with pytest.raises(ValueError, match="constraint"):
        drop_column(spark, path, "rating")


def test_rename_survives_optimize_rollback_cdf_expire(spark, tmp_path):
    path = _mk(spark, tmp_path)                      # v0
    rename_column(spark, path, "tag", "label")       # v1
    commit(spark.createDataFrame([(3, "c", 30.0)],
                                 "id long, label string, score double"),
           path)                                     # v2
    optimize_table(spark, path, target_file_bytes=1 << 30)  # v3
    assert set(read_table(spark, path).columns) == {"id", "label", "score"}

    # CDF rows surface under each version's own names
    feed = table_changes(spark, path, 0)
    assert "label" in feed.columns
    inserts = feed.filter(F.col("_change_type") == "insert")
    assert inserts.count() >= 3

    # rollback to pre-rename restores the old logical name
    rollback(spark, path, to_version=0)              # v4
    assert "tag" in read_table(spark, path).columns
    rollback(spark, path, to_version=2)              # v5: mapped again
    assert "label" in read_table(spark, path).columns

    # expire below the rename: the mapping survives via the checkpoint
    expire_log(path, keep_last=2)
    assert "label" in read_table(spark, path).columns
    got = {r["id"]: r["label"] for r in read_table(spark, path).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_mapping_composes_with_schema_evolution(spark, tmp_path):
    """Evolution (additive append) and mapping interleave: add a column,
    rename IT, keep appending — mergeSchema reads, pruned reads, and
    time travel all resolve each version's own names and values."""
    path = str(tmp_path / "vt")
    commit(spark.createDataFrame([(1, "a")], "id long, tag string"),
           path, stats_cols=("id",))                       # v0
    commit(spark.createDataFrame([(2, "b", 0.5)],
                                 "id long, tag string, score double"),
           path, allow_schema_evolution=True,
           stats_cols=("id",))                             # v1 evolves
    rename_column(spark, path, "score", "rating")          # v2
    commit(spark.createDataFrame([(3, "c", 0.9)],
                                 "id long, tag string, rating double"),
           path, allow_schema_evolution=True,
           stats_cols=("id",))                             # v3

    now = read_table(spark, path)
    got = {r["id"]: r["rating"] for r in now.collect()}
    assert got == {1: None, 2: 0.5, 3: 0.9}  # v0's file lacks the column
    # pruned point read through the mapping + evolved files
    df, _ = read_table_pruned(spark, path, eq={"id": 2})
    assert [r["rating"] for r in df.collect()] == [0.5]
    # per-version names: v1 says score, v3 says rating
    assert "score" in read_table(spark, path, version=1).columns
    assert "rating" in read_table(spark, path, version=3).columns


def test_analyze_surfaces_logical_names(spark, tmp_path):
    """ANALYZE partials are collected over physical files; the output
    must still speak the version's logical names after a rename."""
    from medallion_data_lake_spark.operators.versioned import analyze_table

    path = str(tmp_path / "vt")
    commit(
        spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)],
                              "id long, tag string, score double")
        .repartition(1),
        path, analyze_stats=True,
    )
    rename_column(spark, path, "score", "rating")
    stats, report = analyze_table(spark, path)
    cols = {r["column"] for r in stats.collect()}
    assert "rating" in cols and "score" not in cols
    assert report["files_missing"] == 0


def test_rename_validation(spark, tmp_path):
    path = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, path, "tag", "score")
    with pytest.raises(ValueError, match="no column"):
        rename_column(spark, path, "nope", "x")
    rename_column(spark, path, "tag", "label")
    # renaming another column INTO the retired/physical name is refused
    with pytest.raises(ValueError, match="physical"):
        rename_column(spark, path, "score", "tag")
    # rename back to the original physical name: identity again
    rename_column(spark, path, "label", "tag")
    assert _snapshot(path).column_mapping == {"map": {}, "retired": []}
    with pytest.raises(ValueError, match="only column"):
        p2 = str(tmp_path / "one")
        commit(spark.createDataFrame([(1,)], "id long"), p2)
        drop_column(spark, p2, "id")


def test_ddl_lost_race_recomputes_from_fresh_tip(spark, tmp_path):
    """A rename that loses its version race must rebuild schema+mapping
    from the race WINNER's tip, not republish state derived before the
    race (r8 self-review finding): here the winner is a schema-evolving
    append adding ``extra`` — a stale-state retry would publish a
    table_schema without it, silently un-evolving the table."""
    import json as _json

    from pyspark.sql.types import LongType, StructField, StructType

    from medallion_data_lake_spark.operators import logstore
    from medallion_data_lake_spark.operators.versioned import _table_schema_at

    path = _mk(spark, tmp_path)
    inner = logstore.get_log_store()

    class OneRace(logstore.LogStore):
        fired = False

        def list(self, d):
            return inner.list(d)

        def read(self, f):
            return inner.read(f)

        def ensure_dir(self, d):
            inner.ensure_dir(d)

        def delete(self, f):
            inner.delete(f)

        def put_exclusive(self, f, text):
            if not OneRace.fired and '"RENAME COLUMN' in text:
                OneRace.fired = True
                mine = _json.loads(text)
                comp = StructType(
                    list(_table_schema_at(spark, path).fields)
                    + [StructField("extra", LongType())]
                )
                inner.put_exclusive(f, _json.dumps({
                    "version": mine["version"], "timestamp": 0.0,
                    "mode": "append", "added": [], "removed": [],
                    "operation": "APPEND(race-winner)",
                    "table_schema": comp.jsonValue(),
                }))
                raise FileExistsError(f)
            inner.put_exclusive(f, text)

    prev = logstore.set_log_store(OneRace())
    try:
        rename_column(spark, path, "tag", "label")
    finally:
        logstore.set_log_store(prev)

    assert OneRace.fired
    final = {f.name for f in _table_schema_at(spark, path).fields}
    assert final == {"id", "label", "score", "extra"}


def test_structured_stale_names_refused(spark, tmp_path):
    """Structured preds/keys/SET targets get the same stale-name
    refusal as raw SQL (r8 self-review finding): after rename/drop, the
    old (physical) name still exists in the data files, so an
    un-translated dict key would silently bind to it."""
    path = _mk(spark, tmp_path,
               rows=((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    rename_column(spark, path, "score", "rating")

    with pytest.raises(ValueError, match="score"):
        delete_rows(spark, path, predicates={"score": (0.0, 99.0)})
    with pytest.raises(ValueError, match="score"):
        delete_rows(spark, path, keys={"score": [10.0]})
    with pytest.raises(ValueError, match="score"):
        delete_rows_dv(spark, path, predicates={"score": (0.0, 99.0)})
    with pytest.raises(ValueError, match="score"):
        update_rows(spark, path, set_exprs={"score": "0.0"},
                    where="rating > 0")
    with pytest.raises(ValueError, match="score"):
        update_rows(spark, path, set_exprs={"tag": "'x'"},
                    predicates={"score": (0.0, 99.0)})

    # nothing was mutated by the refused calls
    got = {r["id"]: r["rating"] for r in read_table(spark, path).collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}

    # dropped column: SET target refused too
    drop_column(spark, path, "rating")
    with pytest.raises(ValueError, match="rating"):
        update_rows(spark, path, set_exprs={"rating": "1.0"},
                    where="id = 1")


def test_merge_analyze_stats_on_column_mapped_table(spark, tmp_path):
    """merge_into(analyze_stats=...) must translate logical stat names
    to physical like commit()/optimize_table do (r8 self-review
    finding — pre-fix this raised UNRESOLVED_COLUMN and stranded the
    commit dir)."""
    import glob as _glob

    path = _mk(spark, tmp_path)
    rename_column(spark, path, "score", "rating")
    src = spark.createDataFrame(
        [(2, "b2", 21.0), (9, "z", 90.0)],
        "id long, tag string, rating double",
    )
    merge_into(spark, path, src, key="id", analyze_stats=("rating",))
    got = {r["id"]: r["rating"] for r in read_table(spark, path).collect()}
    assert got == {1: 10.0, 2: 21.0, 9: 90.0}
    # no stranded commit dirs: every data/commit-* on disk is referenced
    # by some log entry (pre-vacuum, history legitimately keeps removed
    # files — orphans are dirs NO entry ever added)
    from medallion_data_lake_spark.operators.versioned import _entries
    referenced = {
        os.path.dirname(f)
        for e in _entries(path)
        for f in e.get("added", [])
    }
    on_disk = {
        os.path.relpath(d, path)
        for d in _glob.glob(os.path.join(path, "data", "commit-*"))
    }
    assert on_disk <= referenced


def test_stale_name_inside_string_literal_is_not_refused(spark, tmp_path):
    """A quoted literal or comment that merely SPELLS a stale name is
    data, not a column reference (r8 ADVICE: the word-boundary scan
    refused ``tag = 'score'`` after score→rating). Backtick-quoted
    identifiers still refuse — they do bind to columns."""
    path = _mk(spark, tmp_path,
               rows=((1, "score", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    rename_column(spark, path, "score", "rating")

    # literal occurrences: all legal
    out = delete_rows(spark, path, where="tag = 'score'")
    assert out["rows_deleted"] == 1
    out = update_rows(
        spark, path,
        set_exprs={"tag": "concat(tag, '_score')"},
        where="rating >= 20.0 -- old column was score",
    )
    assert out["rows_updated"] == 2
    got = {r["id"]: r["tag"] for r in read_table(spark, path).collect()}
    assert got == {2: "b_score", 3: "c_score"}

    # a real (backticked or bare) stale reference still refuses
    with pytest.raises(ValueError, match="score"):
        delete_rows(spark, path, where="`score` > 0")
    with pytest.raises(ValueError, match="score"):
        delete_rows(spark, path, where="score > 0 AND tag = 'x'")


def test_literal_masker_matches_spark_string_lexing(spark, tmp_path):
    """The masker must lex like Spark's DEFAULT string rules: a
    backslash-escaped quote does NOT end a literal, so code after it is
    still scanned; block comments are masked like line comments."""
    path = _mk(spark, tmp_path,
               rows=((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)))
    rename_column(spark, path, "score", "rating")

    # 'a\'' is ONE literal under default lexing; `score > 0` after it
    # is real code and must refuse
    with pytest.raises(ValueError, match="score"):
        delete_rows(spark, path, where=r"tag = 'a\'' OR score > 0")
    # stale name inside a block comment: data, not a reference
    out = delete_rows(spark, path,
                      where="rating >= 30.0 /* score was renamed */")
    assert out["rows_deleted"] == 1
    # backslash escapes inside a masked literal don't leak the mask
    out = delete_rows(spark, path, where=r"tag = 'sc\tore' AND rating > 0")
    assert out is None  # matched nothing: a legal no-op, not a refusal
