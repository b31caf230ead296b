"""Per-file Bloom filters on the versioned table: point-lookup file
skipping where [min,max] ranges are useless (high-NDV unsorted keys),
exact results guaranteed by the residual filter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_data_lake_spark.operators.versioned import (
    BLOOM_BITS,
    commit,
    read_table_pruned,
)


@pytest.fixture
def table(spark, tmp_path):
    """4 commits × interleaved ids: every file's id RANGE spans nearly
    the whole domain (range skipping is useless by construction), but
    each id lives in exactly one file."""
    path = str(tmp_path / "vt")
    for b in range(4):
        rows = [(i, f"v{i}") for i in range(b, 4000, 4)]  # ids mod 4 == b
        commit(
            spark.createDataFrame(rows, "id long, payload string"),
            path, stats_cols=("id",), bloom_cols=("id",),
        )
    return path


def test_bloom_point_lookup_skips_files(spark, table):
    df, report = read_table_pruned(spark, table, eq={"id": 1337})
    # each commit writes several part files (8 shuffle partitions); the
    # key lives in exactly ONE of them. Ranges overlap everywhere; the
    # bloom alone must prune to ~1 file (false positives possible but
    # bounded far below "read everything")
    assert report["files_total"] >= 4
    assert report["files_read"] <= max(4, report["files_total"] // 8), report
    rows = df.collect()
    assert [(r["id"], r["payload"]) for r in rows] == [(1337, "v1337")]


def test_bloom_absent_key_reads_nothing(spark, table):
    """A key in no file: with 4 hashes at 4096 bits over 1000 keys/file,
    all 4 files should say definitely-absent (FP ~2.4%/file; tolerate
    one)."""
    df, report = read_table_pruned(spark, table, eq={"id": 999_999})
    assert report["files_skipped"] >= report["files_total"] - 2, report
    assert df.count() == 0


def test_bloom_false_positive_still_exact(spark, tmp_path):
    """Degenerate bloom (every probe a maybe) must never change
    RESULTS — the residual filter keeps equality exact."""
    path = str(tmp_path / "vt")
    commit(spark.createDataFrame([(1, "a"), (2, "b")], "id long, p string"),
           path, bloom_cols=("id",))
    df, report = read_table_pruned(spark, path, eq={"id": 2})
    assert [(r["id"], r["p"]) for r in df.collect()] == [(2, "b")]


def test_bloom_survives_checkpoint_folding(spark, tmp_path):
    """Blooms ride file_stats into log checkpoints: after enough
    commits to write a checkpoint, pruning still works (resolution
    reads the checkpoint, not the expired entries)."""
    from medallion_data_lake_spark.operators.versioned import expire_log

    path = str(tmp_path / "vt")
    for b in range(12):
        rows = [(b * 1000 + i, "x") for i in range(50)]
        commit(spark.createDataFrame(rows, "id long, p string"),
               path, bloom_cols=("id",))
    expire_log(path, keep_last=2)  # entries below the base are GONE
    df, report = read_table_pruned(spark, path, eq={"id": 11_007})
    assert report["files_skipped"] >= report["files_total"] - 2
    assert df.count() == 1


def test_files_without_bloom_are_read(spark, tmp_path):
    """Mixed table: commits without bloom_cols stay conservatively
    readable — pruning must not skip them."""
    path = str(tmp_path / "vt")
    commit(spark.createDataFrame([(1, "old")], "id long, p string"), path)
    commit(spark.createDataFrame([(2, "new")], "id long, p string"),
           path, bloom_cols=("id",))
    df, report = read_table_pruned(spark, path, eq={"id": 1})
    assert report["files_read"] >= 1
    assert [(r["id"], r["p"]) for r in df.collect()] == [(1, "old")]
    assert BLOOM_BITS == 4096  # layout constant pinned (log compat)


def test_keyed_delete_prunes_with_blooms(spark, table):
    """GDPR point erasure: delete 3 ids from the interleaved table —
    only the files that can hold them rewrite; results exact; the
    rewritten files carry FRESH blooms so later point reads still
    skip."""
    from medallion_data_lake_spark.operators.versioned import (
        delete_rows,
        read_table,
    )

    out = delete_rows(spark, table, keys={"id": [8, 1337, 3999]})
    assert out is not None and out["rows_deleted"] == 3
    # every commit's files span the id domain; blooms confine the
    # rewrite to the few files actually holding the 3 keys
    assert out["files_matched"] <= max(4, (out["files_matched"]
                                           + out["files_untouched"]) // 4)
    left = read_table(spark, table)
    assert left.filter(F.col("id").isin(8, 1337, 3999)).count() == 0
    assert left.count() == 4000 - 3

    # post-delete point lookup still prunes (fresh blooms on rewrites)
    df, report = read_table_pruned(spark, table, eq={"id": 12})
    assert report["files_skipped"] > 0
    assert df.count() == 1


def test_keyed_delete_no_match_is_noop(spark, table):
    from medallion_data_lake_spark.operators.versioned import (
        delete_rows,
        latest_version,
    )

    before = latest_version(table)
    assert delete_rows(spark, table, keys={"id": [999_999]}) is None
    assert latest_version(table) == before


def test_keyed_update_point_form(spark, table):
    """update_rows(keys=...): point updates prune like keyed deletes."""
    from medallion_data_lake_spark.operators.versioned import (
        read_table,
        update_rows,
    )

    out = update_rows(spark, table, set_exprs={"payload": "'patched'"},
                      keys={"id": [7, 2048]})
    assert out is not None and out["rows_updated"] == 2
    got = {r["id"]: r["payload"]
           for r in read_table(spark, table)
           .filter(F.col("id").isin(7, 2048, 9)).collect()}
    assert got == {7: "patched", 2048: "patched", 9: "v9"}


def test_bloom_probe_renders_boolean_like_build(spark, tmp_path):
    """REGRESSION (r6 verdict #1): the build side hashes SPARK's string
    rendering of the column (True → 'true'); a probe hashing Python's
    str(True) ('True') false-skips every file — silently missing rows
    on a point read. The probe must cast the literal to the column's
    type before the shared string cast."""
    path = str(tmp_path / "vt")
    commit(spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(100)], "id long, flag boolean"),
        path, bloom_cols=("flag",))
    df, report = read_table_pruned(spark, path, eq={"flag": True})
    assert df.count() == 50, report  # pre-fix: 0 (every file bloom-skipped)


def test_bloom_probe_int_on_double_column(spark, tmp_path):
    """An int probe against a double column: build renders '5.0',
    Python's str renders '5' — pre-fix false-skip. The typed cast makes
    both sides agree."""
    path = str(tmp_path / "vt")
    commit(spark.createDataFrame(
        [(float(i), f"v{i}") for i in range(1000)],
        "price double, p string"),
        path, bloom_cols=("price",))
    df, report = read_table_pruned(spark, path, eq={"price": 5})
    assert [r["p"] for r in df.collect()] == ["v5"], report


def test_keyed_delete_int_key_on_double_column(spark, tmp_path):
    """GDPR keyed delete with an int key on a double column must not be
    silently skipped by the bloom (the compliance failure mode the r6
    verdict flagged as data-loss-grade)."""
    from medallion_data_lake_spark.operators.versioned import (
        delete_rows,
        read_table,
    )

    path = str(tmp_path / "vt")
    commit(spark.createDataFrame(
        [(float(i), f"v{i}") for i in range(1000)],
        "uid double, p string"),
        path, stats_cols=("uid",), bloom_cols=("uid",))
    out = delete_rows(spark, path, keys={"uid": [5, 900]})
    assert out is not None and out["rows_deleted"] == 2
    assert read_table(spark, path) \
        .filter(F.col("uid").isin(5, 900)).count() == 0


def test_bloom_probe_type_matrix(spark, tmp_path):
    """Build-hash ≡ probe-hash across the column-type matrix: one table
    with a bloom on every column type a key realistically takes; every
    point probe must find its row (a false skip on ANY type is the
    silent-data-loss class the r6 verdict flagged). Timestamp/date
    probes use native Python objects — the rendering contract, not the
    caller, owns the conversion."""
    import datetime

    path = str(tmp_path / "vt")
    cols = "i int, l long, d double, b boolean, s string, ts timestamp, dt date"
    rows = [
        (n, n * 10, n * 1.5, n % 2 == 0, f"key{n}",
         datetime.datetime(2024, 1, 1) + datetime.timedelta(days=n),
         datetime.date(2023, 1, 1) + datetime.timedelta(days=n))
        for n in range(50)
    ]
    commit(spark.createDataFrame(rows, cols), path,
           bloom_cols=("i", "l", "d", "b", "s", "ts", "dt"))
    probes = {
        "i": 7,
        "l": 70,
        "d": 10.5,            # float probe on double
        "b": True,            # Python bool vs Spark 'true'
        "s": "key7",
        "ts": datetime.datetime(2024, 1, 8),
        "dt": datetime.date(2023, 1, 8),
    }
    for c, v in probes.items():
        df, report = read_table_pruned(spark, path, eq={c: v})
        assert df.count() >= 1, (c, v, report)
    # int probe against the double column (cross-typed rendering)
    df, report = read_table_pruned(spark, path, eq={"d": 3})
    assert df.filter(F.col("i") == 2).count() == 1, report


def test_isin_batched_point_lookup(spark, table):
    """r10 verdict #3: the SET form of eq — one call, K keys. A file is
    read iff SOME key admits; results equal the union of the per-key
    eq reads; a file holding several keys is opened once."""
    keys = [1337, 2338, 3339]  # mod 4 = 1, 2, 3 -> three distinct files
    df, report = read_table_pruned(spark, table, isin={"id": keys})
    assert sorted((r["id"], r["payload"]) for r in df.collect()) == [
        (k, f"v{k}") for k in keys
    ]
    # still prunes: 3 keys live in <= 3 files (+ rare bloom FPs)
    assert report["files_read"] <= 6 < report["files_total"] * 0.5, report

    # union-of-eq equivalence on rows AND on the files touched
    per_key = [read_table_pruned(spark, table, eq={"id": k}) for k in keys]
    union_rows = sorted(
        (r["id"], r["payload"]) for d, _ in per_key for r in d.collect()
    )
    assert sorted((r["id"], r["payload"]) for r in df.collect()) == union_rows
    # shared-file dedup: batched files_read <= sum of per-key files_read
    assert report["files_read"] <= sum(r["files_read"] for _, r in per_key)


def test_isin_absent_keys_read_nothing(spark, table):
    df, report = read_table_pruned(spark, table, isin={"id": [987654, 887654]})
    assert df.count() == 0
    assert report["files_read"] <= 2  # bloom FPs only


def test_isin_validation(spark, table):
    with pytest.raises(ValueError, match="both eq and isin"):
        read_table_pruned(spark, table, eq={"id": 1}, isin={"id": [2]})
    with pytest.raises(ValueError, match="non-empty"):
        read_table_pruned(spark, table, isin={"id": []})


def test_isin_residual_keeps_results_exact(spark, tmp_path):
    """Files without blooms are conservatively read; the residual IN
    keeps the answer exact anyway."""
    path = str(tmp_path / "nb")
    commit(
        spark.createDataFrame([(i, i * 10) for i in range(100)],
                              "id long, v long"),
        path,  # no bloom_cols, no stats_cols
    )
    df, report = read_table_pruned(spark, path, isin={"id": [3, 7]})
    assert sorted(tuple(r) for r in df.collect()) == [(3, 30), (7, 70)]
    assert report["files_read"] == report["files_total"]


def test_isin_above_bloom_cap_skips_probe_but_stays_exact(spark, table):
    """Lists longer than _ISIN_BLOOM_MAX skip bloom probing entirely
    (the probe is a width-(values*k) projection whose cost grows with
    the list while its skipping yield vanishes — a 2,410-id read spent
    ~60s in it pre-fix); range admission + the residual IN must keep
    the answer exact, including absent keys."""
    from medallion_data_lake_spark.operators.versioned import (
        _ISIN_BLOOM_MAX,
    )

    n = _ISIN_BLOOM_MAX + 50
    keys = list(range(100, 100 + n)) + [987654, 887654]  # tail: absent
    df, report = read_table_pruned(spark, table, isin={"id": keys})
    got = sorted((r["id"], r["payload"]) for r in df.collect())
    assert got == [(k, f"v{k}") for k in range(100, 100 + n)]
    # bloom probing skipped, but RANGE admission still prunes: the
    # contiguous key run only overlaps the low-range files
    assert 0 < report["files_read"] < report["files_total"], report

    # keyed DML plans through the same planner, so the same cap holds:
    # above it no bloom probe runs, and exactly the present keys go
    from medallion_data_lake_spark.operators.versioned import (
        delete_rows,
        delete_rows_dv,
        read_table,
    )

    gone = set()
    for fn, lo in ((delete_rows, 1000), (delete_rows_dv, 2000)):
        present = list(range(lo, lo + n))
        out = fn(spark, table, keys={"id": present + [lo + 5000, -lo]})
        assert out is not None and out["rows_deleted"] == n, out
        gone |= set(present)
        ids = {r["id"] for r in read_table(spark, table).collect()}
        assert ids == set(range(4000)) - gone


def test_rewrites_keep_skipping_metadata(spark, tmp_path):
    """MERGE, DELETE(where=...) and OPTIMIZE record again every range
    and bloom column the files they replace carried — a rewrite must
    not cost the table its file skipping."""
    from medallion_data_lake_spark.operators.versioned import (
        _snapshot,
        delete_rows,
        merge_into,
        optimize_table,
    )

    path = str(tmp_path / "vt")
    for b in range(4):
        rows = [(i, i % 7, f"v{i}") for i in range(b, 400, 4)]
        commit(spark.createDataFrame(rows, "vec_id long, g long, p string"),
               path, stats_cols=("vec_id", "g"), bloom_cols=("vec_id",))

    def rewritten_files_described(before):
        live = _snapshot(path).live
        stats = _snapshot(path).file_stats
        new = set(live) - set(before)
        assert new
        for f in new:
            assert {"vec_id", "g", "vec_id__bloom"} <= set(stats[f]), stats[f]
        return live

    live = _snapshot(path).live
    # key range [5, 1000] overlaps every file: the merge rewrites them all
    merge_into(spark, path, spark.createDataFrame(
        [(5, 5, "m5"), (1000, 6, "new")], "vec_id long, g long, p string"),
        key="vec_id")
    live = rewritten_files_described(live)
    # 777 is in no file: the rewritten files' ranges and blooms skip
    df, report = read_table_pruned(spark, path, eq={"vec_id": 777})
    assert df.count() == 0 and report["files_skipped"] > 0, report

    out = delete_rows(spark, path, where="p = 'v13'")
    assert out is not None and out["rows_deleted"] == 1
    live = rewritten_files_described(live)

    optimize_table(spark, path)
    rewritten_files_described(live)
    df, report = read_table_pruned(spark, path, eq={"vec_id": 777})
    assert df.count() == 0 and report["files_skipped"] > 0, report
    df, report = read_table_pruned(spark, path, predicates={"g": (7, 9)})
    assert df.count() == 0 and report["files_read"] == 0, report


def test_stats_and_bloom_commit_describes_files_in_one_job(
        spark, tmp_path, monkeypatch):
    """A commit with both ``stats_cols`` and ``bloom_cols`` describes its
    new files in ONE Spark job after the data write: the ranges and the
    blooms come from one aggregation, read with the written frame's
    schema (no schema-inference job), and every file carries both.
    AQE is off for the count: it runs an aggregation's shuffle map
    stage as a job of its own, so with it on the one aggregation shows
    as two jobs."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    group = "describe-after-write"
    write = DataFrameWriter.parquet

    def parquet(self, *a, **kw):
        write(self, *a, **kw)
        sc.setJobGroup(group, "commit work after the data write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    df = spark.range(0, 200, numPartitions=2).select(
        "id", F.col("id").cast("string").alias("tag"))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        entry = commit(df, str(tmp_path / "vt"), stats_cols=("id", "tag"),
                       bloom_cols=("id",))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    stats = entry["file_stats"]
    assert len(stats) == 2
    for s in stats.values():
        assert set(s) == {"id", "tag", "id__bloom"}
        assert s["id__bloom"].startswith(f"{BLOOM_BITS}:")
    assert sorted(s["id"] for s in stats.values()) == [[0, 99], [100, 199]]
    assert sorted(s["tag"] for s in stats.values()) == [["0", "99"],
                                                        ["100", "199"]]
