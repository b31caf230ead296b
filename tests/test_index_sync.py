"""CDF → index delete propagation (operators/index_sync.py): erase in
ONE place — the versioned corpus table — and the serving ANN index
forgets too. Erasure-shaped commits (delete / DV-delete / merge-delete)
tombstone; replacement-shaped commits (overwrite) do not; the watermark
makes re-syncs no-ops and crash-replays idempotent."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from medallion_data_lake_spark.catalog import load_star_table
from medallion_data_lake_spark.operators.ann import (
    MIN_BITS,
    build_ivf_index,
    read_tombstones,
    search_index,
)
from medallion_data_lake_spark.operators.index_sync import (
    read_sync_watermark,
    sync_deletes_to_index,
)
from medallion_data_lake_spark.operators.versioned import (
    commit,
    delete_rows_dv,
    latest_version,
    merge_into,
    read_table,
)

SF = "/root/testdata/sf0.001"


def _setup(spark, tmp_path):
    emb = load_star_table(spark, SF, "embeddings")
    table = str(tmp_path / "corpus")
    commit(emb, table, stats_cols=("vec_id",))
    idx = str(tmp_path / "idx")
    build_ivf_index(read_table(spark, table), idx, n_bits=MIN_BITS)
    return emb, table, idx


def _hits(spark, idx, queries):
    return {
        r["cand_id"]
        for r in search_index(spark, idx, queries, n_probes=4, k=5).collect()
    }


def test_table_delete_propagates_and_watermark_advances(spark, tmp_path):
    emb, table, idx = _setup(spark, tmp_path)
    queries = emb.filter(F.col("vec_id") < 3)

    delete_rows_dv(spark, table, keys={"vec_id": [5, 6, 7]})
    out = sync_deletes_to_index(spark, table, idx)
    assert out["ids_tombstoned"] == 3
    assert read_sync_watermark(idx, table) == latest_version(table)
    assert not (_hits(spark, idx, queries) & {5, 6, 7})

    # re-sync with no new commits: no-op, ledger untouched
    before = read_tombstones(spark, idx).count()
    out2 = sync_deletes_to_index(spark, table, idx)
    assert out2["ids_tombstoned"] == 0
    assert read_tombstones(spark, idx).count() == before


def test_merge_deletes_tombstone_but_upserts_do_not(spark, tmp_path):
    emb, table, idx = _setup(spark, tmp_path)
    src = (
        emb.filter(F.col("vec_id").isin(10, 11, 12))
        .withColumn("_del", F.col("vec_id") == 10)
    )
    merge_into(spark, table, src, key="vec_id", delete_col="_del")
    out = sync_deletes_to_index(spark, table, idx)
    assert out["ids_tombstoned"] == 1
    t = {r["vec_id"] for r in read_tombstones(spark, idx).collect()}
    assert t == {10}  # updated keys 11/12 are NOT erased


def test_overwrite_is_replacement_not_erasure(spark, tmp_path):
    emb, table, idx = _setup(spark, tmp_path)
    commit(emb.filter(F.col("vec_id") >= 100), table, mode="overwrite")
    out = sync_deletes_to_index(spark, table, idx)
    assert out["ids_tombstoned"] == 0  # re-ingest path, not tombstones
    assert read_tombstones(spark, idx) is None
    assert read_sync_watermark(idx, table) == latest_version(table)


def test_crash_replay_is_idempotent(spark, tmp_path):
    emb, table, idx = _setup(spark, tmp_path)
    delete_rows_dv(spark, table, keys={"vec_id": [1, 2]})
    sync_deletes_to_index(spark, table, idx)
    # simulate a crash BEFORE the watermark advanced: rewind it
    state_file = os.path.join(idx, "_index_sync.json")
    state = json.load(open(state_file))
    state["watermarks"][os.path.abspath(table)] = -1
    json.dump(state, open(state_file, "w"))
    out = sync_deletes_to_index(spark, table, idx)  # replay same range
    assert out["ids_tombstoned"] == 2
    assert read_tombstones(spark, idx).count() == 2  # no duplicates
    queries = emb.filter(F.col("vec_id").isin(50, 51))
    assert not (_hits(spark, idx, queries) & {1, 2})


def test_delete_then_readd_in_range_stays_alive(spark, tmp_path):
    """Last-change-wins (r8 self-review finding): a doc deleted at v1
    but re-appended at v2 is LIVE — the bootstrap sync (full-history
    replay) must not tombstone it, or the next compaction would
    permanently purge a live document."""
    emb, table, idx = _setup(spark, tmp_path)
    delete_rows_dv(spark, table, keys={"vec_id": [5, 6]})         # v1
    commit(emb.filter(F.col("vec_id") == 5), table)               # v2: re-add 5
    out = sync_deletes_to_index(spark, table, idx)
    assert out["ids_tombstoned"] == 1
    assert {r["vec_id"] for r in read_tombstones(spark, idx).collect()} == {6}
    queries = emb.filter(F.col("vec_id") < 3)
    assert 6 not in _hits(spark, idx, queries)


def test_expired_history_bootstrap_clamps_and_incremental_gap_raises(
    spark, tmp_path
):
    """expire_log before the first sync must not wedge the sync forever
    (r8 self-review finding): bootstrap clamps to the oldest retained
    version; an INCREMENTAL sync that lost versions raises with
    guidance unless the gap is explicitly accepted."""
    import pytest

    from medallion_data_lake_spark.operators.versioned import expire_log

    emb, table, idx = _setup(spark, tmp_path)
    commit(emb.limit(1), table)                                   # v1 filler
    delete_rows_dv(spark, table, keys={"vec_id": [7]})            # v2
    expire_log(table, keep_last=2)                                # drop v0
    # bootstrap (wm=-1): clamps lo to the oldest retained version and works
    out = sync_deletes_to_index(spark, table, idx)
    assert out["ids_tombstoned"] == 1
    assert out["to_version"] == latest_version(table)

    # incremental gap: rewind the watermark below the retained floor
    state_file = os.path.join(idx, "_index_sync.json")
    state = json.load(open(state_file))
    delete_rows_dv(spark, table, keys={"vec_id": [8]})            # v3
    expire_log(table, keep_last=1)
    state["watermarks"][os.path.abspath(table)] = 0
    json.dump(state, open(state_file, "w"))
    with pytest.raises(ValueError, match="expired"):
        sync_deletes_to_index(spark, table, idx)
    out2 = sync_deletes_to_index(spark, table, idx,
                                 on_expired_gap="skip")
    assert "expired_gap" in out2
    assert read_sync_watermark(idx, table) == latest_version(table)


# ---------------------------------------------------------------------------
# streaming sync (run_index_sync_stream over the medallion_lake source)
# ---------------------------------------------------------------------------


def test_streaming_sync_tombstones_and_is_exactly_once(spark, tmp_path):
    """One-shot (availableNow) streaming sync: erasures reach the
    ledger, search forgets, the watermark advances, and a second run
    from the same checkpoint adds nothing (engine-managed offsets)."""
    from medallion_data_lake_spark.operators.index_sync import (
        run_index_sync_stream,
    )

    emb, table, idx = _setup(spark, tmp_path)
    delete_rows_dv(spark, table, keys={"vec_id": [5, 6, 7]})

    q = run_index_sync_stream(spark, table, idx)
    q.awaitTermination(180)
    t = {r["vec_id"] for r in read_tombstones(spark, idx).collect()}
    assert t == {5, 6, 7}
    queries = emb.filter(F.col("vec_id") < 3)
    assert not (_hits(spark, idx, queries) & {5, 6, 7})
    assert read_sync_watermark(idx, table) == latest_version(table)

    before = read_tombstones(spark, idx).count()
    q2 = run_index_sync_stream(spark, table, idx)
    q2.awaitTermination(180)
    assert read_tombstones(spark, idx).count() == before


def test_streaming_sync_overwrite_is_replacement_not_erasure(
    spark, tmp_path
):
    """An overwrite's CDF delete rows are wholesale replacement — the
    streaming sync must not tombstone them (the index is re-ingested
    alongside; tombstone-wins would mask the re-added corpus)."""
    from medallion_data_lake_spark.operators.index_sync import (
        run_index_sync_stream,
    )

    emb, table, idx = _setup(spark, tmp_path)
    commit(emb.filter(F.col("vec_id") >= 10), table, mode="overwrite")

    q = run_index_sync_stream(spark, table, idx)
    q.awaitTermination(180)
    assert read_tombstones(spark, idx) is None
    assert read_sync_watermark(idx, table) == latest_version(table)


def test_streaming_sync_delete_then_readd_in_range_stays_alive(
    spark, tmp_path
):
    """Within one micro-batch the LAST change per id wins: a doc
    deleted and later re-appended before the sync ran is alive — the
    same rule that keeps the batch sync's bootstrap from tombstoning
    re-added docs."""
    from medallion_data_lake_spark.operators.index_sync import (
        run_index_sync_stream,
    )

    emb, table, idx = _setup(spark, tmp_path)
    delete_rows_dv(spark, table, keys={"vec_id": [5, 6]})
    commit(emb.filter(F.col("vec_id") == 5), table)  # 5 re-added, 6 not

    q = run_index_sync_stream(spark, table, idx)
    q.awaitTermination(180)
    t = {r["vec_id"] for r in read_tombstones(spark, idx).collect()}
    assert t == {6}


def test_apply_sync_batch_skips_versions_already_synced(spark, tmp_path):
    """Batch/stream interop: versions at or below the persisted
    watermark were processed with the RANGE-WIDE last-wins view (a
    delete + later re-add = alive); a stream micro-batch replaying only
    the delete's version must not re-tombstone the live doc, and the
    watermark must never regress."""
    from medallion_data_lake_spark.operators.index_sync import (
        _apply_sync_batch,
    )

    emb, table, idx = _setup(spark, tmp_path)
    delete_rows_dv(spark, table, keys={"vec_id": [5]})       # v1
    commit(emb.filter(F.col("vec_id") == 5), table)          # v2 re-add
    out = sync_deletes_to_index(spark, table, idx)           # wm -> 2
    assert out["ids_tombstoned"] == 0

    stale = spark.createDataFrame(
        [(5, "delete", 1)],
        "vec_id long, _change_type string, _commit_version long",
    )
    _apply_sync_batch(stale, 99, table, idx, "vec_id")
    t = read_tombstones(spark, idx)
    assert t is None or 5 not in {r["vec_id"] for r in t.collect()}
    assert read_sync_watermark(idx, table) == latest_version(table)


def test_streaming_sync_bootstrap_clamps_expired_history(spark, tmp_path):
    """Bootstrap parity with the batch sync on an expire_log'd table
    (r8 ADVICE): a never-synced index (wm=-1) must clamp its stream's
    startingVersion to the oldest retained commit — the naive wm+1=0
    trips the source's expired-gap refusal and the streaming CLI verb
    fails on any previously-expired table. An INCREMENTAL gap must
    still refuse (the guard is only bypassed for the bootstrap case the
    batch sync already documents as sound)."""
    import json as _json

    import pytest

    from medallion_data_lake_spark.operators.index_sync import (
        run_index_sync_stream,
    )
    from medallion_data_lake_spark.operators.versioned import expire_log

    emb, table, idx = _setup(spark, tmp_path)
    commit(emb.limit(1), table)                                   # v1 filler
    delete_rows_dv(spark, table, keys={"vec_id": [7]})            # v2
    expire_log(table, keep_last=2)                                # drop v0

    # bootstrap (wm=-1): clamps startingVersion to the retained floor
    q = run_index_sync_stream(spark, table, idx)
    q.awaitTermination(180)
    t = {r["vec_id"] for r in read_tombstones(spark, idx).collect()}
    assert t == {7}
    assert read_sync_watermark(idx, table) == latest_version(table)

    # incremental gap: rewind the watermark below the retained floor —
    # the source's expired-gap guard must still refuse
    delete_rows_dv(spark, table, keys={"vec_id": [8]})            # v3
    expire_log(table, keep_last=1)
    state_file = os.path.join(idx, "_index_sync.json")
    state = _json.load(open(state_file))
    state["watermarks"][os.path.abspath(table)] = 0
    _json.dump(state, open(state_file, "w"))
    with pytest.raises(Exception, match="expired"):
        q2 = run_index_sync_stream(
            spark, table, idx,
            checkpoint_dir=str(tmp_path / "ckpt_gap"),
        )
        q2.awaitTermination(180)
