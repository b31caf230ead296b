"""Streaming APPEND into the versioned table (streaming/versioned_sink.py):
exactly-once under checkpoint-loss replay, per-batch time travel,
auto-compaction riding the same loop."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from medallion_data_lake_spark.operators.versioned import (
    _snapshot,
    history,
    read_table,
)
from medallion_data_lake_spark.streaming.versioned_sink import run_append_stream


def _write(inp, name, rows):
    with open(os.path.join(inp, name), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))


def test_append_stream_exactly_once_and_time_travel(spark, tmp_path):
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    table = str(tmp_path / "vt")
    ck = str(tmp_path / "ck")
    schema = "event_id long, kind string, value double"

    def run():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(inp)
        run_append_stream(
            spark, stream, table, ck, stats_cols=("event_id",),
            auto_compact_files=3,
        )

    _write(inp, "b0.json", [
        {"event_id": i, "kind": "view", "value": float(i)} for i in range(5)])
    run()
    assert read_table(spark, table).count() == 5

    for b in range(1, 5):
        _write(inp, f"b{b}.json", [
            {"event_id": b * 100 + i, "kind": "view", "value": 1.0}
            for i in range(3)])
    run()
    got = read_table(spark, table)
    assert got.count() == 5 + 4 * 3
    # per-batch time travel: version 0 is exactly the first batch
    assert read_table(spark, table, version=0).count() == 5
    # auto-compaction ran inside the loop and bounded the fragments
    ops = [h["operation"] for h in history(table)]
    assert any(o.startswith("OPTIMIZE(") for o in ops)
    assert len(_snapshot(table).live) < 5  # fewer live files than batches

    # checkpoint loss: same files redeliver with the same batch ids —
    # the commit-log txn watermark makes the replay a no-op
    n = len(history(table))
    shutil.rmtree(ck)
    run()
    assert read_table(spark, table).count() == 17
    assert len(history(table)) == n


# ---------------------------------------------------------------------------
# run_txn_stream: one stream -> several tables, atomic per micro-batch
# ---------------------------------------------------------------------------

def test_txn_stream_multi_table_exactly_once(spark, tmp_path):
    """One stream fans into two versioned tables atomically per batch;
    checkpoint-loss replay re-delivers every batch but the per-table
    txn watermark stops re-APPLY (stage_commit returns None), so both
    tables hold exactly one copy and no orphan stagings/txns remain."""
    from medallion_data_lake_spark.operators.txn import list_txns
    from medallion_data_lake_spark.operators.wap import list_staged
    from medallion_data_lake_spark.streaming.versioned_sink import (
        run_txn_stream,
    )

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    views = str(tmp_path / "views")
    buys = str(tmp_path / "buys")
    root = str(tmp_path / "_txn")
    ck = str(tmp_path / "ck")
    schema = "event_id long, kind string, value double"
    outputs = {
        views: lambda b: b.filter(F.col("kind") == "view"),
        buys: lambda b: b.filter(F.col("kind") == "buy"),
    }

    def run():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).json(inp)
        run_txn_stream(spark, stream, outputs, root, ck)

    _write(inp, "b0.json", [
        {"event_id": i, "kind": "view" if i % 2 else "buy",
         "value": float(i)} for i in range(6)])
    _write(inp, "b1.json", [
        {"event_id": 100 + i, "kind": "view", "value": 1.0}
        for i in range(4)])
    run()
    assert read_table(spark, views).count() == 3 + 4
    assert read_table(spark, buys).count() == 3
    assert all(m["status"] == "committed" for m in list_txns(root))
    n_txns = len(list_txns(root))

    # checkpoint loss: every batch replays, nothing double-applies
    shutil.rmtree(ck)
    run()
    assert read_table(spark, views).count() == 7
    assert read_table(spark, buys).count() == 3
    assert list_staged(views) == [] and list_staged(buys) == []
    # replayed batches were skipped at STAGE time: no new transactions
    assert len(list_txns(root)) == n_txns

    # a batch matching only ONE table commits a one-leg txn
    _write(inp, "b2.json", [
        {"event_id": 999, "kind": "buy", "value": 9.0}])
    run()
    assert read_table(spark, buys).count() == 4
    assert read_table(spark, views).count() == 7


def test_txn_stream_crash_between_legs_recovers(spark, tmp_path, monkeypatch):
    """The coordinator dies between leg publishes inside foreachBatch:
    the stream errors, recover_txns completes the txn, and a restart
    from the SAME checkpoint re-delivers the batch without
    double-applying either leg (watermark skip on both)."""
    from medallion_data_lake_spark.operators import txn as T
    from medallion_data_lake_spark.operators.txn import (
        list_txns,
        recover_txns,
    )
    from medallion_data_lake_spark.streaming.versioned_sink import (
        run_txn_stream,
    )

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    a = str(tmp_path / "ta")
    b = str(tmp_path / "tb")
    root = str(tmp_path / "_txn")
    ck = str(tmp_path / "ck")
    schema = "event_id long, kind string, value double"
    outputs = {
        a: lambda batch: batch,
        b: lambda batch: batch.withColumn("value", F.col("value") * 2),
    }
    _write(inp, "b0.json", [
        {"event_id": i, "kind": "x", "value": float(i)} for i in range(4)])

    real = T.publish_staged
    calls = {"n": 0}

    def dies_after_first(spark_, path, sid):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash between legs")
        return real(spark_, path, sid)

    monkeypatch.setattr(T, "publish_staged", dies_after_first)
    try:
        stream = spark.readStream.schema(schema).json(inp)
        run_txn_stream(spark, stream, outputs, root, ck)
        raised = False
    except Exception:
        raised = True
    monkeypatch.setattr(T, "publish_staged", real)
    assert raised, "the crash must surface through the stream"

    (m,) = list_txns(root)
    assert m["status"] == "prepared"
    acted = recover_txns(spark, root)
    assert [x["status"] for x in acted] == ["committed"]
    assert read_table(spark, a).count() == 4
    assert read_table(spark, b).count() == 4

    # restart from the same checkpoint: the failed epoch re-delivers,
    # both legs' watermarks skip, counts unchanged, no new txn
    stream = spark.readStream.schema(schema).json(inp)
    run_txn_stream(spark, stream, outputs, root, ck)
    assert read_table(spark, a).count() == 4
    assert read_table(spark, b).count() == 4
    assert len(list_txns(root)) == 1
