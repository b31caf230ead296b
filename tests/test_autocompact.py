"""Small-file auto-compaction on the versioned table.

Contracts under test:
- ``compact_small_files`` rewrites ONLY the sub-threshold live files
  (subset OPTIMIZE), leaves well-sized files untouched, and declines to
  churn below ``min_files``;
- ``run_cdc_stream(auto_compact_files=N)`` keeps the live file count
  bounded across many per-batch MERGE commits without changing the
  table's contents — maintenance must be invisible to readers.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from medallion_data_lake_spark.operators.versioned import (
    commit,
    compact_small_files,
    history,
    read_table,
)

PAYLOAD = T.StructType([
    T.StructField("customer_id", T.StringType()),
    T.StructField("email", T.StringType()),
])


def _msg(op, ts, cid, email):
    return json.dumps({
        "table": "customer",
        "operation": op,
        "timestamp": ts,
        "data": {"customer_id": cid, "email": email},
    })


def _live_files(path):
    from medallion_data_lake_spark.operators.versioned import _snapshot

    return _snapshot(path).live


def test_subset_compaction_leaves_big_files_alone(spark, tmp_path):
    path = str(tmp_path / "vt")
    # one "large" commit (still small on disk, so gate by path identity,
    # not size: pass an explicit small_bytes between the two)
    commit(
        spark.range(0, 50_000).selectExpr("id", "id * 2 AS v").coalesce(1),
        path,
    )
    big = set(_live_files(path))
    for i in range(5):  # five fragment commits
        commit(
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id + 1000000 AS id", "id AS v")
            .coalesce(1),
            path,
        )
    before = _live_files(path)
    assert len(before) > len(big)
    big_bytes = max(
        os.path.getsize(os.path.join(path, f)) for f in big
    )
    entry = compact_small_files(
        spark, path, small_bytes=big_bytes, min_files=4
    )
    assert entry is not None
    after = set(_live_files(path))
    assert big <= after                      # untouched files stayed live
    assert len(after) < len(before)          # fragments merged
    assert read_table(spark, path).count() == 50_050  # contents identical
    # below min_files: no churn
    assert compact_small_files(spark, path, small_bytes=big_bytes, min_files=4) is None


def test_cdc_stream_auto_compacts(spark, tmp_path):
    from medallion_data_lake_spark.sources.cdc import parse_envelopes, run_cdc_stream

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    table = str(tmp_path / "vt")
    ck = str(tmp_path / "ck")

    for b in range(6):
        with open(os.path.join(inp, f"b{b}.json"), "w") as f:
            f.write("\n".join(
                json.dumps({"value": _msg(
                    "INSERT", f"2024-01-01T00:00:{b:02d}",
                    str(b * 10 + i), f"u{b}_{i}@x.com")})
                for i in range(3)
            ))

    raw = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", "1")  # force one MERGE per file
        .json(inp)
    )
    changes = parse_envelopes(raw, PAYLOAD)
    run_cdc_stream(
        spark, changes, table, "customer_id", ck, auto_compact_files=4
    )

    rows = read_table(spark, table)
    assert rows.count() == 18                      # contents complete
    ops = [h["operation"] for h in history(table)]
    assert any(o.startswith("OPTIMIZE(") for o in ops)  # compaction ran
    # bounded fragments: strictly fewer live files than per-batch commits
    # would have left (6 batches x >=1 file each, never compacted)
    assert len(_live_files(table)) < 6
