"""The ledgers behind the streaming admission flows (streaming/corpus.py).

Default-tier edge cases of the one two-tier ledger: a ledger directory an
empty batch left with no partition, a ledger partition of the wrong
layout, and the persisted ledger and base-table layouts themselves —
written here with plain Spark, so a change to the writer cannot move the
layout it is checked against.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from medallion_data_lake_spark.streaming.corpus import (
    _signature_bands,
    admit_batch,
    admit_batch_near,
    compact_band_ledger_base,
    compact_ledger_base,
    compact_segment_ledger_base,
    scrub_batch_segments,
)

DOCS = "doc_id long, text string, lang string, source string"
BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green turtles carry ancient maps across the quiet river delta"
)
NEAR = BASE.replace("river delta", "river mouth")
BOILER = "subscribe to our newsletter"


def _docs(spark, rows):
    return spark.createDataFrame([(i, t, "en", "s") for i, t in rows], DOCS)


def _ids(spark, path):
    return {r.doc_id for r in spark.read.parquet(path).collect()}


def test_empty_first_batch_then_data(spark, tmp_path):
    """An empty batch 0 (an empty drop file) leaves each ledger and the
    corpus directory with no batch partition; batch 1 must read that as
    no history, and compaction must find nothing to mirror."""
    from medallion_data_lake_spark.operators.versioned import read_table

    d = {k: str(tmp_path / k) for k in ("corpus", "ledger", "emb", "ncorpus",
                                        "nledger", "bands", "out", "seg")}
    empty = _docs(spark, [])

    admit_batch(empty, 0, d["corpus"], d["ledger"], embeddings_table=d["emb"])
    assert compact_ledger_base(spark, d["ledger"], "never_made_t1")[
        "compacted_through"] is None
    assert not spark.catalog.tableExists("never_made_t1")
    admit_batch(_docs(spark, [(1, "alpha beta"), (2, "ALPHA  beta")]), 1,
                d["corpus"], d["ledger"], embeddings_table=d["emb"])
    assert _ids(spark, d["corpus"]) == {1}
    assert {r.vec_id for r in read_table(spark, d["emb"]).collect()} == {1}

    admit_batch_near(empty, 0, d["ncorpus"], d["nledger"], d["bands"])
    admit_batch_near(_docs(spark, [(1, BASE), (2, NEAR)]), 1,
                     d["ncorpus"], d["nledger"], d["bands"])
    assert _ids(spark, d["ncorpus"]) == {1}

    scrub_batch_segments(empty, 0, d["out"], d["seg"], min_docs=2)
    scrub_batch_segments(
        _docs(spark, [(1, f"own one\n{BOILER}"), (2, f"own two\n{BOILER}")]),
        1, d["out"], d["seg"], min_docs=2)
    got = {r.doc_id: r.text for r in spark.read.parquet(d["out"]).collect()}
    assert got == {1: "own one", 2: "own two"}


def test_segment_ledger_of_wrong_layout_raises(spark, tmp_path):
    """A segment-ledger partition without the `_k` key column is a
    broken ledger, not an empty one: the scrub must fail, never scrub
    against the batch's own counts alone."""
    ledger = str(tmp_path / "seg")
    spark.createDataFrame([(7, 3, 0)], "seg long, _nd long, _batch_id int") \
        .write.partitionBy("_batch_id").parquet(ledger)
    with pytest.raises(AnalysisException):
        scrub_batch_segments(_docs(spark, [(1, f"own\n{BOILER}")]), 1,
                             str(tmp_path / "out"), ledger, min_docs=2)


def _describe(spark, table):
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    n = next(i for i, r in enumerate(rows) if not r.col_name)
    cols = [(r.col_name, r.data_type) for r in rows[:n]]
    return cols, {r.col_name: r.data_type for r in rows[n:]}


def _check_base(spark, table, key, cols):
    got_cols, info = _describe(spark, table)
    assert got_cols == cols
    assert info["Num Buckets"] == "64"
    assert info["Bucket Columns"] == info["Sort Columns"] == f"[`{key}`]"
    assert "mdls.ledger.compacted_through=0" in info["Table Properties"]


def test_persisted_ledger_layouts(spark, tmp_path):
    """Ledger partitions in the persisted layout, written with plain
    Spark, are read by admission and scrub; each compacted base has the
    persisted columns, bucket spec and watermark property."""
    fp_ledger = str(tmp_path / "ledger")
    bands = str(tmp_path / "bands")
    seg = str(tmp_path / "seg")
    # fingerprint ledger: (fingerprint string) per batch partition
    fp = hashlib.md5(b"alpha beta gamma").hexdigest()
    spark.createDataFrame([(fp, 0)], "fingerprint string, _batch_id int") \
        .write.partitionBy("_batch_id").parquet(fp_ledger)
    # band ledger: (doc_id, sig, band, bkey) per batch partition
    rows = [(r.doc_id, r.sig, r.band, r.bkey, 0)
            for r in _signature_bands(_docs(spark, [(1, BASE)])).collect()]
    spark.createDataFrame(
        rows, "doc_id long, sig array<long>, band int, bkey string, "
              "_batch_id int").write.partitionBy("_batch_id").parquet(bands)
    # segment ledger: (_k = xxhash64(segment), _nd) per batch partition
    spark.createDataFrame([(BOILER,)], "s string").select(
        F.xxhash64("s").alias("_k"), F.lit(4).cast("long").alias("_nd"),
        F.lit(0).alias("_batch_id"),
    ).write.partitionBy("_batch_id").parquet(seg)

    corpus = str(tmp_path / "corpus")
    admit_batch(_docs(spark, [(10, "Alpha  beta GAMMA"), (11, "fresh")]), 1,
                corpus, fp_ledger)
    assert _ids(spark, corpus) == {11}
    ncorpus = str(tmp_path / "ncorpus")
    admit_batch_near(_docs(spark, [(20, NEAR), (21, "fresh")]), 1, ncorpus,
                     str(tmp_path / "nledger"), bands)
    assert _ids(spark, ncorpus) == {21}
    out = str(tmp_path / "out")
    scrub_batch_segments(_docs(spark, [(30, f"own\n{BOILER}")]), 1, out, seg,
                         min_docs=5)
    assert [r.text for r in spark.read.parquet(out).collect()] == ["own"]

    # the writers land batch 1 in the same layouts
    def batch1(path):
        return spark.read.parquet(f"{path}/_batch_id=1").dtypes

    assert batch1(fp_ledger) == [("fingerprint", "string")]
    assert batch1(bands) == [("doc_id", "bigint"), ("sig", "array<bigint>"),
                             ("band", "int"), ("bkey", "string")]
    assert batch1(seg) == [("_k", "bigint"), ("_nd", "bigint")]

    tables = ("layout_fp_t1", "layout_band_t1", "layout_seg_t1")
    try:
        compact_ledger_base(spark, fp_ledger, tables[0], through_batch_id=0)
        _check_base(spark, tables[0], "fingerprint",
                    [("fingerprint", "string"), ("_batch_id", "int")])
        compact_band_ledger_base(spark, bands, tables[1], through_batch_id=0)
        _check_base(spark, tables[1], "band_key",
                    [("band_key", "bigint"), ("sig", "array<bigint>"),
                     ("_batch_id", "int")])
        compact_segment_ledger_base(spark, seg, tables[2], through_batch_id=0)
        _check_base(spark, tables[2], "_k",
                    [("_k", "bigint"), ("_nd", "bigint")])
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
