"""The banded-MinHash kernel (operators/lsh.py) and its producers.

Band keys are persisted as strings and probed later with keys built
live, so every producer must emit the same ``(doc, band, bkey)`` rows
for the same documents, and the key format itself must not move.
"""

from __future__ import annotations

from pyspark.sql import functions as F

TEXTS = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "alpha beta gamma delta epsilon zeta eta theta iota lambda",
    "entirely different words about cooking pasta dishes tonight",
    "two words",
    "",
]


def test_band_key_format_is_pinned(spark):
    from medallion_data_lake_spark.operators.lsh import band_keys, mh_cols

    sigs = spark.createDataFrame([tuple(range(1, 9))],
                                 ", ".join(f"mh{j} long" for j in range(8)))
    rows = sigs.select(F.explode(band_keys(mh_cols())).alias("k")).select(
        "k.band", "k.bkey").collect()
    assert [(r["band"], r["bkey"]) for r in rows] == [
        (0, "1:2"), (1, "3:4"), (2, "5:6"), (3, "7:8")]


def test_every_producer_emits_the_same_band_rows(spark, tmp_path):
    from medallion_data_lake_spark.operators.curation_pipeline import (
        banded_signatures,
        materialize_benchmark_decon,
    )
    from medallion_data_lake_spark.operators.lsh import (
        band_self_join,
        mh_cols,
    )
    from medallion_data_lake_spark.operators.versioned import read_table
    from medallion_data_lake_spark.queries.dedup import signatures
    from medallion_data_lake_spark.streaming.corpus import _signature_bands

    def rows(df, doc):
        return sorted((r[doc], r["band"], r["bkey"]) for r in df.collect())

    # one partition, so the bench side's monotonically_increasing_id
    # numbers the texts 0..n-1 exactly like doc_id
    docs = spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string").coalesce(1)
    want = rows(banded_signatures(docs, "_cid", "text", "doc_id"), "_cid")
    assert len(want) == 4 * len(TEXTS)

    assert rows(_signature_bands(docs, production=False), "doc_id") == want

    # each doc gets an identical twin (id + 100), so every band row of
    # every doc collides and shows up on one side of the self-join
    twins = docs.union(docs.select((F.col("doc_id") + 100).alias("doc_id"),
                                   "text"))
    joined = band_self_join(signatures(twins), mh_cols())
    sides = joined.select("a.doc_id", "a.band", "a.bkey").union(
        joined.select("b.doc_id", "b.band", "b.bkey"))
    got = sorted({(d % 100, b, k) for d, b, k in rows(sides, "doc_id")})
    assert got == want

    root = str(tmp_path / "bench_decon")
    materialize_benchmark_decon(spark, docs.select("text"), root)
    assert rows(read_table(spark, f"{root}/bands"), "_bid") == want


def test_est_jaccard_agrees_on_columns_and_arrays(spark):
    from medallion_data_lake_spark.operators.lsh import est_jaccard, mh_cols

    a, b = list(range(8)), [0, 1, 2, 3, 4, 5, 9, 9]
    df = spark.createDataFrame(
        [tuple(a + b) + (a, b)],
        ", ".join([f"a_mh{j} long" for j in range(8)]
                  + [f"b_mh{j} long" for j in range(8)]
                  + ["sa array<long>", "sb array<long>"]))
    items = [[F.col(s)[j] for j in range(8)] for s in ("sa", "sb")]
    r = df.select(est_jaccard(mh_cols("a_"), mh_cols("b_")).alias("c"),
                  est_jaccard(*items).alias("arr")).first()
    assert r["c"] == r["arr"] == 6 / 8
