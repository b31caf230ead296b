"""Incremental corpus ingestion with cross-batch dedup.

A training corpus is not loaded once — it accrues (crawl drops, vendor
deliveries, user uploads). This module ingests document drops as a
file-source stream and admits only content never seen before. History
lives in compact LEDGERS beside the output, so dedup against ALL history
never re-reads the corpus itself (with its text/blob payload). Three
flows keep one each, and all three are one :class:`_Ledger`: fingerprint
(:func:`admit_batch`), LSH band (:func:`admit_batch_near`) and segment
count (:func:`scrub_batch_segments`).

Exactly-once without a transaction log: every output and ledger is
written with dynamic partition-overwrite keyed by the micro-batch id
(:func:`_write_batch`), so a replayed batch rewrites exactly its own
partition — idempotent by construction. Every history read EXCLUDES the
current batch id, so a replay does not see its own previous partial
write and drop everything (the failure mode of a naive append).

Scale: the fingerprint ledger is (md5, long) — ~40 B/doc, so a
100-billion-doc history is a few TB of parquet. The flat form shuffles
that history every batch; the TWO-TIER form (:meth:`_Ledger.compact`,
public per ledger as ``compact_*_ledger_base``) mirrors completed epochs
into a key-bucketed base, so the history join shuffles ONLY the new
batch (plan-asserted), with the short post-compaction tail
partition-pruned and broadcast.

The reference has no incremental ingestion at all (its loads are
overwrite-the-world batch — ``bronze_to_silver.py``); this is the
north-star upgrade for corpus workflows.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from functools import partial, reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.lsh import (
    N_MINHASH,
    band_keys,
    band_self_join,
    est_jaccard,
    mh_cols,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def content_fingerprint(text_col: str = "text") -> F.Column:
    """Whitespace-normalized, case-folded md5 — same normalization as
    the batch exact-dedup family (queries/dedup.py)."""
    return F.md5(F.lower(F.regexp_replace(text_col, r"\s+", " ")))


LEDGER_WATERMARK_PROP = "mdls.ledger.compacted_through"


def _write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Land ``df`` as the ``_batch_id=batch_id`` partition of ``path``.
    Dynamic partition overwrite: a replayed batch rewrites exactly its
    own partition and leaves every other batch's rows alone."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def _read_batches(spark: SparkSession, path: str) -> DataFrame | None:
    """The batch partitions under ``path``; None while it has none. An
    empty batch writes the directory but no partition, and parquet
    schema inference over that fails (UNABLE_TO_INFER_SCHEMA): such a
    directory holds no batch, same as an absent one."""
    if glob.glob(os.path.join(glob.escape(path), "_batch_id=*")):
        return spark.read.parquet(path)
    return None


def _ledger_watermark(spark: SparkSession, base_table: str) -> int:
    row = spark.sql(
        f"SHOW TBLPROPERTIES {base_table}('{LEDGER_WATERMARK_PROP}')"
    ).first()
    return int(row["value"])


@dataclass(frozen=True)
class _Ledger:
    """One batch-id-partitioned parquet ledger and its optional bucketed
    base — the two-tier form. ``to_base`` turns ledger rows into base
    rows (a projection or an aggregate); ``key`` is the column the base
    is bucketed and sorted on, which is the join key of the flow's
    history probe, so that side is scanned in its bucket layout and
    never re-shuffled."""

    key: str
    to_base: Callable[[DataFrame], DataFrame]
    path: str
    base_table: str | None = None

    def compact(self, spark: SparkSession, through: int | None = None,
                n_buckets: int = 64) -> dict:
        """Mirror the ledger's batches up to ``through`` (all when None)
        into the bucketed base and record the highest mirrored batch id
        as the table's watermark property. Cost is one shuffle of the
        compact ledger, amortized over every batch until the next
        compaction; the corpus itself is never read.

        Idempotence: :meth:`history`'s tail excludes the current batch's
        own partition, but the base must mirror only COMPLETED batches
        (stream checkpoint moved past them), or a replayed batch would
        meet its own prior write through the base and admit nothing.
        Compacting from INSIDE a running stream's foreachBatch therefore
        passes ``through = current_batch_id - 1`` — the current epoch is
        not committed until after the hook returns (:func:`_run`).
        Between runs (no stream active) the default full mirror is safe.
        """
        ledger, hi = _read_batches(spark, self.path), None
        if ledger is not None:
            if through is not None:
                ledger = ledger.filter(F.col("_batch_id") <= F.lit(through))
            hi = ledger.agg(F.max("_batch_id")).first()[0]
        if hi is None:
            return {"base_table": self.base_table, "compacted_through": None}
        (
            self.to_base(ledger)
            .write.mode("overwrite")
            .bucketBy(n_buckets, self.key)
            .sortBy(self.key)
            .format("parquet")
            .saveAsTable(self.base_table)
        )
        spark.sql(f"ALTER TABLE {self.base_table} SET TBLPROPERTIES "
                  f"('{LEDGER_WATERMARK_PROP}'='{hi}')")
        return {"base_table": self.base_table, "compacted_through": int(hi)}

    def history(self, spark: SparkSession,
                batch_id: int) -> tuple[DataFrame | None, DataFrame | None]:
        """(base, tail) history sides for batch ``batch_id``. base = the
        bucketed mirror (None until the first compaction); tail = the
        ledger partitions ABOVE the base's watermark (partition-pruned:
        ``_batch_id`` is the partition key), always excluding the
        current batch's own partition (replay safety). None when the
        ledger holds no batch yet."""
        base, wm = None, -1
        if self.base_table and spark.catalog.tableExists(self.base_table):
            base = spark.table(self.base_table)
            wm = _ledger_watermark(spark, self.base_table)
        tail = _read_batches(spark, self.path)
        if tail is not None:
            tail = tail.filter((F.col("_batch_id") > F.lit(wm))
                               & (F.col("_batch_id") != F.lit(batch_id)))
        return base, tail


def _compact_base(ledger: Callable[..., _Ledger], spark: SparkSession,
                  ledger_dir: str, base_table: str, n_buckets: int = 64,
                  through_batch_id: int | None = None) -> dict:
    """Every public ``compact_*_ledger_base``: :meth:`_Ledger.compact`
    of the ``ledger_dir`` ledger of one kind (``ledger``)."""
    return ledger(ledger_dir, base_table).compact(
        spark, through_batch_id, n_buckets)


def _run(spark: SparkSession, input_dir: str, checkpoint_dir: str,
         available_now: bool, process: Callable[[DataFrame, int], None],
         ledgers: tuple[_Ledger, ...] = (), compact_every: int | None = None):
    """Stream JSON-lines document drops from ``input_dir`` through
    ``process(batch_df, batch_id)``; returns the StreamingQuery.
    ``available_now`` bounds the run to the files present (exactly-once
    catch-up); pass False for a continuous ingester. Every
    ``compact_every`` batches the ``ledgers`` that have a base table are
    re-mirrored, completed epochs only (:meth:`_Ledger.compact`)."""

    def batch(df: DataFrame, bid: int) -> None:
        process(df, bid)
        if compact_every and bid > 0 and (bid + 1) % compact_every == 0:
            for ledger in ledgers:
                if ledger.base_table:
                    ledger.compact(spark, through=bid - 1)

    writer = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .json(input_dir)
        .writeStream.foreachBatch(batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Exact admission (fingerprint ledger)
# ---------------------------------------------------------------------------

# the base is fingerprint-bucketed: the per-batch anti-join against
# history shuffles ONLY the new batch (into the bucket layout), and the
# base is scanned in place, never re-shuffled
_fingerprint_ledger = partial(
    _Ledger, "fingerprint", lambda df: df.select("fingerprint", "_batch_id")
)
compact_ledger_base = partial(_compact_base, _fingerprint_ledger)


def _admit_exact(batch_df: DataFrame, batch_id: int,
                 ledger: _Ledger) -> DataFrame:
    """The exact stage of both admission flows: the batch's docs plus
    ``fingerprint``, minus within-batch dups (deterministic min-id
    winner per content) and minus every fingerprint in history. With a
    base, its anti-join shuffles only the batch, and the tail — bounded
    by the compaction cadence, which is the operator's contract — is
    broadcast. Without one the whole parquet ledger shuffles per batch:
    fine for modest histories, the thing the base exists to avoid at
    corpus scale."""
    fp = (
        batch_df.withColumn("fingerprint", content_fingerprint())
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("fingerprint").orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    base, tail = ledger.history(batch_df.sparkSession, batch_id)
    if base is not None:
        fp = fp.join(base.select("fingerprint"), "fingerprint", "left_anti")
    if tail is not None:
        tail = tail.select("fingerprint")
        fp = fp.join(F.broadcast(tail) if base is not None else tail,
                     "fingerprint", "left_anti")
    return fp


def admit_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    ledger_dir: str,
    chunks_dir: str | None = None,
    chunk_tokens: int = 64,
    chunk_stride: int = 48,
    ledger_base_table: str | None = None,
    embeddings_table: str | None = None,
    embedding_dim: int | None = None,
) -> None:
    """Process one micro-batch: fingerprint, dedup within the batch,
    anti-join the historical ledger, write admitted docs + ledger rows
    into the batch's own partitions (idempotent on replay). With
    ``chunks_dir`` the batch's admitted docs are also windowed into
    training chunks (operators.curation_pipeline.chunk_documents) and
    written under the same batch-id partition — chunks accrue
    incrementally with the corpus and replay rewrites exactly the
    batch's own chunk partition.

    ``ledger_base_table`` switches history lookup to the TWO-TIER form
    (:func:`compact_ledger_base`): anti-join the bucketed base (zero
    ledger-side shuffle), then the post-watermark tail.

    ``embeddings_table`` (r14) maintains the corpus's persisted
    embedding COLUMN per batch: after the admitted docs land, the
    batch's own corpus partition is read back and pushed through
    :func:`operators.embeddings.materialize_corpus_embeddings` — the
    (id, text-fingerprint) increment means a replayed batch re-embeds
    nothing, so the column stays exactly-once with the corpus and a
    stream-built corpus curates (CurationConfig.embeddings_table)
    without a separate materialize step. Provenance is the embeddings
    module's own sidecar contract, enforced per batch."""
    spark = batch_df.sparkSession
    admitted = _admit_exact(
        batch_df, batch_id, _fingerprint_ledger(ledger_dir, ledger_base_table)
    )
    _write_batch(admitted.drop("fingerprint"), batch_id, corpus_dir)
    _write_batch(admitted.select("fingerprint"), batch_id, ledger_dir)
    if embeddings_table is not None:
        from ..operators.embeddings import (
            DEFAULT_DIM,
            materialize_corpus_embeddings,
        )

        # read back exactly this batch's admitted partition (bounded by
        # the batch): replaying the `admitted` plan would re-run the
        # ledger anti-joins, and embedding the raw input would waste the
        # Arrow pass on rejected duplicates
        corpus = _read_batches(spark, corpus_dir)
        if corpus is not None:  # None: no doc admitted yet
            materialize_corpus_embeddings(
                spark, corpus.filter(F.col("_batch_id") == batch_id)
                .select("doc_id", "text"), embeddings_table,
                dim=embedding_dim or DEFAULT_DIM)
    if chunks_dir is not None:
        from ..operators.curation_pipeline import chunk_documents

        _write_batch(
            chunk_documents(admitted.drop("fingerprint"),
                            chunk_tokens=chunk_tokens,
                            chunk_stride=chunk_stride),
            batch_id, chunks_dir,
        )


def run_incremental_corpus_ingest(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    chunks_dir: str | None = None,
    ledger_base_table: str | None = None,
    compact_base_every: int | None = None,
    embeddings_table: str | None = None,
    embedding_dim: int | None = None,
):
    """Stream JSON-lines document drops from ``input_dir`` into a
    deduplicated corpus (:func:`_run` — ``available_now``, cadence).
    ``chunks_dir`` additionally materializes training chunks per
    admitted batch. ``ledger_base_table`` (+ optionally
    ``compact_base_every`` batches) engages the two-tier ledger: history
    anti-joins hit the bucketed base with zero ledger-side shuffle and
    only the short post-compaction tail rides along."""
    return _run(spark, input_dir, checkpoint_dir, available_now,
                lambda df, bid: admit_batch(
                    df, bid, corpus_dir, ledger_dir, chunks_dir=chunks_dir,
                    ledger_base_table=ledger_base_table,
                    embeddings_table=embeddings_table,
                    embedding_dim=embedding_dim),
                (_fingerprint_ledger(ledger_dir, ledger_base_table),),
                compact_base_every)


# ---------------------------------------------------------------------------
# Cross-batch NEAR-dup admission (LSH band ledger + signature verification)
# ---------------------------------------------------------------------------
#
# The fingerprint ledger above only stops byte-identical content. Crawl
# re-deliveries are usually NEAR-identical (boilerplate drift, ads), so
# the production ingester also keeps a BAND LEDGER: per admitted doc, its
# LSH band keys plus its full minhash signature (N_MINHASH longs,
# ~100 B/doc — still corpus-free). A new doc is a near-dup candidate iff
# one of its band keys collides with the ledger (hash join on the band
# key); the candidate is then VERIFIED from signatures alone
# (estimated Jaccard = fraction of agreeing minhash components), so band
# false-positives don't silently drop unique content and the historical
# corpus text is never re-read. Same idempotence mechanism: the band
# ledger is batch-id partitioned, replays exclude their own partial rows.


def _signatures(docs: DataFrame, production: bool = True) -> DataFrame:
    """(doc_id, sig array<long>) — the ledger's signature layout."""
    from ..queries.dedup import signatures

    return signatures(docs, production=production).select(
        "doc_id", F.array(*mh_cols()).alias("sig"))


def _items(sig: Column) -> list[Column]:
    """The N_MINHASH components of a ``sig`` array."""
    return [sig[j] for j in range(N_MINHASH)]


def _signature_bands(docs: DataFrame, production: bool = True) -> DataFrame:
    """(doc_id, sig array<long>, band, bkey) — one row per band per doc."""
    return _signatures(docs, production).select(
        "doc_id", "sig", F.explode(band_keys(_items(F.col("sig")))).alias("bk"),
    ).select("doc_id", "sig", "bk.band", "bk.bkey")


def _est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    return est_jaccard(_items(sig_a), _items(sig_b))


def _drop_verified(docs: DataFrame, probe: DataFrame, hist: DataFrame, on,
                   min_est_jaccard: float) -> DataFrame:
    """``docs`` minus each doc whose ``probe`` band rows collide with
    ``hist`` (joined ``on``) AND verify: est Jaccard of ``sig`` and
    ``h_sig`` >= ``min_est_jaccard``, so band false-positives never drop
    unique content."""
    hits = (
        probe.join(hist, on)
        .filter(_est_jaccard(F.col("sig"), F.col("h_sig")) >= min_est_jaccard)
        .select("doc_id")
        .distinct()
    )
    return docs.join(hits, "doc_id", "left_anti")


def _band_key64(band, bkey) -> F.Column:
    """Composite 64-bit LSH key: (band, bkey) folded into ONE column so
    the bucketed band base can bucket, sort, and join on a single key
    (a two-column bucket spec would force the probe side into the exact
    two-column hash layout; a composite key keeps the join condition ==
    the bucket spec)."""
    return F.xxhash64(band.cast("string"), bkey)


# the base mirrors (band_key, sig) bucketed on the composite band key:
# the collision probe shuffles only the new batch's band rows, and the
# signature payload (~100 B/doc × N_BANDS rows) — the part that actually
# weighs — is scanned in its bucket layout, never re-shuffled
_band_ledger = partial(
    _Ledger, "band_key",
    lambda df: df.select(_band_key64(F.col("band"), F.col("bkey"))
                         .alias("band_key"), "sig", "_batch_id"),
)
compact_band_ledger_base = partial(_compact_base, _band_ledger)


def admit_batch_near(
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    ledger_dir: str,
    band_ledger_dir: str,
    min_est_jaccard: float = 0.5,
    ledger_base_table: str | None = None,
    band_base_table: str | None = None,
) -> None:
    """admit_batch + the near-dup band-ledger stage: exact fingerprint
    dedup first (cheapest, shrinks the LSH input), then band-collision +
    signature-verified near-dup against all history. Within-batch
    near-dups resolve to the min-id winner; survivors whose signatures
    verify against any historical ledger row are dropped, and the
    admitted docs' band rows land as the batch's band-ledger partition.

    The two base-table params engage the two-tier ledgers for both
    stages (:func:`compact_ledger_base` /
    :func:`compact_band_ledger_base`): the band collision probe then
    hits the bucketed base on the composite band key (zero ledger-side
    shuffle), and the post-watermark parquet tail on (band, bkey)."""
    docs = _admit_exact(batch_df, batch_id,
                        _fingerprint_ledger(ledger_dir, ledger_base_table))
    bands = _signature_bands(docs)
    # in-batch: candidate pairs via band collision, verified by est
    # Jaccard, greedy min-id winner (drop the larger id of each pair)
    losers = (
        band_self_join(_signatures(docs), _items(F.col("sig")), "sig")
        .filter(_est_jaccard(F.col("a.sig"), F.col("b.sig")) >= min_est_jaccard)
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    survivors = bands.join(losers, "doc_id", "left_anti")
    base, tail = _band_ledger(band_ledger_dir, band_base_table).history(
        docs.sparkSession, batch_id)
    if base is not None:
        probe = survivors.withColumn(
            "band_key", _band_key64(F.col("band"), F.col("bkey")))
        survivors = _drop_verified(
            survivors, probe,
            base.select("band_key", F.col("sig").alias("h_sig")),
            "band_key", min_est_jaccard)
    if tail is not None:
        survivors = _drop_verified(
            survivors, survivors,
            tail.select("band", "bkey", F.col("sig").alias("h_sig")),
            ["band", "bkey"], min_est_jaccard)

    admitted = docs.join(survivors.select("doc_id").distinct(), "doc_id")
    _write_batch(admitted.drop("fingerprint"), batch_id, corpus_dir)
    _write_batch(admitted.select("fingerprint"), batch_id, ledger_dir)
    _write_batch(survivors.select("doc_id", "sig", "band", "bkey"),
                 batch_id, band_ledger_dir)


def run_incremental_corpus_ingest_near(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    ledger_dir: str,
    band_ledger_dir: str,
    checkpoint_dir: str,
    min_est_jaccard: float = 0.5,
    available_now: bool = True,
    ledger_base_table: str | None = None,
    band_base_table: str | None = None,
    compact_base_every: int | None = None,
):
    """The near-dup-aware ingester: exact + LSH admission control per
    micro-batch, all ledgers batch-id partitioned for idempotent replay.
    The base-table params engage BOTH two-tier ledgers; with
    ``compact_base_every`` the loop re-mirrors them every N batches —
    completed epochs only, same contract as the exact-only runner."""
    return _run(spark, input_dir, checkpoint_dir, available_now,
                lambda df, bid: admit_batch_near(
                    df, bid, corpus_dir, ledger_dir, band_ledger_dir,
                    min_est_jaccard, ledger_base_table=ledger_base_table,
                    band_base_table=band_base_table),
                (_fingerprint_ledger(ledger_dir, ledger_base_table),
                 _band_ledger(band_ledger_dir, band_base_table)),
                compact_base_every)


# ---------------------------------------------------------------------------
# Cross-batch SEGMENT scrub (streaming CCNet line dedup)
# ---------------------------------------------------------------------------
#
# The batch operator (operators/curation_pipeline.remove_common_segments)
# needs the whole corpus to count a segment; an INCREMENTAL corpus only
# ever sees one drop at a time. Third ledger, same discipline as the
# fingerprint and band ledgers: per batch, each segment's distinct-doc
# count lands as the batch's own (seg key → count) partition rows —
# ~16 B/segment, corpus-free, replay-idempotent. A batch's docs are
# scrubbed against the HISTORY-SUM + WITHIN-BATCH counts, so boilerplate
# crossing the threshold is removed from this batch forward. History
# comes from the same two-tier _Ledger as the other two: its base holds
# the per-key SUM of the completed epochs, probed with only this batch's
# keys, and the partition-pruned tail adds the batches above it.
#
# Non-retroactivity is the documented trade: a segment that becomes
# frequent at batch N stays in batches < N until a periodic batch
# re-scrub of the corpus (remove_common_segments over the full corpus —
# the compaction-style answer, run on the maintenance cadence).

# the base SUMs the per-batch counts per key (`_k`-bucketed): per-batch
# history lookup scans it ONCE with the batch's keys broadcast (no
# base-side shuffle, ever) plus the partition-pruned tail
_segment_ledger = partial(
    _Ledger, "_k", lambda df: df.groupBy("_k").agg(F.sum("_nd").alias("_nd"))
)
compact_segment_ledger_base = partial(_compact_base, _segment_ledger)


def scrub_batch_segments(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    seg_ledger_dir: str,
    min_docs: int = 10,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_base_table: str | None = None,
) -> None:
    """Process one micro-batch: scrub segments frequent across
    history+batch, write cleaned docs and the batch's segment-count
    ledger partition (counts from the ORIGINAL text — the ledger must
    record what was seen, or future batches would under-count exactly
    the boilerplate being scrubbed)."""
    from ..operators.curation_pipeline import (
        _exploded_segments,
        _scrub_frequent_segments,
    )

    segs = _exploded_segments(batch_df, id_col, text_col, sep)
    batch_counts = (
        segs.groupBy("_k").agg(F.count_distinct(id_col).alias("_nd"))
    )

    parts = [batch_counts]
    base, tail = _segment_ledger(seg_ledger_dir, seg_base_table).history(
        batch_df.sparkSession, batch_id)
    if base is not None:
        # base counts for ONLY this batch's keys: one in-place base scan
        # filtered by the broadcast batch key set — the base is never
        # shuffled, which is the whole point of the tier
        parts.append(base.join(F.broadcast(batch_counts.select("_k")), "_k"))
    if tail is not None:
        parts.append(tail)
    totals = reduce(DataFrame.unionByName,
                    [p.select("_k", "_nd") for p in parts])
    frequent = (
        totals.groupBy("_k").agg(F.sum("_nd").alias("_nd"))
        .filter(F.col("_nd") >= min_docs).select("_k")
    )

    cleaned = _scrub_frequent_segments(
        batch_df, segs, frequent, id_col, text_col, sep
    )
    _write_batch(cleaned, batch_id, out_dir)
    _write_batch(batch_counts, batch_id, seg_ledger_dir)


def run_incremental_segment_scrub(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    seg_ledger_dir: str,
    checkpoint_dir: str,
    min_docs: int = 10,
    sep: str = "\n",
    available_now: bool = True,
    seg_base_table: str | None = None,
    compact_base_every: int | None = None,
):
    """Stream JSON-lines document drops through the cross-batch segment
    scrub. Exactly-once by the same two legs as the other ingesters:
    the streaming checkpoint stops re-delivery, dynamic partition
    overwrite makes a replayed batch rewrite only its own output and
    ledger partitions. Returns the StreamingQuery."""
    return _run(spark, input_dir, checkpoint_dir, available_now,
                lambda df, bid: scrub_batch_segments(
                    df, bid, out_dir, seg_ledger_dir, min_docs=min_docs,
                    sep=sep, seg_base_table=seg_base_table),
                (_segment_ledger(seg_ledger_dir, seg_base_table),),
                compact_base_every)


# ---------------------------------------------------------------------------
# Streaming FUZZY decontamination (r7) — probe each micro-batch against a
# STATIC benchmark's LSH band rows. Unlike the ledgers above, the
# benchmark never grows with the stream: its band frame is computed once
# at stream start and every batch probes it with one (band, bkey)
# equi-join — O(batch bands + collisions), never batch × benchmark.
# ---------------------------------------------------------------------------


def bench_band_frame(
    bench: DataFrame, text_col: str = "text", durable_path: str | None = None
) -> DataFrame:
    """The benchmark's (band, bkey, h_sig) rows, materialized ONCE so
    per-batch probes never re-scan or re-hash the benchmark. Bench may
    be text-only — ids are synthesized and never surface (they only
    carry the signature rows). Eval suites are MBs at any realistic
    size, so the materialized frame broadcasts into each batch's probe
    join.

    Materialization is localCheckpoint by default — right for
    availableNow runs, where the stream outlives no executor. For a
    LONG-LIVED stream pass ``durable_path``: localCheckpoint blocks are
    non-reliable (lineage is discarded), so losing the executor holding
    them mid-run would fail every subsequent micro-batch permanently;
    a parquet round-trip re-reads from durable storage instead."""
    prepared = bench.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    bands = _signature_bands(prepared).select(
        "band", "bkey", F.col("sig").alias("h_sig")
    )
    if durable_path is None:
        return bands.localCheckpoint(eager=True)
    bands.write.mode("overwrite").parquet(durable_path)
    return bands.sparkSession.read.parquet(durable_path)


def fuzzy_decon_batch(
    batch_df: DataFrame,
    batch_id: int,
    bench_bands: DataFrame,
    out_dir: str,
    min_est_jaccard: float = 0.5,
) -> None:
    """One micro-batch through the fuzzy screen: band the batch's
    signatures, drop docs whose any-band collision with the benchmark
    verifies at est Jaccard >= tau, land survivors under the batch's
    own partition (dynamic overwrite — replay rewrites exactly itself,
    the same exactly-once contract as every ledger here)."""
    kept = _drop_verified(batch_df, _signature_bands(batch_df),
                          F.broadcast(bench_bands), ["band", "bkey"],
                          min_est_jaccard)
    _write_batch(kept, batch_id, out_dir)


def run_streaming_fuzzy_decon(
    spark: SparkSession,
    input_dir: str,
    bench: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    min_est_jaccard: float = 0.5,
    available_now: bool = True,
):
    """Maintain a decontaminated corpus FROM A STREAM: every arriving
    document is screened against the static benchmark (exact leakage is
    a special case of fuzzy at tau=1.0 under signature equality; run
    the exact ledgered ingester first when both are wanted). Batch twin
    with the oracle: the registry query ``decontaminate_fuzzy_lsh`` /
    pipeline stage ``fuzzy_decontaminate``.

    availableNow runs keep the band frame in executor memory
    (localCheckpoint); a long-lived run persists it to durable parquet
    beside the checkpoint so executor loss can't strand the stream
    (localCheckpoint lineage is unrecomputable — see
    :func:`bench_band_frame`)."""
    bench_bands = bench_band_frame(
        bench,
        durable_path=None if available_now
        else checkpoint_dir.rstrip("/") + "_bench_bands",
    )
    return _run(spark, input_dir, checkpoint_dir, available_now,
                lambda df, bid: fuzzy_decon_batch(df, bid, bench_bands,
                                                  out_dir, min_est_jaccard))
