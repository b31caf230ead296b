"""Incremental corpus ingestion with cross-batch dedup.

A training corpus is not loaded once — it accrues (crawl drops, vendor
deliveries, user uploads). This module ingests document drops as a
file-source stream and admits only content never seen before, keeping a
compact fingerprint LEDGER (fingerprint, batch id) alongside the corpus
so dedup against ALL history is one anti-join against the ledger — the
corpus itself (with its text/blob payload) is never re-read for dedup.

Exactly-once without a transaction log: both corpus and ledger are
written with dynamic partition-overwrite keyed by the micro-batch id,
so a replayed batch rewrites exactly its own partition — idempotent by
construction. The ledger read for the anti-join EXCLUDES the current
batch id, so a replay does not see its own previous partial write and
drop everything (the failure mode of a naive append).

Scale: per batch, work = fingerprint map over the new docs + one
anti-join keyed on fingerprint. The ledger is (md5, long) — ~40 B/doc,
so a 100-billion-doc history is a few TB of parquet. The flat form
shuffles that history every batch; the TWO-TIER form (implemented:
:func:`compact_ledger_base` / :func:`compact_band_ledger_base`) mirrors
completed epochs into a fingerprint-bucketed base so the anti-join
shuffles ONLY the new batch (plan-asserted), with the short
post-compaction tail partition-pruned and broadcast. Near-dup admission
control composes the same way (``admit_batch_near``): an LSH band
ledger plus signature-level verification, corpus-free, with its own
bucketed base.

The reference has no incremental ingestion at all (its loads are
overwrite-the-world batch — ``bronze_to_silver.py``); this is the
north-star upgrade for corpus workflows.
"""

from __future__ import annotations

import os

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


def compact_ledger_base(
    spark: SparkSession,
    ledger_dir: str,
    base_table: str,
    n_buckets: int = 64,
    through_batch_id: int | None = None,
) -> dict:
    """Mirror the parquet ledger into a fingerprint-BUCKETED managed
    table — the two-tier ledger's cold base. After this, the per-batch
    anti-join against history shuffles ONLY the new batch (into the
    bucket layout); the base is scanned in place, never re-shuffled —
    the "bucket the ledger" production upgrade the module header names,
    implemented rather than promised.

    The highest mirrored batch id is recorded as a table property; the
    admission path anti-joins base + the parquet ledger's TAIL
    partitions above it (partition-pruned read, broadcast-sized by the
    compaction cadence). Re-run this periodically — cost is one shuffle
    of the compact (fingerprint, batch_id) ledger, amortized over every
    batch until the next compaction; the corpus itself is never read.

    Idempotence note: the tail read already excludes the current batch's
    own partition; the base must mirror only COMPLETED batches (stream
    checkpoint moved past them), or a replayed batch would meet its own
    prior write through the base and admit nothing. Callers compacting
    from INSIDE a running stream's foreachBatch therefore pass
    ``through_batch_id = current_batch_id - 1`` — the current epoch is
    not committed until after the hook returns. Between runs (no stream
    active) the default full mirror is safe.
    """
    ledger = spark.read.parquet(ledger_dir)
    if through_batch_id is not None:
        ledger = ledger.filter(F.col("_batch_id") <= F.lit(through_batch_id))
    hi = ledger.agg(F.max("_batch_id")).first()[0]
    if hi is None:
        return {"base_table": base_table, "compacted_through": None}
    (
        ledger.select("fingerprint", "_batch_id")
        .write.mode("overwrite")
        .bucketBy(n_buckets, "fingerprint")
        .sortBy("fingerprint")
        .format("parquet")
        .saveAsTable(base_table)
    )
    spark.sql(
        f"ALTER TABLE {base_table} SET TBLPROPERTIES "
        f"('{LEDGER_WATERMARK_PROP}'='{hi}')"
    )
    return {"base_table": base_table, "compacted_through": int(hi)}


def _ledger_watermark(spark: SparkSession, base_table: str) -> int:
    row = spark.sql(
        f"SHOW TBLPROPERTIES {base_table}('{LEDGER_WATERMARK_PROP}')"
    ).first()
    return int(row["value"])


def historical_fingerprints(
    spark: SparkSession,
    ledger_dir: str,
    batch_id: int,
    base_table: str | None = None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """(base, tail) fingerprint sides for the admission anti-join.
    base = the bucketed mirror (None until first compaction); tail = the
    parquet ledger's partitions ABOVE the mirror's watermark (partition-
    pruned — `_batch_id` is the partition key), always excluding the
    current batch's own partition (replay safety)."""
    base = None
    wm = -1
    if base_table is not None and spark.catalog.tableExists(base_table):
        base = spark.table(base_table).select("fingerprint")
        wm = _ledger_watermark(spark, base_table)
    tail = None
    if os.path.isdir(ledger_dir):
        tail = (
            spark.read.parquet(ledger_dir)
            .filter(
                (F.col("_batch_id") > F.lit(wm))
                & (F.col("_batch_id") != F.lit(batch_id))
            )
            .select("fingerprint")
        )
    return base, tail


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
    ledger-side shuffle), then the post-watermark tail (broadcast —
    bounded by compaction cadence, which is the operator's contract).
    Without it, the whole parquet ledger shuffles per batch — fine for
    modest histories, the thing the base exists to avoid at corpus
    scale.

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
    fp = (
        batch_df.withColumn("fingerprint", content_fingerprint())
        # within-batch dedup: deterministic min-id winner per content
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("fingerprint").orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    base, tail = historical_fingerprints(
        spark, ledger_dir, batch_id, ledger_base_table
    )
    if base is not None:
        fp = fp.join(base, "fingerprint", "left_anti")
    if tail is not None:
        fp = fp.join(
            F.broadcast(tail) if base is not None else tail,
            "fingerprint",
            "left_anti",
        )
    admitted = fp.withColumn("_batch_id", F.lit(batch_id))
    (
        admitted.drop("fingerprint")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(corpus_dir)
    )
    (
        admitted.select("fingerprint", "_batch_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(ledger_dir)
    )
    if embeddings_table is not None:
        from ..operators.embeddings import (
            DEFAULT_DIM,
            materialize_corpus_embeddings,
        )

        # read back exactly this batch's admitted partition (bounded by
        # the batch): replaying the `admitted` plan would re-run the
        # ledger anti-joins, and embedding the raw input would waste the
        # Arrow pass on rejected duplicates
        batch_docs = (
            spark.read.parquet(corpus_dir)
            .filter(F.col("_batch_id") == batch_id)
            .select("doc_id", "text")
        )
        materialize_corpus_embeddings(
            spark, batch_docs, embeddings_table,
            dim=embedding_dim or DEFAULT_DIM,
        )
    if chunks_dir is not None:
        from ..operators.curation_pipeline import chunk_documents

        (
            chunk_documents(
                admitted.drop("fingerprint", "_batch_id"),
                chunk_tokens=chunk_tokens,
                chunk_stride=chunk_stride,
            )
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(chunks_dir)
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
    deduplicated corpus. ``available_now`` bounds the run to the files
    present (exactly-once catch-up); pass False for a continuous
    ingester. ``chunks_dir`` additionally materializes training chunks
    per admitted batch. ``ledger_base_table`` (+ optionally
    ``compact_base_every`` batches) engages the two-tier ledger: history
    anti-joins hit the bucketed base with zero ledger-side shuffle and
    only the short post-compaction tail rides along. Returns the
    StreamingQuery."""
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .json(input_dir)
    )

    def process(df: DataFrame, bid: int) -> None:
        admit_batch(df, bid, corpus_dir, ledger_dir, chunks_dir=chunks_dir,
                    ledger_base_table=ledger_base_table,
                    embeddings_table=embeddings_table,
                    embedding_dim=embedding_dim)
        if (
            ledger_base_table
            and compact_base_every
            and bid > 0
            and (bid + 1) % compact_base_every == 0
        ):
            # only COMPLETED epochs may enter the base (this batch's
            # checkpoint commit happens after this hook returns)
            compact_ledger_base(
                spark, ledger_dir, ledger_base_table,
                through_batch_id=bid - 1,
            )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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


def _band_key64(band, bkey) -> F.Column:
    """Composite 64-bit LSH key: (band, bkey) folded into ONE column so
    the bucketed band base can bucket, sort, and join on a single key
    (a two-column bucket spec would force the probe side into the exact
    two-column hash layout; a composite key keeps the join condition ==
    the bucket spec)."""
    return F.xxhash64(band.cast("string"), bkey)


def compact_band_ledger_base(
    spark: SparkSession,
    band_ledger_dir: str,
    base_table: str,
    n_buckets: int = 64,
    through_batch_id: int | None = None,
) -> dict:
    """:func:`compact_ledger_base` for the NEAR-dup band ledger: mirror
    (band, bkey, sig) history into a table bucketed on the composite
    band key. The per-batch collision probe against history then
    shuffles only the new batch's band rows; the signature payload
    (~100 B/doc × N_BANDS rows) — the part that actually weighs — is
    scanned in its bucket layout, never re-shuffled. Same completed-
    epochs-only contract as the fingerprint base."""
    ledger = spark.read.parquet(band_ledger_dir)
    if through_batch_id is not None:
        ledger = ledger.filter(F.col("_batch_id") <= F.lit(through_batch_id))
    hi = ledger.agg(F.max("_batch_id")).first()[0]
    if hi is None:
        return {"base_table": base_table, "compacted_through": None}
    (
        ledger.select(
            _band_key64(F.col("band"), F.col("bkey")).alias("band_key"),
            "sig",
            "_batch_id",
        )
        .write.mode("overwrite")
        .bucketBy(n_buckets, "band_key")
        .sortBy("band_key")
        .format("parquet")
        .saveAsTable(base_table)
    )
    spark.sql(
        f"ALTER TABLE {base_table} SET TBLPROPERTIES "
        f"('{LEDGER_WATERMARK_PROP}'='{hi}')"
    )
    return {"base_table": base_table, "compacted_through": int(hi)}


def near_dedup_against_ledger(
    batch_docs: DataFrame,
    batch_id: int,
    band_ledger_dir: str,
    min_est_jaccard: float = 0.5,
    id_col: str = "doc_id",
    band_base_table: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split a batch into (admitted, band_rows_to_append).

    Within-batch near-dups resolve to the min-id winner (band collision
    + signature verification); survivors whose signatures verify against
    any historical ledger row are dropped. Returns the admitted docs
    (original columns) and their band rows for the ledger append.

    ``band_base_table`` engages the two-tier history
    (:func:`compact_band_ledger_base`): collision probe against the
    bucketed base on the composite band key (zero ledger-side shuffle),
    then against the post-watermark parquet tail only.
    """
    spark = batch_docs.sparkSession
    bands = _signature_bands(batch_docs)

    # in-batch: candidate pairs via band collision, verified by est
    # Jaccard, greedy min-id winner (drop the larger id of each pair)
    losers = (
        band_self_join(_signatures(batch_docs), _items(F.col("sig")), "sig")
        .filter(_est_jaccard(F.col("a.sig"), F.col("b.sig")) >= min_est_jaccard)
        .select(F.col("b.doc_id").alias(id_col))
        .distinct()
    )
    survivors = bands.join(losers, bands.doc_id == losers[id_col], "left_anti")

    wm = -1
    if band_base_table is not None and spark.catalog.tableExists(band_base_table):
        wm = _ledger_watermark(spark, band_base_table)
        base = spark.table(band_base_table).select(
            F.col("band_key").alias("h_key"), F.col("sig").alias("h_sig")
        )
        probe = survivors.withColumn(
            "band_key", _band_key64(F.col("band"), F.col("bkey"))
        )
        base_hits = (
            probe.join(base, probe.band_key == base.h_key)
            .filter(_est_jaccard(F.col("sig"), F.col("h_sig")) >= min_est_jaccard)
            .select("doc_id")
            .distinct()
        )
        survivors = survivors.join(base_hits, "doc_id", "left_anti")
    if os.path.isdir(band_ledger_dir):
        hist = (
            spark.read.parquet(band_ledger_dir)
            .filter(
                (F.col("_batch_id") > F.lit(wm))
                & (F.col("_batch_id") != F.lit(batch_id))
            )
            .select(F.col("band").alias("h_band"), F.col("bkey").alias("h_bkey"),
                    F.col("sig").alias("h_sig"))
        )
        hist_hits = (
            survivors.join(
                hist,
                (survivors.band == hist.h_band) & (survivors.bkey == hist.h_bkey),
            )
            .filter(_est_jaccard(F.col("sig"), F.col("h_sig")) >= min_est_jaccard)
            .select("doc_id")
            .distinct()
        )
        survivors = survivors.join(hist_hits, "doc_id", "left_anti")

    admitted_ids = survivors.select("doc_id").distinct()
    admitted = batch_docs.join(admitted_ids, "doc_id")
    band_rows = survivors.select("doc_id", "sig", "band", "bkey")
    return admitted, band_rows


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
    signature-verified near-dup against all history. The two base-table
    params engage the two-tier ledgers for both stages
    (:func:`compact_ledger_base` / :func:`compact_band_ledger_base`)."""
    spark = batch_df.sparkSession
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
    base, tail = historical_fingerprints(
        spark, ledger_dir, batch_id, ledger_base_table
    )
    if base is not None:
        fp = fp.join(base, "fingerprint", "left_anti")
    if tail is not None:
        fp = fp.join(
            F.broadcast(tail) if base is not None else tail,
            "fingerprint",
            "left_anti",
        )

    admitted, band_rows = near_dedup_against_ledger(
        fp.drop("fingerprint"), batch_id, band_ledger_dir, min_est_jaccard,
        band_base_table=band_base_table,
    )
    # re-derive fingerprints for the admitted set's exact-ledger rows
    admitted = admitted.withColumn("fingerprint", content_fingerprint())
    stamped = admitted.withColumn("_batch_id", F.lit(batch_id))
    (
        stamped.drop("fingerprint")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(corpus_dir)
    )
    (
        stamped.select("fingerprint", "_batch_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(ledger_dir)
    )
    (
        band_rows.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(band_ledger_dir)
    )


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
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .json(input_dir)
    )

    def process(df: DataFrame, bid: int) -> None:
        admit_batch_near(
            df, bid, corpus_dir, ledger_dir, band_ledger_dir, min_est_jaccard,
            ledger_base_table=ledger_base_table,
            band_base_table=band_base_table,
        )
        if compact_base_every and bid > 0 and (bid + 1) % compact_base_every == 0:
            if ledger_base_table:
                compact_ledger_base(
                    spark, ledger_dir, ledger_base_table,
                    through_batch_id=bid - 1,
                )
            if band_base_table:
                compact_band_ledger_base(
                    spark, band_ledger_dir, band_base_table,
                    through_batch_id=bid - 1,
                )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Cross-batch SEGMENT scrub (streaming CCNet line dedup)
# ---------------------------------------------------------------------------
#
# The batch operator (operators/curation_pipeline.remove_common_segments)
# needs the whole corpus to count a segment; an INCREMENTAL corpus only
# ever sees one drop at a time. Third ledger, same discipline as the
# fingerprint and band ledgers: per batch, each segment's distinct-doc
# count lands as the batch's own (seg key → count) partition rows —
# ~16 B/segment, corpus-free, replay-idempotent (dynamic partition
# overwrite on batch id). A batch's docs are scrubbed against the
# HISTORY-SUM + WITHIN-BATCH counts, so boilerplate crossing the
# threshold is removed from this batch forward.
#
# Non-retroactivity is the documented trade: a segment that becomes
# frequent at batch N stays in batches < N until a periodic batch
# re-scrub of the corpus (remove_common_segments over the full corpus —
# the compaction-style answer, run on the maintenance cadence). Counting
# history sums the ledger per batch; at corpus scale the same two-tier
# mirror as compact_ledger_base applies (bucketed base of completed
# epochs + partition-pruned tail) — the ledger schema is already keyed
# for it.


def compact_segment_ledger_base(
    spark: SparkSession,
    seg_ledger_dir: str,
    base_table: str,
    n_buckets: int = 64,
    through_batch_id: int | None = None,
) -> dict:
    """Two-tier base for the segment-count ledger: SUM the per-batch
    counts through ``through_batch_id`` into a key-bucketed managed
    table (watermark in table properties — same contract as
    :func:`compact_ledger_base`, including the completed-epochs-only
    rule for in-stream compaction). After this, per-batch history
    lookup scans the base ONCE with the batch's keys broadcast (no
    base-side shuffle, ever) plus the partition-pruned tail."""
    ledger = spark.read.parquet(seg_ledger_dir)
    if through_batch_id is not None:
        ledger = ledger.filter(F.col("_batch_id") <= F.lit(through_batch_id))
    hi = ledger.agg(F.max("_batch_id")).first()[0]
    if hi is None:
        return {"base_table": base_table, "compacted_through": None}
    (
        ledger.groupBy("_k")
        .agg(F.sum("_nd").alias("_nd"))
        .write.mode("overwrite")
        .bucketBy(n_buckets, "_k")
        .sortBy("_k")
        .format("parquet")
        .saveAsTable(base_table)
    )
    spark.sql(
        f"ALTER TABLE {base_table} SET TBLPROPERTIES "
        f"('{LEDGER_WATERMARK_PROP}'='{hi}')"
    )
    return {"base_table": base_table, "compacted_through": int(hi)}


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

    spark = batch_df.sparkSession
    segs = _exploded_segments(batch_df, id_col, text_col, sep)
    batch_counts = (
        segs.groupBy("_k").agg(F.count_distinct(id_col).alias("_nd"))
    )

    parts = [batch_counts]
    wm = -1
    if seg_base_table is not None and spark.catalog.tableExists(seg_base_table):
        wm = _ledger_watermark(spark, seg_base_table)
        # base counts for ONLY this batch's keys: one in-place base scan
        # filtered by the broadcast batch key set — the base is never
        # shuffled, which is the whole point of the tier
        parts.append(
            spark.table(seg_base_table).join(
                F.broadcast(batch_counts.select("_k")), "_k"
            )
        )
    if os.path.isdir(seg_ledger_dir):
        try:
            parts.append(
                spark.read.parquet(seg_ledger_dir)
                .filter(
                    (F.col("_batch_id") > F.lit(wm))        # above the base
                    & (F.col("_batch_id") != F.lit(batch_id))  # replay safety
                )
                .select("_k", "_nd")
            )
        except Exception:
            pass  # first batch: empty/absent ledger
    totals = parts[0]
    for p in parts[1:]:
        totals = totals.unionByName(p.select("_k", "_nd"))
    totals = totals.groupBy("_k").agg(F.sum("_nd").alias("_nd"))
    frequent = totals.filter(F.col("_nd") >= min_docs).select("_k")

    cleaned = _scrub_frequent_segments(
        batch_df, segs, frequent, id_col, text_col, sep
    ).withColumn("_batch_id", F.lit(batch_id))
    (
        cleaned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_dir)
    )
    (
        batch_counts.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(seg_ledger_dir)
    )


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
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .json(input_dir)
    )

    def process(df: DataFrame, bid: int) -> None:
        scrub_batch_segments(df, bid, out_dir, seg_ledger_dir,
                             min_docs=min_docs, sep=sep,
                             seg_base_table=seg_base_table)
        if (
            seg_base_table
            and compact_base_every
            and bid > 0
            and (bid + 1) % compact_base_every == 0
        ):
            # completed epochs only (same rule as compact_ledger_base)
            compact_segment_ledger_base(
                spark, seg_ledger_dir, seg_base_table,
                through_batch_id=bid - 1,
            )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    bands = _signature_bands(batch_df)
    hits = (
        bands.join(F.broadcast(bench_bands), ["band", "bkey"])
        .filter(
            _est_jaccard(F.col("sig"), F.col("h_sig")) >= min_est_jaccard
        )
        .select("doc_id")
        .distinct()
    )
    (
        batch_df.join(hits, "doc_id", "left_anti")
        .withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_dir)
    )


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
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .json(input_dir)
    )

    def process(df: DataFrame, bid: int) -> None:
        fuzzy_decon_batch(df, bid, bench_bands, out_dir, min_est_jaccard)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
