"""Multimodal-column queries: opaque binary payloads with typed metadata.

The fixture set has no binary table, so the binary column is
materialized from document text (utf-8 encode) — an honest stand-in:
the engine-side operations (BinaryType columns, content addressing,
byte-length metadata, blob-pruning) are identical for real media bytes.
The decode/feature tier lives in operators/multimodal.py (mapInPandas,
rows-only by nature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_star_table_spread
from ..operators import multimodal
from . import query


@query(
    "doc_binary_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           lower(sha256(text))                        AS content_sha256,
           substr(md5(text), 1, 8)                    AS shard_key
    FROM documents
    """,
    doc="North-star multimodal metadata: text→binary payload (stand-in for "
        "media bytes), content addressing (sha256), byte length, and an "
        "md5-derived shard key — the metadata columns that let a 100 TB "
        "media table be deduped/bucketed without ever decoding blobs. "
        "Column pruning keeps metadata queries off the payload "
        "(test_multimodal::test_metadata_query_prunes_blob_column).",
    tags=("multimodal",),
    extra=True,  # r10 rotation (gated r1-r9, green): multimodal metadata/hash
    # family stays gated via media_near_dup_bucketed (first gated r10)
)
def doc_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    payload = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.lower(F.sha2(payload, 256)).alias("content_sha256"),
        F.substring(F.md5(payload), 1, 8).alias("shard_key"),
    )


@query(
    "media_decode_features",
    oracle=None,  # mapInPandas decode kernel — no SQL form (rows-only)
    doc="North-star multimodal decode: binary payloads through the "
        "Arrow-batched mapInPandas kernel (operators/multimodal.py) — "
        "deterministic stub decoder standing in for PIL/cv2 (absent in "
        "this container); schema, batching, and distribution are the real "
        "production plumbing.",
    tags=("multimodal",),
    # rotated to extras in r5: a rows-only row can never turn hash-green
    # (`err: no_oracle` forever); the capability keeps its driver row via
    # the oracled twin doc_binary_metadata + pytest decode-kernel coverage
    extra=True,
)
def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Python-tier stages want FEWER, fatter Arrow batches than JVM stages:
    # each partition pays a python-worker handshake, so 32 tiny partitions
    # spend more on startup than decode (measured 11s -> ~3s at 8).
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id").coalesce(8)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.encode("text", "utf-8").alias("content"),
    )
    return multimodal.decode_media(media)


@query(
    "media_near_dup_bucketed",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      FROM documents
    ),
    px AS (
      SELECT doc_id,
             list_transform(range(0, 63), i -> length(t[(i % len(t)) + 1])) AS p
      FROM base WHERE len(t) > 0
    ),
    h AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 56),
               k -> CASE WHEN p[(k // 8) * 9 + (k % 8) + 2]
                          > p[(k // 8) * 9 + (k % 8) + 1]
                    THEN (1::BIGINT << k) ELSE 0 END)) AS BIGINT) AS phash
      FROM px
    ),
    bands AS (
      SELECT doc_id, phash, b, (phash >> (7 * b)) & 127 AS bval
      FROM h, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS u(b)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             CAST(bit_count(xor(a.phash, b2.phash)) AS BIGINT) AS hamming
      FROM bands a JOIN bands b2
        ON a.b = b2.b AND a.bval = b2.bval AND a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 8
    """,
    doc="North-star perceptual-hash image near-dup: 56-bit dHash over the "
        "deterministic fake decoder's 7x9 thumbnail (token-length grid — "
        "content-correlated like a real resample; PIL path env-gated, "
        "operators/multimodal.thumbnail_pixels_batch), then banded "
        "Hamming bucketing (8 x 7-bit bands, the queries/dedup.lsh_pairs "
        "shape): pairs are scored by exact bit_count(xor) WITHIN band "
        "buckets only — no all-pairs (asserted registry-wide, "
        "tests/test_plans.py). Banding chosen by measurement (r11, "
        "SCALE.md): pigeonhole over 8 bands guarantees every pair below "
        "the Hamming-8 threshold collides; measured recall at <=8 is "
        "99.0%/98.6% (sf0.1 / 10x clone) vs 54%/28% for r10's 4 x 14.",
    tags=("multimodal", "dedup"),
)  # first gated r10 (new operator this round)
def media_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_star_table_spread(spark, sf_dir, "documents", "doc_id")
    # media payload -> fake decode: byte column round-trip keeps the
    # multimodal story honest (the hash consumes DECODED content)
    text = F.decode(F.encode("text", "utf-8"), "utf-8")
    # TWO projections, deliberately: dhash_expr reads its pixel array
    # 112 times (56 bits x 2 element_at); inlining the thumbnail into
    # every read would rebuild the grid per read. CollapseProject keeps
    # the boundary because the aliased grid is non-cheap and
    # multiply-referenced. The grid projection tokenizes each payload
    # once (fake_thumbnail_expr's docstring has the shape).
    # the guard must be TOKEN-count-based like the oracle's len(t) > 0:
    # trim() strips only 0x20, so a tab/newline-only text would pass a
    # trim()-based filter with ZERO tokens and reach the thumbnail with
    # an empty grid, which dhash_expr cannot read (r10 review finding).
    # It tokenizes once more: Catalyst pushes a filter below the
    # projection it reads, inlining the aliased expression, so a guard on
    # a projected token array would not share it anyway.
    n_tokens = F.size(multimodal.payload_tokens(text))
    px = (
        d.filter(n_tokens > 0)
        .select(
            F.col("doc_id"),
            multimodal.fake_thumbnail_expr(text).alias("px"),
        )
    )
    hashed = px.select(
        # the NAME, not F.col("px"): dhash_expr's fast single-SQL-string
        # build path keys on receiving a str (r16 — no more column
        # introspection inside the operator)
        "doc_id", multimodal.dhash_expr("px").alias("phash")
    )
    return multimodal.phash_band_pairs(
        hashed, id_col="doc_id", hash_col="phash", max_dist=8
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )
