"""Multimodal column plumbing: binary payloads, Arrow decode, frame sampling."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from medallion_data_lake_spark.operators import multimodal


def _media_df(spark):
    rows = [
        (1, "image", b"\x89PNG-fake-bytes-1"),
        (2, "image", b"\x89PNG-fake-bytes-2"),
        (3, "audio", b"RIFF-fake-bytes"),
        (4, "image", b"\x89PNG-fake-bytes-1"),  # exact dup of media 1
    ]
    return spark.createDataFrame(rows, "media_id long, modality string, content binary")


def test_content_addressing(spark):
    df = multimodal.attach_content_metadata(_media_df(spark))
    rows = {r["media_id"]: r for r in df.collect()}
    expect = hashlib.sha256(b"\x89PNG-fake-bytes-1").hexdigest()
    assert rows[1]["content_sha256"] == expect
    assert rows[1]["byte_len"] == len(b"\x89PNG-fake-bytes-1")
    # content addressing enables exact media dedup
    assert rows[1]["content_sha256"] == rows[4]["content_sha256"]
    assert rows[1]["content_sha256"] != rows[2]["content_sha256"]


def test_decode_media_deterministic(spark):
    df = _media_df(spark)
    out1 = {r["media_id"]: r for r in multimodal.decode_media(df).collect()}
    out2 = {r["media_id"]: r for r in multimodal.decode_media(df).collect()}
    assert out1.keys() == {1, 2, 3, 4}
    for k in out1:
        assert out1[k] == out2[k]  # deterministic fake decode
    assert 64 <= out1[1]["width"] <= 255
    assert out1[1]["decoder"] == "fake-sha256"
    # identical content -> identical decoded features
    assert (out1[1]["width"], out1[1]["height"]) == (out1[4]["width"], out1[4]["height"])


def test_frame_sampling_expands_rows(spark):
    df = _media_df(spark).filter(F.col("modality") == "image")
    frames = multimodal.sample_frames(df, n_frames=4).collect()
    assert len(frames) == 3 * 4
    per_media = {}
    for r in frames:
        per_media.setdefault(r["media_id"], set()).add(r["frame_idx"])
    assert all(v == {0, 1, 2, 3} for v in per_media.values())


def test_metadata_query_prunes_blob_column(spark, tmp_path_factory):
    """Metadata-only queries must not read the binary column (parquet
    column pruning — the property that makes 100 TB media tables
    queryable)."""
    from medallion_data_lake_spark.plans import scan_read_schema

    path = tmp_path_factory.mktemp("media") / "t"
    multimodal.attach_content_metadata(_media_df(spark)).write.parquet(str(path))
    meta_only = spark.read.parquet(str(path)).select("media_id", "byte_len", "content_sha256")
    scans = scan_read_schema(meta_only)
    assert scans and all("content:" not in s.replace(" ", "") for s in scans)


def test_text_pandas_udfs(spark):
    from medallion_data_lake_spark.operators.text import with_text_features

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumping over the lazy dog"),
         (2, "der schnelle braune fuchs und der hund")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_text_features(df).collect()}
    assert rows[1]["lang_pred"] == "en"
    assert rows[2]["lang_pred"] == "de"
    assert rows[1]["bpe_tokens"] == 9


def test_resize_media_blob_out_shape(spark):
    df = _media_df(spark)
    out = {r["media_id"]: r for r in
           multimodal.resize_media(df, 32, 16).collect()}
    assert out.keys() == {1, 2, 3, 4}
    for r in out.values():
        assert (r["width"], r["height"]) == (32, 16)
        assert len(r["content"]) == 32 * 16      # blob-out sized to target
        assert 64 <= r["src_width"] <= 255       # source dims carried
    # deterministic, and content-addressed: identical source payloads
    # (media 1 == media 4) resize to identical bytes
    assert bytes(out[1]["content"]) == bytes(out[4]["content"])
    assert bytes(out[1]["content"]) != bytes(out[2]["content"])
    again = {r["media_id"]: bytes(r["content"]) for r in
             multimodal.resize_media(df, 32, 16).collect()}
    assert again[2] == bytes(out[2]["content"])


def test_window_audio_overlapping_coverage(spark):
    df = _media_df(spark).filter(F.col("modality") == "audio")
    out = multimodal.window_audio(df, window_ms=5_000, stride_ms=4_000)
    rows = sorted(out.collect(), key=lambda r: r["window_idx"])
    assert len(rows) >= 1
    # windows tile the clip: first starts at 0, strides are exact,
    # every window is <= window_ms long and the last one ends the clip
    assert rows[0]["start_ms"] == 0
    for i, r in enumerate(rows):
        assert r["start_ms"] == i * 4_000
        assert 0 < r["end_ms"] - r["start_ms"] <= 5_000
    duration = rows[-1]["end_ms"]
    assert 1_000 <= duration <= 30_000
    # no shuffle in the plan (map-side 1:N expansion)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup (dHash + banded Hamming bucketing)
# ---------------------------------------------------------------------------


def _pixel_df(spark, items):
    """(media_id, pixels) -> (media_id, phash) via the JVM expression."""
    df = spark.createDataFrame(items, "media_id long, pixels array<int>")
    return df.select("media_id", multimodal.dhash_expr(F.col("pixels")).alias("phash"))


def test_dhash_known_bits(spark):
    # strictly increasing pixels: every right > left comparison fires ->
    # all 56 bits set; constant pixels -> no bit set
    inc = list(range(multimodal.PHASH_NPIX))
    flat = [7] * multimodal.PHASH_NPIX
    rows = {r["media_id"]: r["phash"]
            for r in _pixel_df(spark, [(1, inc), (2, flat)]).collect()}
    assert rows[1] == (1 << multimodal.PHASH_BITS) - 1
    assert rows[2] == 0


def test_near_dup_images_bucket_together_distinct_dont(spark):
    """The r9-verdict acceptance case: a near-duplicate image pair (one
    pixel region changed -> few dHash bits flip) collides on a band and
    survives the Hamming threshold; two distinct images don't pair."""
    import random

    rng = random.Random(7)
    base = [rng.randrange(256) for _ in range(multimodal.PHASH_NPIX)]
    neardup = list(base)
    neardup[10] = 255 - neardup[10]      # one "pixel" edited -> <=2 bits flip
    distinct = [rng.randrange(256) for _ in range(multimodal.PHASH_NPIX)]

    hashed = _pixel_df(spark, [(1, base), (2, neardup), (3, distinct)])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_band_pairs(
            hashed, id_col="media_id", max_dist=8
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 2
    assert all(p == (1, 2) for p in pairs), f"false pairs: {pairs}"


def test_exact_dup_hamming_zero_across_bands_once(spark):
    """An exact duplicate collides on EVERY band but must emit ONE
    deduped pair with hamming 0."""
    px = [i % 9 for i in range(multimodal.PHASH_NPIX)]
    hashed = _pixel_df(spark, [(1, px), (2, px)])
    rows = multimodal.phash_band_pairs(hashed, id_col="media_id").collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in rows] == [(1, 2, 0)]


def test_thumbnail_kernel_matches_expression_path(spark):
    """The mapInPandas fake-decode kernel and the pure-expression fake
    thumbnail agree bit-for-bit on text payloads (the deterministic
    contract that makes the gated query's oracle honest)."""
    words = ["a", "bb", "ccc", "dddd", "eeeee", "ffffff", "ggggggg"]

    def payload(n, sep=" "):
        return sep.join(words[i % len(words)] * (1 + i // 7) for i in range(n))

    texts = [
        (1, "the cat sat on the mat"), (2, "a bb ccc dddd"), (3, "x"),
        # the grid cycles tokens below 63, reads the first 63 above
        (4, payload(62)), (5, payload(63)), (6, payload(64)),
        (7, payload(200)),
        # every separator the tokenizer splits on, runs of them, edges
        (8, payload(40, "\t")), (9, payload(70, "\n")),
        (10, payload(30, "   ")), (11, "  a\tbb \n ccc\t\t dddd  \n"),
    ]
    d = spark.createDataFrame(texts, "media_id long, text string")
    via_expr = {
        r["media_id"]: r["px"]
        for r in d.select(
            "media_id",
            multimodal.fake_thumbnail_expr(F.col("text")).alias("px"),
        ).collect()
    }
    via_kernel = {
        r["media_id"]: r["pixels"]
        for r in multimodal.thumbnail_pixels(
            d.select("media_id", F.encode("text", "utf-8").alias("content"))
        ).collect()
    }
    assert via_kernel == via_expr
    assert all(len(v) == multimodal.PHASH_NPIX for v in via_kernel.values())
    # and both equal the definition: pixel i = len(token i mod n)
    for mid, text in texts:
        toks = text.split()
        assert via_expr[mid] == [
            len(toks[i % len(toks)]) for i in range(multimodal.PHASH_NPIX)
        ], mid


def test_thumbnail_kernel_real_decoder_parity(spark):
    """Env-gated PIL parity: with a real decoder present, a solid-color
    PNG and its re-encoded copy hash identically (the property dHash
    exists for). Skipped in this container (no PIL)."""
    import os

    import pytest

    if not (multimodal._HAS_PIL and os.environ.get("MDLS_REAL_DECODE") == "1"):
        pytest.skip("real decoder not available/enabled")
    from io import BytesIO  # pragma: no cover - PIL absent here

    from PIL import Image

    buf1, buf2 = BytesIO(), BytesIO()
    img = Image.new("L", (100, 80), color=128)
    img.save(buf1, format="PNG")
    img.resize((50, 40)).save(buf2, format="PNG")
    d = spark.createDataFrame(
        [(1, buf1.getvalue()), (2, buf2.getvalue())],
        "media_id long, content binary",
    )
    hashed = multimodal.thumbnail_pixels(d).select(
        "media_id", multimodal.dhash_expr(F.col("pixels")).alias("phash")
    )
    rows = {r["media_id"]: r["phash"] for r in hashed.collect()}
    assert rows[1] == rows[2]


def test_whitespace_only_payload_is_guarded(spark):
    """r10 review finding: a tab/newline-only text has ZERO tokens —
    trim() strips only spaces, so a trim-based guard passed it into the
    thumbnail grid's i % n_tokens (DIVIDE_BY_ZERO under Spark 4's
    default ANSI mode; spurious phash-0 pairs without it). The gated
    query's guard is token-count-based, matching the oracle and the
    kernel (which drops such rows)."""
    from medallion_data_lake_spark.queries import load_all_extra

    spec = load_all_extra()["media_near_dup_bucketed"]
    # the query builder only takes sf_dir; drive the same expressions
    # directly over a frame containing the hostile rows
    text = F.col("text")
    n_tokens = F.size(multimodal.payload_tokens(text))
    d = spark.createDataFrame(
        [(1, "\t"), (2, "\n \n"), (3, "a bb ccc " * 20), (4, "a bb ccc " * 20)],
        "doc_id long, text string",
    )
    hashed = d.filter(n_tokens > 0).select(
        "doc_id",
        multimodal.dhash_expr(
            multimodal.fake_thumbnail_expr(text)
        ).alias("phash"),
    )
    pairs = multimodal.phash_band_pairs(hashed, id_col="doc_id").collect()
    # no crash, the whitespace-only docs never hash, the real dup pairs
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(3, 4, 0)]
    # and the registry query itself still builds + runs on the fixtures
    assert spec.build(spark, "/root/testdata/sf0.001").count() >= 0


def test_dhash_expr_dotted_path_resolves_nested_field(spark):
    """A dotted path must keep its pre-r16 F.col nested-field
    resolution (backtick-quoting it would name one literal column and
    fail analysis — r16 review); all three input forms agree."""
    from pyspark.sql import functions as F

    from medallion_data_lake_spark.operators.multimodal import dhash_expr

    flat = spark.createDataFrame(
        [(1, list(range(63)))], "id long, px array<int>"
    )
    nested = flat.select("id", F.struct(F.col("px")).alias("s"))
    h_name = flat.select(dhash_expr("px").alias("h")).collect()[0]["h"]
    h_col = flat.select(dhash_expr(F.col("px")).alias("h")).collect()[0]["h"]
    h_dotted = nested.select(dhash_expr("s.px").alias("h")).collect()[0]["h"]
    assert h_name == h_col == h_dotted
