"""Multimodal columns: opaque binary payloads + typed metadata (north star).

Design (SURVEY.md §7.2 M4): image/audio/video content is an opaque
``BinaryType`` column with a typed metadata struct (schemas.MEDIA). The
JVM never interprets the bytes; decode / feature-extraction / resize /
frame-sampling run as Arrow-batched pandas functions over
``mapInPandas`` — Python is genuinely unavoidable here, as in the other
Python-running operators listed in ``functions/__init__.py``.

The heavy codecs (PIL/cv2/librosa) are NOT in this container, so the
decode kernels are gated behind import-tries with a deterministic fake
fallback (clearly marked). Everything Spark-side — schema, partitioning,
UDF signatures, Arrow batch shapes — is real and tested; swapping the
fake for a real codec changes no plan.

Scale notes (100 TB of media):
- binary payloads dominate row size → keep metadata in separate columns
  so metadata-only queries never read the blob (parquet column pruning),
- partition by (modality, ingest_date); decode fan-out is embarrassingly
  parallel (mapInPandas, no shuffle),
- content addressing (sha256) enables exact dedup of media with the same
  hash-groupBy as document dedup (operators/../queries/dedup.py).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Real decoders when available; deterministic fake otherwise.
try:  # pragma: no cover - not installed in this container
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


def _real_decode_enabled() -> bool:
    """Real decode is opt-in via MDLS_REAL_DECODE=1 (checked per batch so
    executors pick up the env they were launched with)."""
    import os

    return os.environ.get("MDLS_REAL_DECODE", "") == "1"


def _pil_decode(payload: bytes):  # pragma: no cover - PIL absent here
    """Decode with Pillow; None on failure (caller falls back to fake)."""
    import io

    try:
        with Image.open(io.BytesIO(payload)) as img:
            width, height = img.size
            channels = len(img.getbands())
            gray = img.convert("L")
            hist = gray.histogram()
            n = sum(hist) or 1
            mean = round(sum(i * c for i, c in enumerate(hist)) / n / 255.0, 6)
        return width, height, channels, mean
    except Exception:
        return None


def attach_content_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Content-address a binary column: sha256 + byte length.

    Pure JVM expressions — no Python in this step, so it runs at full
    codegen speed over 100 TB of blobs.
    """
    return df.withColumn(
        "content_sha256", F.lower(F.sha2(F.col(content_col), 256))
    ).withColumn("byte_len", F.octet_length(F.col(content_col)).cast("long"))


# Output schema of the decode step (one row per media item).
DECODED_META = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in for an image decoder.

    Derives stable pseudo-dimensions and a mean-intensity from the
    content hash — NOT a real decode (the codec libraries are absent
    here); replace with PIL/cv2 in production. Determinism keeps the
    Spark-side plumbing fully testable.
    """
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] % 192          # 64..255
    height = 64 + h[1] % 192
    channels = 3
    mean = round(sum(h[:16]) / 16 / 255.0, 6)
    return width, height, channels, mean


def decode_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (media_id, modality, content) → DECODED_META rows.

    Arrow-batched: each ``pd.DataFrame`` is one Arrow batch; per-row
    Python cost is amortized across the batch. Real decoders slot into
    the marked branch.
    """
    for pdf in batches:
        rows = []
        for media_id, modality, content in zip(
            pdf["media_id"], pdf["modality"], pdf["content"]
        ):
            payload = bytes(content) if content is not None else b""
            decoded = None
            # Real decode is an explicit opt-in (MDLS_REAL_DECODE=1), not
            # triggered by mere library presence: the fixtures carry
            # synthetic payloads, so installing Pillow must not flip a
            # passing pipeline into decode errors. Failed decodes fall
            # back to the deterministic fake rather than poisoning the
            # batch (quarantine-by-default, like the bronze JSON path).
            if _real_decode_enabled() and _HAS_PIL and modality == "image":
                decoded = _pil_decode(payload)  # pragma: no cover
            if decoded is not None:  # pragma: no cover
                w, h, c, mean = decoded
                decoder = "pil"
            else:
                w, h, c, mean = _fake_decode(payload)
                decoder = "fake-sha256"
            rows.append((int(media_id), str(modality), w, h, c, mean, decoder))
        yield pd.DataFrame(
            rows,
            columns=[
                "media_id", "modality", "width", "height",
                "n_channels", "mean_intensity", "decoder",
            ],
        )


def decode_media(df: DataFrame) -> DataFrame:
    """Distributed decode: no shuffle, one Arrow pass per partition."""
    return df.select("media_id", "modality", "content").mapInPandas(
        decode_media_batch, schema=DECODED_META
    )


FRAME_SAMPLE = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha256", T.StringType()),
    ]
)


def sample_frames_batch(n_frames: int):
    """mapInPandas kernel factory: pseudo frame-sampling (1 row → n rows).

    Demonstrates the expanding (1:N) batch shape video frame-sampling
    needs; the frame "content" is a content-derived hash stand-in for the
    same container-availability reason as ``_fake_decode``.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(content) if content is not None else b""
                for i in range(n_frames):
                    digest = hashlib.sha256(payload + i.to_bytes(4, "big")).hexdigest()
                    rows.append((int(media_id), i, digest))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_sha256"])

    return kernel


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    return df.select("media_id", "content").mapInPandas(
        sample_frames_batch(n_frames), schema=FRAME_SAMPLE
    )


# ---------------------------------------------------------------------------
# Resize (blob-in → blob-out) and audio windowing (metadata-driven 1:N)
# ---------------------------------------------------------------------------

RESIZED = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("src_width", T.IntegerType()),
        T.StructField("src_height", T.IntegerType()),
        T.StructField("decoder", T.StringType()),
    ]
)


def resize_media_batch(target_w: int, target_h: int):
    """mapInPandas kernel factory for the BLOB-IN → BLOB-OUT shape
    (decode → resize → re-encode). The fake path emits a deterministic
    content-derived payload whose LENGTH scales with the target area, so
    tests exercise the real memory property of this stage: output batch
    bytes ∝ rows × target area. The real branch (Pillow thumbnail +
    re-encode) is the same signature — swapping it changes no plan."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(content) if content is not None else b""
                out = None
                if _real_decode_enabled() and _HAS_PIL:  # pragma: no cover
                    out = _pil_resize(payload, target_w, target_h)
                if out is None:
                    sw, sh, _, _ = _fake_decode(payload)
                    seed = hashlib.sha256(
                        payload + f"{target_w}x{target_h}".encode()
                    ).digest()
                    body = (seed * ((target_w * target_h) // len(seed) + 1))[
                        : target_w * target_h
                    ]
                    out = (body, target_w, target_h, sw, sh, "fake-sha256")
                rows.append((int(media_id), *out))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "content", "width", "height",
                         "src_width", "src_height", "decoder"],
            )

    return kernel


def _pil_resize(payload, w, h):  # pragma: no cover - PIL absent here
    import io

    try:
        with Image.open(io.BytesIO(payload)) as img:
            sw, sh = img.size
            buf = io.BytesIO()
            img.resize((w, h)).save(buf, format="PNG")
        return buf.getvalue(), w, h, sw, sh, "pil"
    except Exception:
        return None


def resize_media(df: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Distributed resize — no shuffle, one Arrow pass per partition.

    Blob-out batches are the memory hazard of this stage: rows ×
    target-area bytes must fit the Arrow batch, so at 100 TB size
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` against the target
    dimensions (e.g. 224×224×3 ≈ 150 KB/row → a 10k-row default batch
    is 1.5 GB; hundreds, not thousands, of rows per batch here)."""
    return df.select("media_id", "content").mapInPandas(
        resize_media_batch(target_w, target_h), schema=RESIZED
    )


AUDIO_WINDOWS = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("window_sha256", T.StringType()),
    ]
)


def window_audio_batch(window_ms: int, stride_ms: int):
    """mapInPandas kernel factory: metadata-driven 1:N expansion for
    audio — overlapping fixed-length windows over each clip's duration
    (the ASR/audio-embedding preprocessing shape). Duration comes from
    the decode step in production; the fake derives a stable pseudo-
    duration (1-30 s) from the content hash, same convention as
    ``_fake_decode``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(content) if content is not None else b""
                h = hashlib.sha256(payload).digest()
                duration_ms = 1_000 + int.from_bytes(h[2:4], "big") % 29_000
                start = 0
                idx = 0
                while start < duration_ms:
                    end = min(start + window_ms, duration_ms)
                    digest = hashlib.sha256(
                        payload + start.to_bytes(8, "big")
                    ).hexdigest()
                    rows.append((int(media_id), idx, start, end, digest))
                    if end >= duration_ms:
                        break
                    start += stride_ms
                    idx += 1
            yield pd.DataFrame(
                rows,
                columns=["media_id", "window_idx", "start_ms", "end_ms",
                         "window_sha256"],
            )

    return kernel


def window_audio(
    df: DataFrame, window_ms: int = 5_000, stride_ms: int = 4_000
) -> DataFrame:
    """Overlapping audio windows, one row per window — embarrassingly
    parallel, no shuffle; window count per clip = ceil(duration/stride),
    bounded by clip length, never by corpus size."""
    return df.select("media_id", "content").mapInPandas(
        window_audio_batch(window_ms, stride_ms), schema=AUDIO_WINDOWS
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (dHash) image near-duplicate detection.
#
# The media analog of MinHash/LSH text dedup (queries/dedup.py:lsh_pairs):
# hash every image to a tiny bit fingerprint that is STABLE under
# re-encoding/resizing and CLOSE (small Hamming distance) for visually
# near-identical images, then find candidate pairs by banded bucketing —
# never all-pairs. dHash (difference hash) is the standard cheap
# perceptual hash: resample to a (ROWS x COLS) grayscale thumbnail, emit
# one bit per horizontally-adjacent pixel pair (right > left). 56 bits
# here (7x9 thumbnail -> 7x8 comparisons) so every shifted literal stays
# inside a signed int64 in any engine.
#
# Scale shape: the thumbnail+hash is a pure map (Arrow kernel for real
# decoders, codegen expressions for the deterministic fake); banding
# shuffles only (band, bval, phash, id) tuples; pair scoring happens
# within buckets only — identical plan family to the text LSH join, so
# the no-cartesian guarantee carries over.
# ---------------------------------------------------------------------------

PHASH_ROWS = 7
PHASH_COLS = 9
PHASH_NPIX = PHASH_ROWS * PHASH_COLS          # 63 thumbnail pixels
PHASH_BITS = PHASH_ROWS * (PHASH_COLS - 1)    # 56 dHash bits
# 8 x 7-bit bands: pigeonhole guarantees band collision for every pair
# below Hamming 8 — aligned with the dedup threshold (<= 8), so only
# the d == 8 boundary is probabilistic. Chosen by measurement (r11,
# SCALE.md 'pHash band recall'): at the <=8 threshold the r10 scheme
# (4 x 14) recalled 54% of ground-truth pairs at sf0.1 and 28% at the
# 10x clone; 7 x 8 reached 88-90%; 8 x 7 measures 98.6-99.0% at ~10x
# fewer band collisions than full-recall 14 x 4.
PHASH_BANDS = 8
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS   # 7


def payload_tokens(text_col) -> "F.Column":
    """The payload's whitespace tokens (empty strings dropped) — what
    :func:`fake_thumbnail_expr` reads and what a query's has-a-token
    guard counts."""
    return F.filter(
        F.split(F.trim(text_col), r"\s+"), lambda t: t != F.lit("")
    )


def fake_thumbnail_expr(text_col) -> "F.Column":
    """Deterministic fake 'decode + resample': a 63-pixel grid whose
    pixel i is the LENGTH of token (i mod n_tokens) of the payload text
    — the stand-in for an image decoder's 7x9 grayscale thumbnail (the
    codec libraries are absent in this container; the real path is
    :func:`thumbnail_pixels_batch`). Like a real thumbnail, the grid is
    CONTENT-CORRELATED: near-duplicate payloads produce mostly-equal
    grids, so dHash distances are small exactly when the payloads are
    near-identical — which is what makes the fake honest for exercising
    the banding/pair plan.

    Shape: the payload is tokenized ONCE per row into the lengths of its
    first 63 tokens, and the grid is those lengths repeated end to end
    and cut at 63 (``slice(flatten(array_repeat(lens, 63)), 1, 63)``),
    so pixel i = lens[i mod n] for n < 63 and lens[i] otherwise. No
    lambda captures an outer expression: Spark interprets higher-order
    functions and does not share subexpressions across a lambda, so a
    per-pixel lambda reading the token array re-splits the payload on
    every read.

    A payload with no tokens yields an EMPTY grid, which
    :func:`dhash_expr` cannot read (63 ``element_at`` probes): filter
    rows on ``size(payload_tokens(text)) > 0`` first. The kernel path
    (:func:`thumbnail_pixels_batch`) drops such rows."""
    lens = F.transform(
        F.slice(payload_tokens(text_col), 1, PHASH_NPIX),
        lambda t: F.length(t),
    )
    return F.slice(
        F.flatten(F.array_repeat(lens, PHASH_NPIX)), 1, PHASH_NPIX
    )


def dhash_expr(pixels) -> "F.Column":
    """56-bit dHash from a row-major 63-int thumbnail column: bit k is
    set when pixel (r, c+1) > pixel (r, c) for r = k//8, c = k%8.
    A constant expression tree of CASE/shift/or.

    When ``pixels`` is a column NAME (a ``str``), the tree is built as
    ONE SQL string handed to ``F.expr`` (r15): composing the same
    56-term chain with Column operators costs ~400 py4j round-trips,
    ~0.9 s of pure driver time PER BUILD (measured; the SQL parse is
    ~50 ms). The parsed expression is semantically identical — CASE
    WHEN/CAST/`|` are exactly what when/otherwise/bitwiseOR produce —
    so results and the physical plan are unchanged. The name is
    backtick-quoted in the generated SQL, so reserved words work; a
    Column object (e.g. an inlined thumbnail expression) takes the
    operator-composed path. (r16: the name is now REQUIRED for the SQL
    path — the previous ``pixels._jc.toString()`` introspection leaned
    on a py4j-private classic-JVM attribute, r15 ADVICE/verdict #9.)
    """
    if isinstance(pixels, str):
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", pixels):
            # dotted/qualified paths ("s.px") kept their pre-r16 F.col
            # nested-field resolution; backtick-quoting them would name
            # one literal column and fail analysis (r16 review)
            return dhash_expr(F.col(pixels))
        name = "`" + pixels.replace("`", "``") + "`"
        terms = []
        for k in range(PHASH_BITS):
            r, c = divmod(k, PHASH_COLS - 1)
            left = f"element_at({name}, {r * PHASH_COLS + c + 1})"   # 1-based
            right = f"element_at({name}, {r * PHASH_COLS + c + 2})"
            terms.append(
                f"CASE WHEN {right} > {left} THEN CAST({1 << k} AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            )
        expr = terms[0]
        for t in terms[1:]:
            expr = f"({expr} | {t})"
        return F.expr(expr)
    col = pixels
    h = F.lit(0).cast("long")
    for k in range(PHASH_BITS):
        r, c = divmod(k, PHASH_COLS - 1)
        left = F.element_at(col, r * PHASH_COLS + c + 1)   # 1-based
        right = F.element_at(col, r * PHASH_COLS + c + 2)
        h = h.bitwiseOR(
            F.when(right > left, F.lit(1 << k).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return h


def phash_band_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_dist: int = 8,
    n_bands: int = PHASH_BANDS,
    band_bits: int = PHASH_BAND_BITS,
) -> DataFrame:
    """Near-duplicate candidate pairs by banded Hamming bucketing:
    split the 56-bit hash into ``n_bands`` x ``band_bits`` bands; items
    sharing ANY band bucket become candidates (pigeonhole: any pair
    within Hamming distance < n_bands MUST collide on a band; larger
    radii are recalled probabilistically, the standard LSH trade-off);
    exact ``bit_count(xor)`` distance is scored WITHIN buckets only and
    filtered to ``max_dist``. The full hash rides the band rows (the
    lsh_pairs shape) so scoring needs no second scan. Returns
    (id_a, id_b, hamming) with id_a < id_b, deduped across bands.

    Default banding 8 x 7 guarantees collision below Hamming 8 —
    every pair under the threshold is found structurally, only the
    d == 8 boundary is probabilistic. Measured against the all-pairs
    ground truth (scripts/measure_phash_recall.py; SCALE.md r11
    'pHash band recall'): recall at <=8 is 99.0% on sf0.1 and 98.6%
    on the 10x clone, vs 54%/28% for the r10 4 x 14 scheme and 100%
    for 14 x 4 at ~10x the band-collision cost — the measurement that
    forced this default."""
    if n_bands * band_bits != PHASH_BITS:
        raise ValueError(
            f"banding {n_bands} x {band_bits} must cover {PHASH_BITS} bits"
        )
    mask = (1 << band_bits) - 1
    bands = df.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col(hash_col), b * band_bits)
                    .bitwiseAND(F.lit(mask)).alias("bval"),
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select("_id", "_h", "bb.band", "bb.bval")
    # shuffle-hash self-join (r15, measured): both sides of the band join
    # are the SAME banded subtree, so a shuffle join makes the two
    # Exchanges canonically identical and ReuseExchange evaluates the
    # decode→thumbnail→dhash→band pipeline ONCE (the broadcast plan AQE
    # picks at fixture scale evaluates it twice — plans/r15/
    # media_near_dup_bucketed_{before,after}.txt show the dup subtree
    # collapsing to a ReusedExchange). At corpus scale both sides are the
    # full dataset, so a shuffle join is the only option anyway and the
    # hash build avoids sort-merge's per-partition sorts.
    left = bands.alias("a").hint("shuffle_hash")
    right = bands.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h")))
            .cast("long")
            .alias("hamming"),
        )
        # filter BEFORE the dedup: hamming is functionally determined by
        # the pair, so the result is identical, but far pairs (the bulk
        # of band collisions) never enter the distinct's shuffle
        .filter(F.col("hamming") <= max_dist)
        .distinct()
    )


THUMBNAIL_PIXELS = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("pixels", T.ArrayType(T.IntegerType())),
        T.StructField("decoder", T.StringType()),
    ]
)


def thumbnail_pixels_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (media_id, content) -> 7x9 grayscale
    thumbnail pixel rows for :func:`dhash_expr`. Real path (PIL,
    env-gated MDLS_REAL_DECODE=1): decode + resize to (COLS x ROWS) +
    grayscale. Fake path: the same token-length grid as
    :func:`fake_thumbnail_expr` computed from the utf-8 payload, so the
    kernel and the pure-expression path agree bit-for-bit on text
    payloads (asserted in tests/test_multimodal.py)."""
    use_real = _HAS_PIL and _real_decode_enabled()
    for pdf in batches:
        rows = []
        for mid, payload in zip(pdf["media_id"], pdf["content"]):
            payload = bytes(payload)
            px = None
            if use_real:  # pragma: no cover - PIL absent here
                px = _pil_thumbnail(payload)
            if px is None:
                toks = [t for t in payload.decode("utf-8", "replace").split() if t]
                px = (
                    [len(toks[i % len(toks)]) for i in range(PHASH_NPIX)]
                    if toks else None
                )
                decoder = "fake"
            else:  # pragma: no cover
                decoder = "pil"
            if px is not None:
                rows.append((int(mid), px, decoder))
        yield pd.DataFrame(rows, columns=["media_id", "pixels", "decoder"])


def _pil_thumbnail(payload):  # pragma: no cover - PIL absent here
    """7x9 grayscale resample via Pillow; None on failure."""
    import io

    try:
        with Image.open(io.BytesIO(payload)) as img:
            small = img.convert("L").resize((PHASH_COLS, PHASH_ROWS))
            return list(small.getdata())
    except Exception:
        return None


def thumbnail_pixels(df: DataFrame) -> DataFrame:
    """Distributed thumbnail extraction over (media_id, content)."""
    return df.select("media_id", "content").mapInPandas(
        thumbnail_pixels_batch, schema=THUMBNAIL_PIXELS
    )
