"""Banded MinHash LSH: the one definition of the band geometry, the band
key, the agreement estimate and the band self-join.

Band keys are persisted as strings — the benchmark-decon ``bands``
table (``curation_pipeline.materialize_benchmark_decon``) and the
streaming band ledger (``streaming/corpus``) — and later probed with keys
built live. Persisted and live keys must collide exactly: a key that
differs by one character never joins, so fuzzy decontamination and
near-dup admission would silently pass everything. Every producer
therefore builds its keys with :func:`band_keys`, and the sidecars
record :data:`GEOMETRY` so a table built under other constants is
refused.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_MINHASH = 8        # minhash functions
N_BANDS = 4          # LSH bands
ROWS_PER_BAND = N_MINHASH // N_BANDS
GEOMETRY = {"n_minhash": N_MINHASH, "n_bands": N_BANDS,
            "rows_per_band": ROWS_PER_BAND}


def mh_cols(prefix: str = "") -> list[Column]:
    """The signature columns ``{prefix}mh0 .. {prefix}mh{N_MINHASH-1}``."""
    return [F.col(f"{prefix}mh{j}") for j in range(N_MINHASH)]


def band_keys(mh: Sequence[Column]) -> Column:
    """``array<struct<band, bkey>>``, one element per band: the band
    number and its ROWS_PER_BAND signature components joined by ":".
    ``concat_ws`` skips NULLs, so a NULL signature (NULL text) keys as
    ``""`` in every band."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(":", *[mh[b * ROWS_PER_BAND + r].cast("string")
                               for r in range(ROWS_PER_BAND)]).alias("bkey"),
        )
        for b in range(N_BANDS)
    ])


def est_jaccard(a: Sequence[Column], b: Sequence[Column]) -> Column:
    """Estimated Jaccard: the fraction of agreeing signature components."""
    return sum(
        F.when(x == y, 1).otherwise(0) for x, y in zip(a, b)
    ) / float(N_MINHASH)


def band_self_join(sigs: DataFrame, mh: Sequence[Column],
                   *carry: str) -> DataFrame:
    """Doc pairs of a ``doc_id``-keyed signature frame whose band keys
    collide, ``a.doc_id < b.doc_id``: one row per colliding band, so a
    pair colliding in several bands repeats. ``mh`` are the signature
    components; each side carries the ``carry`` columns. A doc whose
    signature is NULL (NULL text; all components come from one fold)
    pairs with nothing: its ``""`` keys would pair every such doc."""
    bands = sigs.filter(mh[0].isNotNull()).select(
        "doc_id", *carry, F.explode(band_keys(mh)).alias("bk"),
    ).select("doc_id", *carry, "bk.band", "bk.bkey")
    # shuffle-hash self-join (r15): identical banded subtrees on both
    # sides — forcing the shuffle join makes the two Exchanges
    # canonically equal, so ReuseExchange computes the signature fold
    # once instead of twice (the broadcast plan duplicates it; at corpus
    # scale the join must shuffle anyway). Same rationale as
    # operators/multimodal.phash_band_pairs.
    a, b = bands.alias("a").hint("shuffle_hash"), bands.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
