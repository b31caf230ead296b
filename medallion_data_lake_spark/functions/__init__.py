"""Shared column expressions.

Everything here is built from ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen friendly. No Python UDFs: the reference pipeline
itself uses zero UDFs (SURVEY.md §2.10) and the hot path of our engine
keeps that property. Python code runs on rows only where it is the
operator: the pandas UDFs of operators/text.py and operators/embeddings.py,
the mapInPandas kernels of operators/multimodal.py, applyInPandasWithState
in streaming/stateful.py, and the ``medallion_lake`` Python data source
(sources/lakehouse_source.py). The rule: Python workers start only where
Python code runs. Driver-held rows (manifests, deletion-vector positions,
centroids, tombstone ids, empty frames) enter Spark through
``session.local_frame`` as JVM-local frames, never as a Python RDD
(tests/test_local_frame.py guards it).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def value_tier(total: Column, bounds: tuple[float, float, float]) -> Column:
    """Customer value tiering CASE ladder.

    Shape of the reference's Premium/Gold/Silver/Bronze ladder (reference
    ``sakila-data-lake/silver_to_gold.py:69-74``), thresholds parameterized
    because our fixture monies are at a different scale.
    """
    premium, gold, silver = bounds
    return (
        F.when(total >= premium, "Premium")
        .when(total >= gold, "Gold")
        .when(total >= silver, "Silver")
        .otherwise("Bronze")
    )


def group_concat(col: Column | str, sep: str = ", ") -> Column:
    """Order-stable GROUP_CONCAT.

    MySQL's ``GROUP_CONCAT(x ORDER BY x)`` (reference
    ``source/sakila-db/sakila-schema.sql:365,379-381``). Plain
    ``collect_list`` order is nondeterministic under parallelism, so we
    sort the collected array before joining (SURVEY.md §7.4.2).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(F.collect_list(c)), sep)


# ---------------------------------------------------------------------------
# Vector math on ArrayType(Float) embeddings — built-in HOFs, no UDF.
# F.aggregate folds left-to-right, giving a deterministic summation order
# that the DuckDB oracle reproduces.
# ---------------------------------------------------------------------------

def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in double."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with zero-norm guard."""
    n = l2_norm(a) * l2_norm(b)
    return F.when(n != 0, dot(a, b) / n).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Cross-engine-stable hashing. Spark's hash()/xxhash64 and DuckDB's hash()
# use different algorithms, so deterministic dedup/minhash operators hash
# through md5 hex (identical in both engines) and take the first 15 hex
# digits as a 60-bit integer (fits BIGINT exactly in both).
# ---------------------------------------------------------------------------

def md5_int(col: Column) -> Column:
    """First 60 bits of md5(col) as a non-negative BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Skew mitigation (SURVEY.md §4.2): AQE's skew-join split handles most
# cases at runtime; explicit salting remains the tool for pathological
# hot keys (one key >> one executor's memory) or for aggregations.
# ---------------------------------------------------------------------------

def salted_join(
    skewed,
    other,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
    broadcast_other: bool = True,
):
    """Equi-join robust to hot keys: salt the skewed side, replicate the
    other side across all salt values.

    The skewed side gets a deterministic salt in [0, n_salts) derived
    from a high-cardinality spread of its rows (hash of all columns), so
    one hot key fans out across n_salts reducers. Result equals a plain
    ``skewed.join(other, key, how)`` for the SUPPORTED join types only:
    inner / left / left_semi / left_anti (and cross, which ignores the
    key). Right and full joins are rejected: ``other`` is exploded
    n_salts×, so every unmatched ``other`` row would survive once per
    salt copy and the result would NOT equal the plain join.

    SIZE CONTRACT (default ``broadcast_other=True``): ``other`` must be
    dim-sized — it is replicated n_salts× and BROADCAST, so the exploded
    copy must fit in executor memory (n_salts × |other| rows). Passing a
    fact table here is a misuse; the broadcast makes that fail loudly
    (driver OOM / broadcast threshold error) instead of silently
    exploding a shuffle.

    ``broadcast_other=False`` is the FACT⨝FACT escape hatch: both sides
    shuffle on (key, salt), so the hot key spreads over n_salts reducers
    while the other side pays an n_salts× replication through the
    shuffle. Reach for it only when AQE's skew-join split cannot fire
    (measured r12, SCALE.md: AQE splits only sort-merge joins whose hot
    partition exceeds skewedPartitionThresholdInBytes AND the join is
    not already broadcast; within its reach AQE wins because it splits
    just the hot partition instead of replicating the whole other side).

    Salt uses ``pmod`` rather than ``abs(hash) % n``: Spark's non-ANSI
    ``abs(Integer.MIN_VALUE)`` overflows back to a negative, and ``%``
    preserves sign, so a row hashing to MIN_VALUE would get a negative
    salt and silently drop from the join.
    """
    from pyspark.sql import functions as _F

    _ALLOWED_HOW = {
        "inner", "cross",
        "left", "leftouter", "left_outer",
        "semi", "leftsemi", "left_semi",
        "anti", "leftanti", "left_anti",
    }
    norm = how.lower().replace(" ", "")
    if norm not in _ALLOWED_HOW:
        raise ValueError(
            f"salted_join does not support how={how!r}: the non-skewed "
            "side is replicated n_salts times, so right/full joins would "
            "emit each unmatched right row once per salt copy. Supported: "
            "inner, left, left_semi, left_anti."
        )
    salt = _F.pmod(_F.hash(*[_F.col(c) for c in skewed.columns]), _F.lit(n_salts))
    left = skewed.withColumn("_salt", salt)
    right = other.withColumn(
        "_salt", _F.explode(_F.array(*[_F.lit(i) for i in range(n_salts)]))
    )
    if broadcast_other:
        right = _F.broadcast(right)
    return left.join(right, [key, "_salt"], how).drop("_salt")
