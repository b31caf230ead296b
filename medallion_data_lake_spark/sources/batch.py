"""Batch readers for the bronze layer.

Replaces the reference's schema-inferring readers (S6,
reference ``sakila-data-lake/bronze_to_silver.py:59-67`` —
``spark.read.json`` with no schema, a double scan at any size;
SURVEY.md §4.3.3) with explicit-schema permissive reads: malformed
records land in ``_corrupt_record`` instead of failing the job or
silently skewing inference (SURVEY.md §7.4.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import BRONZE_PAYLOADS, envelope_schema

CORRUPT_COL = "_corrupt_record"


def read_bronze_json(
    spark: SparkSession, path: str, table: str
) -> DataFrame:
    """Read one bronze table's JSON-lines directory with its declared schema.

    Hive-style date partition dirs (``year=/month=/day=`` — reference
    ``kafka_to_bronze.py:51``) become partition columns automatically and
    prune on date predicates.
    """
    schema = envelope_schema(BRONZE_PAYLOADS[table]).add(
        T.StructField(CORRUPT_COL, T.StringType())
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, corrupt) — corrupt rows quarantined, never dropped silently.

    Spark refuses corrupt-column-only queries on raw JSON (the column is
    populated during parsing), so the split materializes through a cache
    of ``df``. The caller releases it with ``df.unpersist()`` once both
    parts are consumed: until then every read of the same path is served
    from the cache, which misses files added since.
    """
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, corrupt


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV directory scan with the same ingestion discipline as the JSON
    bronze path (vendor drops and DB exports arrive as CSV at least as
    often as JSON; the reference has no CSV story): EXPLICIT schema only
    (`inferSchema` reads the data twice and guesses types per-load —
    both banned at scale), PERMISSIVE mode with malformed lines captured
    into the shared ``_corrupt_record`` column, so :func:`split_corrupt`
    quarantines them identically for both formats. Multiline quoted
    fields are on (RFC 4180 records can span lines); Hive-style
    partition dirs prune like every other source."""
    # StructType.add mutates in place — never grow the CALLER's schema
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    reader = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("multiLine", "true")
        .option("escape", '"')
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """Parallel JDBC scan (S1 replacement — reference ``mysql_to_kafka.py:37-55``
    streams 1000-row batches single-threaded; Spark's JDBC source
    range-partitions on a numeric key and scans in parallel).
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound or 0))
            .option("upperBound", str(upper_bound or 1_000_000))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
