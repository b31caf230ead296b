"""Layer-aware table catalog.

The reference registers every layer table as a ``{layer}_{table}`` temp view
and serves SQL over the session catalog (reference
``sakila-data-lake/query_datalake.py:32-94``). We keep that surface:

- ``register_star_views`` registers the driver's star-schema fixtures,
- ``Catalog`` registers medallion layers with the same naming convention,
- listing/describe helpers mirror the reference CLI (S12/S13).

Unlike the reference we never run an eager ``count()`` per registration
(reference ``query_datalake.py:51,66,81`` — a full job per table before any
query; SURVEY.md §4.3.2). What runs at registration is schema discovery:
a star fixture is read with its declared schema and starts no job, and
``Catalog.register_path`` lets Spark infer a stored table's schema, which
runs one footer-reading job per table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import STAR_SCHEMAS, STAR_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def star_path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def _events_ts_type(path: str) -> T.DataType:
    """The type Spark's parquet inference gives ``events.ts``, read from
    the file's footer on the driver, so no Spark job runs for it."""
    import pyarrow.parquet as pq

    ts = pq.read_schema(path).field("ts").type
    if ts.unit == "ns":
        return T.LongType()  # under nanosAsLong, tz-aware or not
    return T.TimestampType() if ts.tz is not None else T.TimestampNTZType()


def load_star_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one fixture table with its declared schema (no inference, so
    no Spark job runs).

    Parquet carries its own schema; we still pass the expected one so a
    fixture drift fails loudly at analysis time instead of deep in a query.

    ``events.ts`` has shipped in two fixture generations: TIMESTAMP(MICROS)
    (a native Spark type) and TIMESTAMP(NANOS), which Spark has no type
    for — under ``nanosAsLong`` the latter surfaces as raw long nanos. We
    declare ``ts`` as the type the file's footer gives it and convert
    only when the nanos form appears, matching DuckDB's own ns→µs read
    truncation.
    """
    path = star_path(sf_dir, table)
    if table != "events":
        return spark.read.schema(STAR_SCHEMAS[table]).parquet(path)
    ts_type = _events_ts_type(path)
    raw = spark.read.schema(T.StructType([
        T.StructField("ts", ts_type) if f.name == "ts" else f
        for f in STAR_SCHEMAS[table].fields
    ])).parquet(path)
    if isinstance(ts_type, T.LongType):
        # TIMESTAMP(NANOS) generation: integer `div`, not `/` —
        # epoch-nanos (~1.7e18) overflow double's 53-bit mantissa,
        # so a float division would corrupt microseconds.
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def load_star_table_spread(
    spark: SparkSession, sf_dir: str, table: str, key: str | None = None
) -> DataFrame:
    """Load a table and spread it across the session's full parallelism.

    Small fixture files arrive as a single input split, which would run
    expression-heavy per-row operators (hashing, shingling, vector math)
    on one core. A keyed round-robin repartition costs one tiny shuffle
    and buys full-width compute. At production scale inputs have many
    splits and this also evens out file-size skew before CPU-bound map
    stages — the standard pattern for compute-heavy scans.
    """
    df = load_star_table(spark, sf_dir, table)
    n = spark.sparkContext.defaultParallelism
    return df.repartition(n, F.col(key)) if key else df.repartition(n)


class StarTables:
    """Fixture tables for one query build: ``t["orders"]`` loads a table
    on first use and returns that same DataFrame on every later use, so
    a builder that reads a table twice plans over one relation."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._loaded: dict[str, DataFrame] = {}

    def __getitem__(self, table: str) -> DataFrame:
        if table not in self._loaded:
            self._loaded[table] = load_star_table(self._spark, self._sf_dir, table)
        return self._loaded[table]


def register_star_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a plain-name temp view (the CLI
    surface, like the reference's catalog)."""
    for t in STAR_TABLES:
        load_star_table(spark, sf_dir, t).createOrReplaceTempView(t)


class Catalog:
    """Medallion layer registry: ``bronze_* / silver_* / gold_*`` views.

    Mirrors the reference's catalog surface (S11–S13, reference
    ``query_datalake.py:96-137``) without its eager counts. Layer roots are
    directories of Parquet (Delta-ready) tables.
    """

    LAYERS = ("bronze", "silver", "gold")

    def __init__(self, spark: SparkSession, roots: dict[str, str]):
        self.spark = spark
        self.roots = roots
        self._registered: dict[str, str] = {}  # view -> path

    def register(self, layer: str, table: str, df: DataFrame) -> str:
        name = f"{layer}_{table}"
        df.createOrReplaceTempView(name)
        self._registered[name] = ""
        return name

    def register_path(self, layer: str, table: str, fmt: str = "parquet") -> str:
        """Register a stored table by path. Spark infers its schema when
        the view is made: for parquet (every caller) that is one job that
        reads the footers, not the rows."""
        path = os.path.join(self.roots[layer], table)
        df = self.spark.read.format(fmt).load(path)
        name = f"{layer}_{table}"
        df.createOrReplaceTempView(name)
        self._registered[name] = path
        return name

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def list_tables(self) -> dict[str, list[str]]:
        """Tables grouped by layer prefix (reference ``query_datalake.py:96-120``)."""
        grouped: dict[str, list[str]] = {layer: [] for layer in self.LAYERS}
        grouped["other"] = []
        for t in self.spark.catalog.listTables():
            for layer in self.LAYERS:
                if t.name.startswith(f"{layer}_"):
                    grouped[layer].append(t.name)
                    break
            else:
                grouped["other"].append(t.name)
        return grouped

    def describe_table(self, name: str, sample_rows: int = 5) -> dict:
        """Schema + sample, count deferred (reference ``query_datalake.py:122-137``).

        The reference runs ``count()`` + ``show()`` eagerly; we return the
        schema cheaply and take a bounded sample in one job.
        """
        df = self.spark.table(name)
        return {
            "name": name,
            "schema": df.schema.jsonValue(),
            "sample": [r.asDict() for r in df.limit(sample_rows).collect()],
        }
