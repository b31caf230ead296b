"""Table maintenance: the file-layout jobs that keep a 100 TB lake fast.

Query speed at scale is mostly a file-layout property: a table that
accumulated millions of KB-sized files (streaming appends, over-parallel
writers, tiny CDC batches) spends its scan time opening footers instead
of reading column chunks, and a table whose files have no value
clustering cannot prune anything from min/max statistics. The reference
never needs these jobs (its gold tables are single pandas writes —
``gold_to_postgres.py``); at lake scale they are weekly hygiene:

- ``partition_manifest``   — what does the layout look like (files,
  bytes, small-file counts, per-partition skew)?
- ``compaction_plan``      — which partitions need rewriting?
- ``compact_table``        — rewrite them into target-sized files.
- ``write_range_sorted``   — range-cluster a table so min/max footer
  stats prune scans on the sort key (1-D complement of
  ``zorder.write_zordered``'s multi-dim clustering).

File listings go through Hadoop's FileSystem API (works for file://,
hdfs://, s3a:// alike) and are driver-side metadata operations — the
same listing Spark itself performs to plan a scan. On a real lakehouse
the manifest would come from the table format's own metadata (Delta/
Iceberg keep it transactionally); this module is the format-agnostic
fallback and the source of the numbers a compaction trigger needs.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # the classic HDFS-block target
SMALL_FILE_RATIO = 0.5  # a file under half the target counts as "small"


@dataclass(frozen=True)
class DataFileInfo:
    path: str
    partition: str  # "k=v/k2=v2" hive-dir prefix, "" when unpartitioned
    bytes: int


def list_data_files(spark: SparkSession, path: str) -> list[DataFileInfo]:
    """Recursive data-file listing with hive-partition extraction.

    Driver-side metadata pass via Hadoop FileSystem (the identical
    listing Spark's own FileIndex does before planning a scan — cost is
    one namenode/object-store LIST, not a data read).
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    root = fs.makeQualified(jpath).toString().rstrip("/")
    out: list[DataFileInfo] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        name = p.rsplit("/", 1)[-1]
        if name.startswith(("_", ".")):  # _SUCCESS, checksums, temp files
            continue
        rel = p[len(root) + 1 :] if p.startswith(root + "/") else name
        part = "/".join(seg for seg in rel.split("/")[:-1] if "=" in seg)
        out.append(DataFileInfo(path=p, partition=part, bytes=int(st.getLen())))
    return out


def partition_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Per-partition layout stats: the input to any compaction trigger.

    Returns one row per hive partition ("" for the unpartitioned root)
    with file count, total/avg/min/max bytes and the small-file count
    (under ``SMALL_FILE_RATIO`` x the default target). Built from the
    driver-side listing — fine up to millions of files; beyond that the
    listing itself should come from table-format metadata.
    """
    files = list_data_files(spark, path)
    rows = [(f.partition, f.path, f.bytes) for f in files]
    df = local_frame(spark, rows, "partition string, file string, bytes long")
    small = int(DEFAULT_TARGET_FILE_BYTES * SMALL_FILE_RATIO)
    return df.groupBy("partition").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").alias("total_bytes"),
        F.avg("bytes").cast("long").alias("avg_file_bytes"),
        F.min("bytes").alias("min_file_bytes"),
        F.max("bytes").alias("max_file_bytes"),
        F.sum((F.col("bytes") < small).cast("long")).alias("n_small_files"),
    )


def compaction_plan(
    manifest: DataFrame,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> DataFrame:
    """Partitions worth rewriting, with their target file counts.

    A partition needs compaction when it holds more files than its bytes
    justify (``n_files > ceil(total_bytes / target)``) — the definition
    used by Delta OPTIMIZE/Iceberg rewrite_data_files. Pure DataFrame
    math over the manifest; no data read.
    """
    target_files = F.greatest(
        F.lit(1), F.ceil(F.col("total_bytes") / F.lit(target_file_bytes))
    ).cast("long")
    return (
        manifest.withColumn("target_n_files", target_files)
        .filter(F.col("n_files") > F.col("target_n_files"))
        .select(
            "partition", "n_files", "total_bytes", "n_small_files",
            "target_n_files",
        )
    )


def compact_table(
    spark: SparkSession,
    src: str,
    dst: str,
    partition_by: tuple[str, ...] = (),
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    spread_by: str | None = None,
    mode: str = "overwrite",
) -> dict:
    """Rewrite ``src`` into ``dst`` with target-sized files.

    Sizing: on-disk bytes / row count gives a compressed bytes-per-row
    estimate (parquet->parquet keeps the ratio), from which
    ``maxRecordsPerFile`` enforces the per-file cap. Placement: a
    repartition on the partition columns routes each hive partition to
    one task (zero small files from task fan-out); when a partition is
    too big for one task, pass ``spread_by`` (any well-distributed
    column) — the writer then salts the shuffle with
    ``pmod(xxhash64(spread_by), k)`` where k = files needed by the
    LARGEST partition, keeping determinism under task retry (a rand()
    salt would not be retry-safe).

    Returns {"rows", "files_before", "files_after", "records_per_file"}.
    The rewrite goes to a separate path; swapping it in atomically is a
    table-format/metastore concern (Delta/Iceberg do it with a commit;
    on raw paths the caller renames).
    """
    files = list_data_files(spark, src)
    total_bytes = sum(f.bytes for f in files)
    df = spark.read.parquet(src)
    rows = df.count()  # columnar count — metadata-cheap for parquet
    bytes_per_row = max(total_bytes / max(rows, 1), 1e-6)
    records_per_file = max(int(target_file_bytes / bytes_per_row), 1)

    if partition_by:
        keys = [F.col(c) for c in partition_by]
        if spread_by is not None:
            per_part = (
                df.groupBy(*partition_by).count().agg(F.max("count")).first()[0]
            )
            k = math.ceil((per_part or 1) / records_per_file)
            if k > 1:
                keys.append(F.pmod(F.xxhash64(F.col(spread_by)), F.lit(k)))
        out = df.repartition(*keys)
        writer = out.write.partitionBy(*partition_by)
    else:
        n_out = max(math.ceil(total_bytes / target_file_bytes), 1)
        out = df.repartition(n_out)
        writer = out.write
    (
        writer.mode(mode)
        .option("maxRecordsPerFile", records_per_file)
        .parquet(dst)
    )
    return {
        "rows": rows,
        "files_before": len(files),
        "files_after": len(list_data_files(spark, dst)),
        "records_per_file": records_per_file,
    }


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: tuple[str, ...],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered write: global sort order across files, so footer
    min/max on the leading sort column prunes scans.

    ``repartitionByRange`` samples the sort key to pick balanced
    boundaries (one extra sampling pass, skew-proof splits), then an
    in-partition sort tightens every file's min/max box. A point or
    range predicate on the leading column then touches O(selectivity)
    files instead of all of them — the 1-D complement of z-order (use
    ``zorder.write_zordered`` when several independent columns need
    pruning at once).
    """
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )
