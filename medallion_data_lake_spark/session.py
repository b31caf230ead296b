"""SparkSession factory.

The reference leaves every optimization to Catalyst (SURVEY.md §4.1: zero
custom plan rewrites, no hints, no cache/repartition calls). We keep that
philosophy — declare plans, let Catalyst/AQE choose physical strategies —
but pin the configs that matter at 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- Arrow for any pandas interchange (the only Python-side hops we allow),
  and driver-held rows enter Spark as JVM-local frames (:func:`local_frame`)
  so no Python worker starts where no Python code runs;
- UTC session timezone so timestamp semantics are reproducible across
  engines (the DuckDB oracle is naive-UTC as well);
- no Python call-site capture per Column call
  (``spark.python.sql.dataFrameDebugging.enabled=false``): it costs ~7
  py4j round trips per call while a query is built, and only adds the
  Python call site to a runtime error's message;
- shuffle partitions sized for the local harness; at cluster scale AQE
  coalesces from a high initial partition count instead.

Local mode (`local[N]`) is the test harness only; nothing here assumes a
single JVM — all parallelism is expressed through partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Tuned for the local test harness (32 cores / 128 GiB). On a real cluster
# these come from spark-submit / cluster defaults instead; see SCALE.md.
_LOCAL_DEFAULTS: dict[str, str] = {
    # --- Adaptive execution: the 100 TB workhorse -------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE demote sort-merge to broadcast when runtime stats allow it.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # --- Shuffle sizing ---------------------------------------------------
    # Locally: one partition per core. On a cluster: set high (e.g. 2000+)
    # and let AQE coalesce; never rely on the default 200.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # --- Scan sizing ------------------------------------------------------
    "spark.sql.files.maxPartitionBytes": "128m",
    # --- Optimizer rule exclusions (r15, measured) -------------------------
    # InferFiltersFromGenerate adds `size(arr) > 0 AND isnotnull(arr)`
    # above an explode of a computed array; filter pushdown then drags
    # that predicate — with the FULL generator expression inlined (the
    # tokenize→shingle→md5 passes here) — below the spread repartition
    # into the single-split scan, so the heaviest map work runs TWICE,
    # once of those on one core. Fires on the
    # explode(array_distinct(<md5-shingle>)) shape: a registry-wide
    # fingerprint sweep shows exactly doc_ngram_novelty,
    # decontaminate_ngram_overlap and minhash_lsh_ml_candidates change
    # plan under the exclusion; in-session conf-toggle A/B measured
    # 0.77×/0.52× minutes on the first two with results asserted equal
    # (OPTIMIZATION_r15.md §1). Results are byte-identical by
    # construction — the rule is a pure optimization that only pays off
    # when the generator input is cheap to re-evaluate, which these are
    # not. At cluster scale the effect is the same: the inferred filter
    # doubles the shingle/hash CPU of the map stage. Guide §4.4 is the
    # UDF face of the same duplicate-the-expensive-expression failure.
    # GUARD (r16): the exclusion is SESSION-WIDE, so a future query that
    # explodes a STORED array column would silently lose a genuinely
    # useful inferred pruning filter. tests/test_plans.py::
    # test_no_registry_query_explodes_a_stored_array fails on any such
    # query — re-scope the exclusion (per-query conf) or allowlist there
    # with a written justification before shipping one.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # --- Generated-code cache (measured) -----------------------------------
    # Spark keys compiled whole-stage/expression classes by source text in
    # one JVM-wide LRU of `maxEntries` (default 100). One cold noop sweep
    # of the full registry (load_all_extra, 108 queries) compiles 950
    # distinct classes at sf0.001 and 958 at sf0.01; even the 11-query
    # benchmark sweep needs ~107. Cycling through more classes than the
    # cache holds makes LRU evict each one before its reuse, so at the
    # default every repeat of a query pays Janino compilation, class
    # loading and fresh JIT again. 2000 is ~2x the measured working set: a warm repeat
    # compiles nothing (tests/test_session.py pins it).
    "spark.sql.codegen.cache.maxEntries": "2000",
    # --- Python interchange: Arrow everywhere -----------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- Determinism / parity --------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # Parquet timestamps without tz annotation stay wall-clock (NTZ), the
    # same semantics DuckDB applies — required for oracle parity.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Spark has no nanosecond timestamp type; TIMESTAMP(NANOS) parquet
    # columns (the events fixture) are read as raw long nanos and converted
    # to microsecond NTZ in the loader (catalog.load_star_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- Driver-side build cost (measured) ----------------------------------
    # With this on (pyspark's default) every `functions` call and Column
    # method captures its Python call site: it looks up the active session,
    # reads `spark.sql.stackTracesInDataFrameContext`, walks the stack and
    # sets and clears `PySparkCurrentOrigin` in the JVM — ~7 more py4j
    # round trips. `(F.col("a") + F.lit(1)).alias("b")` sends 38 commands
    # with it and 8 without, an 11-query perfbench sweep ~6,700 and
    # ~3,400, and the sweep's build phase takes ~18% less CPU without it
    # (4-vCPU VM, in-session A/B). Given up: the "DataFrame context" of a
    # runtime error raised by a DataFrame-API expression names the JVM
    # method and frame (`divide`, `NativeMethodAccessorImpl.invoke0`)
    # instead of the Python one (`__truediv__`, `job.py:14`); its error
    # class, message, SQL-text context and the action's Python traceback
    # stay. pyspark reads the setting once per process, on the first
    # Column call with an active session, so it only takes effect through
    # the builder (`extra_conf` turns it back on), never through a later
    # `spark.conf.set`.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # --- Noise control ----------------------------------------------------
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "medallion-data-lake-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master=None`` honors an existing session / spark-submit; tests pass
    ``local[N]`` explicitly. ``extra_conf`` wins over the defaults.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf = dict(_LOCAL_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """Driver-held ``rows`` (tuples or Rows in schema order, possibly
    none) as a DataFrame of exactly ``schema`` (a StructType or a DDL
    string; nullability kept as declared).

    ``createDataFrame(<python list>)`` plans a Python RDD: its first
    action forks ``pyspark.daemon`` plus a worker per task slot (on a
    cluster: on every executor), and they stay up for the session
    although no Python code ever runs on the rows. Handing Spark a
    ``pyarrow.Table`` instead makes the JVM read it into a
    ``LocalRelation`` (``LocalTableScan``), whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says — the frame is
    JVM-local and starts no Python process. Every driver-held frame in
    the package goes through here (tests/test_local_frame.py guards it)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
