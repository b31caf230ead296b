"""Medallion pipeline orchestration: bronze → silver → gold in one driver.

The engine's equivalent of the reference's sequential orchestrator
(reference ``sakila-data-lake/orchestrator.py:61-190`` — four staged
scripts with status tracking) minus its anti-patterns: no schema
inference, no shell-out dependency checks. Counts are NOT free yet: per
silver table the bronze read is cached, the corrupt rows are counted in
a second pass over that cache, and the written silver is re-read for
its row count; every gold table is re-read to count it too.

Also carries the reference's runtime QA ideas forward as first-class
checks (SURVEY.md §5.1): per-stage record counts and the bronze-vs-silver
reconciliation query (A9, reference ``query_datalake.py:199-214``).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog
from .operators import gold
from .operators.cleaning import SAKILA_RULES, conform
from .queries._parity import dsum
from .session import local_frame
from .sources.batch import read_bronze_json, split_corrupt
from .sources.sinks import read_layer, write_partitioned, write_table


@dataclass
class StageResult:
    stage: str
    table: str
    rows: int
    seconds: float
    corrupt_rows: int = 0


@dataclass
class PipelineReport:
    stages: list[StageResult] = field(default_factory=list)

    def add(self, *a, **kw) -> None:
        self.stages.append(StageResult(*a, **kw))

    def summary(self) -> dict:
        return {
            "stages": [vars(s) for s in self.stages],
            "total_seconds": round(sum(s.seconds for s in self.stages), 2),
        }


def run_silver(
    spark: SparkSession,
    bronze_root: str,
    silver_root: str,
    tables: tuple[str, ...] = ("customer", "film", "payment", "rental", "inventory"),
    report: PipelineReport | None = None,
) -> PipelineReport:
    """Bronze JSON → conformed partitioned silver parquet (stage 3 of the
    reference pipeline, ``bronze_to_silver.py:138-148``).

    Tables with no bronze directory are skipped (inventory is optional:
    the reference extract ships it, ``mysql_to_kafka.py:34``, but a
    4-table bronze layer is still a valid input)."""
    report = report or PipelineReport()
    for table in tables:
        t0 = time.perf_counter()
        path = os.path.join(bronze_root, table)
        if not os.path.isdir(path):
            continue
        bronze = read_bronze_json(spark, path, table)
        clean, corrupt = split_corrupt(bronze)
        try:
            silver = conform(clean, SAKILA_RULES[table])
            write_partitioned(silver, os.path.join(silver_root, table))
            n_corrupt = corrupt.count()
        finally:
            # a cached bronze read left behind would answer every later
            # read of this path, hiding files added since
            bronze.unpersist()
        # one count per table, from the already-written data — not the
        # reference's recompute-the-whole-lineage double count
        rows = spark.read.parquet(os.path.join(silver_root, table)).count()
        report.add("silver", table, rows, round(time.perf_counter() - t0, 2),
                   corrupt_rows=n_corrupt)
    return report


def run_gold(
    spark: SparkSession,
    silver_root: str,
    gold_root: str,
    report: PipelineReport | None = None,
) -> PipelineReport:
    """Silver → the four gold analytics tables (``silver_to_gold.py:196-213``)."""
    report = report or PipelineReport()
    silver = {
        t: read_layer(spark, os.path.join(silver_root, t))
        for t in ("customer", "film", "payment", "rental")
    }
    # inventory is optional in the silver layer (the reference pipeline
    # ships it only when the MySQL extract includes it); load it from
    # disk when present so the film_performance builder is reachable —
    # the 4th gold table, silver_to_gold.py:196-213.
    inv_path = os.path.join(silver_root, "inventory")
    inventory = read_layer(spark, inv_path) if os.path.isdir(inv_path) else None
    builders = {
        "customer_summary": lambda: gold.customer_summary(
            silver["customer"], silver["payment"], silver["rental"]
        ),
        "daily_revenue": lambda: gold.daily_revenue(silver["payment"]),
        "rental_trends": lambda: gold.rental_trends(silver["rental"]),
    }
    if inventory is not None:
        builders["film_performance"] = lambda: gold.film_performance(
            silver["film"], inventory, silver["rental"], silver["payment"]
        )
    for name, build in builders.items():
        t0 = time.perf_counter()
        out = os.path.join(gold_root, name)
        write_table(build(), out)
        rows = spark.read.parquet(out).count()
        report.add("gold", name, rows, round(time.perf_counter() - t0, 2))
    return report


def reconcile(spark: SparkSession, bronze_root: str, silver_root: str, table: str,
              amount_col: str | None = None) -> DataFrame:
    """Cross-layer QA reconciliation (A9, reference ``query_datalake.py:199-214``):
    UNION ALL of per-layer counts (+ exact amount sums when given)."""
    raw = read_bronze_json(spark, os.path.join(bronze_root, table), table)
    bronze, _ = split_corrupt(raw)
    silver = read_layer(spark, os.path.join(silver_root, table))
    def agg(df: DataFrame, layer: str, amount_expr) -> DataFrame:
        cols = [F.lit(layer).alias("layer"), F.count(F.lit(1)).alias("record_count")]
        cols.append(
            F.round(dsum(amount_expr).cast("double"), 2).alias("total_amount")
            if amount_expr is not None
            else F.lit(None).cast("double").alias("total_amount")
        )
        return df.agg(*cols)
    b_amount = F.col(f"data.{amount_col}").try_cast("double") if amount_col else None
    s_amount = F.col(amount_col) if amount_col else None
    try:
        # computed now, not when the caller collects, so that the split's
        # cache can be released before returning
        b = agg(bronze, "bronze", b_amount)
        b = local_frame(spark, b.collect(), b.schema)
    finally:
        raw.unpersist()
    return b.unionByName(agg(silver, "silver", s_amount))


def run_pipeline(
    spark: SparkSession, bronze_root: str, silver_root: str, gold_root: str
) -> dict:
    """Full bronze→silver→gold run with a catalog over every layer."""
    report = PipelineReport()
    run_silver(spark, bronze_root, silver_root, report=report)
    run_gold(spark, silver_root, gold_root, report=report)
    cat = Catalog(spark, {"bronze": bronze_root, "silver": silver_root, "gold": gold_root})
    for s in report.stages:
        if s.stage in ("silver", "gold"):
            root = silver_root if s.stage == "silver" else gold_root
            if os.path.isdir(os.path.join(root, s.table)):
                cat.register_path(s.stage, s.table)
    return {"report": report.summary(), "tables": cat.list_tables()}
