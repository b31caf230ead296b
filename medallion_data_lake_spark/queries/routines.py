"""Stored-routine shapes from the reference (SURVEY.md §2.10).

The reference ships five stored routines; round 1 covered
``get_customer_balance`` (-> customer_open_balance) and
``rewards_report`` (-> big_spenders_having). This module expresses the
remaining three — ``film_in_stock`` / ``film_not_in_stock``
(/root/reference/source/sakila-db/sakila-schema.sql:591-627, via the
``inventory_in_stock`` predicate :650-678) and
``inventory_held_by_customer`` (:633-645) — on the star schema.

Analog mapping: a lineitem is a rental unit of a (part, supplier)
"inventory" pair; ``l_linestatus = 'O'`` means the unit is out with a
customer (the rental row with ``return_date IS NULL``), ``'F'`` means
returned.  Both routines become single declarative plans: a conditional
aggregation (no per-row procedure calls — the reference evaluates
``inventory_in_stock()`` once per row, an O(n) correlated-subquery
pattern that Spark replaces with one shuffle), and a null-producing
dim join mirroring the routine's "return NULL when nobody holds it"
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import StarTables
from . import query

PART_STRIDE = 100  # l_partkey % stride == 0 -> deterministic "probe" subset


@query(
    "part_stock_status",
    oracle=f"""
    SELECT l_partkey, l_suppkey,
           CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS in_stock_count,
           CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS held_out_count,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') = 0              AS all_in_stock
    FROM lineitem
    WHERE l_partkey % {PART_STRIDE} = 0
    GROUP BY l_partkey, l_suppkey
    """,
    doc="film_in_stock / film_not_in_stock shape (sakila-schema.sql:591-627): "
        "per (part, supplier) 'store', how many units are in stock vs "
        "checked out, plus the inventory_in_stock boolean (:650-678 — "
        "in stock iff no open rental). The reference runs the predicate "
        "as a per-row function call; here it is one conditional "
        "aggregation — a single shuffle on the (part, supplier) key, "
        "with the probe-subset filter pushed to the scan.",
    extra=True,  # r8 rotation: stored-routine family stays driver-gated
    # via customer_open_balance (get_customer_balance shape)
)
def part_stock_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = StarTables(spark, sf_dir)["lineitem"]
    is_out = F.col("l_linestatus") == "O"
    return (
        l.filter(F.col("l_partkey") % PART_STRIDE == 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.count(F.when(~is_out, 1)).alias("in_stock_count"),
            F.count(F.when(is_out, 1)).alias("held_out_count"),
            (F.count(F.when(is_out, 1)) == 0).alias("all_in_stock"),
        )
    )


@query(
    "parts_held_by_customer",
    oracle=f"""
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
           CASE WHEN l.l_linestatus = 'O' THEN o.o_custkey END AS held_by_custkey,
           c.c_name AS held_by_name
    FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      LEFT JOIN customer c
        ON c.c_custkey = CASE WHEN l.l_linestatus = 'O' THEN o.o_custkey END
    WHERE l.l_partkey % {PART_STRIDE} = 0
    """,
    doc="inventory_held_by_customer shape (sakila-schema.sql:633-645): for "
        "each unit of the probe parts, the customer currently holding it, "
        "NULL when it is back in stock (the routine's NOT-FOUND -> NULL "
        "contract). Expressed as a null-keyed left join — open units "
        "resolve their holder, returned units join nothing — instead of "
        "one correlated lookup per inventory row.",
    # re-gated r12 (out since r4 — oldest-first rotation); becomes the
    # §2.10 routines driver row while customer_open_balance rotates out
)
def parts_held_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    l = t["lineitem"].filter(F.col("l_partkey") % PART_STRIDE == 0)
    held_key = F.when(F.col("l_linestatus") == "O", F.col("o_custkey"))
    with_holder = (
        l.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            held_key.alias("held_by_custkey"),
        )
    )
    c = t["customer"].select("c_custkey", F.col("c_name").alias("held_by_name"))
    return (
        with_holder.join(
            c, with_holder.held_by_custkey == c.c_custkey, "left"
        )
        .drop("c_custkey")
    )
