"""Core relational queries: scans, filters, joins, aggregations, windows.

Each query re-expresses a reference capability (SURVEY.md §2 operator IDs
in the ``doc`` strings) on the driver's star schema. Plans are declarative
DataFrame chains — Catalyst provides pushdown/pruning/join selection; the
only physical hints we give are ``broadcast()`` on bounded dimension
tables, which stay broadcast-able at any fact-table scale.

All money aggregates use the exact decimal-sum pattern from ``_parity``
(order-independent across engines and partitionings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import StarTables
from ..functions import group_concat, value_tier
from . import query
from ._parity import (
    dsum,
    money_avg,
    money_sum,
    sql_dsum,
    sql_money_avg,
    sql_money_sum,
    sql_stable_round,
    stable_round,
)

# Tier thresholds for per-customer lifetime spend (fixture money scale:
# per-customer order totals average ~2.5M — see BASELINE.md fixtures).
TIER_BOUNDS = (4_000_000.0, 2_500_000.0, 1_000_000.0)

_SQL_RETURNED = sql_stable_round(
    "CAST(COALESCE(SUM(CAST(CASE WHEN l_returnflag = 'R' "
    "THEN l_extendedprice END AS DECIMAL(18,6))), 0) AS DOUBLE)", 2
)

_SQL_GROWTH = sql_stable_round(
    "(total_revenue - LAG(total_revenue) OVER (ORDER BY order_date)) "
    "/ LAG(total_revenue) OVER (ORDER BY order_date) * 100", 2
)


# ---------------------------------------------------------------------------
# Aggregation over a filtered scan (reference A1/P8; TPC-H Q1 shape)
# ---------------------------------------------------------------------------

@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_money_sum("l_quantity")}                            AS sum_qty,
           {sql_money_sum("l_extendedprice")}                       AS sum_base_price,
           {sql_money_sum("l_extendedprice * (1 - l_discount)")}    AS sum_disc_price,
           {sql_money_avg("l_quantity", 4)}                         AS avg_qty,
           {sql_money_avg("l_extendedprice", 4)}                    AS avg_price,
           {sql_money_avg("l_discount", 4)}                         AS avg_disc,
           COUNT(*)                                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1 multi-metric hash agg + P8 range predicate (pushed to parquet). "
        "Reference shape: silver_to_gold.py:56-68 group-agg.",
    extra=True,  # r10 rotation (gated r1-r9, green): A1 multi-metric agg stays
    # gated via product_profit_by_nation_year; P8 range pushdown via
    # brand_small_qty_revenue + discount_revenue_delta (first gated r10)
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = StarTables(spark, sf_dir)["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_avg("l_quantity", 4).alias("avg_qty"),
            money_avg("l_extendedprice", 4).alias("avg_price"),
            money_avg("l_discount", 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Flagship: customer lifetime-value summary (reference gold customer_summary,
# silver_to_gold.py:53-77 — J1 left join, A1 multi-agg, P5 tier CASE)
# ---------------------------------------------------------------------------

@query(
    "customer_value_tiers",
    oracle=f"""
    WITH agg AS (
      SELECT c.c_custkey, c.c_name, c.c_mktsegment,
             COUNT(o.o_orderkey)                  AS total_orders,
             {sql_money_sum("o.o_totalprice")}    AS total_spent,
             {sql_money_avg("o.o_totalprice")}    AS avg_order_value,
             MAX(o.o_orderdate)                   AS last_order_date
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
    )
    SELECT *,
           CASE WHEN total_spent >= {TIER_BOUNDS[0]} THEN 'Premium'
                WHEN total_spent >= {TIER_BOUNDS[1]} THEN 'Gold'
                WHEN total_spent >= {TIER_BOUNDS[2]} THEN 'Silver'
                ELSE 'Bronze' END AS customer_value_tier
    FROM agg
    """,
    doc="J1 left-outer equi-join + A1 count/sum/avg/max + P5 tier ladder "
        "(reference silver_to_gold.py:53-77). Tier computed on the exact "
        "rounded sum so both engines see identical boundary values.",
)
def customer_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    # Aggregate the fact FIRST on the int key (o_custkey is the grouping
    # key — c_name/c_mktsegment are functionally dependent on the
    # customer PK), then left-join the dim (r16, guide §2.3: aggregate
    # before you shuffle). The join-then-group form aggregated the WIDE
    # joined stream — every order row carried c_name + c_mktsegment
    # strings through the partial aggregate and the exchange. Here the
    # exchange ships one narrow partial-agg row per customer and the
    # strings never enter an aggregate. Orderless customers: the left
    # join yields NULL aggregates exactly like count/sum/avg/max over
    # the old form's single unmatched row — count coalesces to 0, the
    # rest stay NULL (tier: NULL >= bound is NULL ⇒ Bronze, unchanged).
    per_cust = t["orders"].groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("total_orders"),
        money_sum("o_totalprice").alias("total_spent"),
        money_avg("o_totalprice").alias("avg_order_value"),
        F.max("o_orderdate").alias("last_order_date"),
    )
    agg = (
        t["customer"]
        .join(per_cust, t["customer"].c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.coalesce(F.col("total_orders"), F.lit(0).cast("long")).alias(
                "total_orders"
            ),
            "total_spent",
            "avg_order_value",
            "last_order_date",
        )
    )
    return agg.withColumn(
        "customer_value_tier", value_tier(F.col("total_spent"), TIER_BOUNDS)
    )


# ---------------------------------------------------------------------------
# Top-K by aggregate (reference O2 TakeOrderedAndProject; A5)
# ---------------------------------------------------------------------------

@query(
    "top_revenue_parts",
    oracle=f"""
    SELECT p.p_partkey, p.p_name,
           {sql_money_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           COUNT(*)                                                  AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_name
    ORDER BY revenue DESC, p_partkey
    LIMIT 10
    """,
    doc="O2 top-K without full sort (TakeOrderedAndProject) over J3 fact-dim "
        "join; part is broadcast (bounded dim). The sort key is the exact "
        "rounded revenue with a p_partkey tiebreak — deterministic across "
        "engines and partitionings. Reference shape: "
        "query_datalake.py:219-228 top-10 films.",
    extra=True,  # r9 rotation (gated r1-r8, green): top-K family stays
    # driver-gated via large_volume_orders + suppliers_kept_waiting
)
def top_revenue_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    # Aggregate the fact FIRST on the int key (600k rows -> ~#parts,
    # partial agg map-side), then join the small aggregate to the dim —
    # never carry p_name strings through the hash aggregate. p_partkey
    # is the part PK, so grouping before/after the join is equivalent.
    rev = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return (
        rev.join(
            F.broadcast(t["part"].select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("p_partkey", "p_name", "revenue", "n_lines")
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Multi-way dim chain join (reference J3 8-way view joins; TPC-H Q5 shape)
# ---------------------------------------------------------------------------

@query(
    "regional_revenue",
    oracle=f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           {sql_money_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           COUNT(DISTINCT o.o_orderkey)                              AS n_orders
    FROM region r
      JOIN nation n   ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY r.r_name, n.n_name
    """,
    doc="J3 multi-way inner equi-join chain (reference sales_by_store view, "
        "sakila-schema.sql:403-418) + A2 count distinct. region/nation "
        "broadcast; the orders filter prunes before the big join (Catalyst "
        "pushdown). At 100 TB the only shuffle is lineitem⨝orders on "
        "orderkey; AQE handles skew.",
    extra=True,  # r10 rotation (gated r1-r9, green): inner join chains stay gated
    # via two_nation_trade_volume; count-distinct via weekly_retention_cohorts
    # + part_supplier_counts (first gated r10)
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Count-distinct aggregation (reference A2, silver_to_gold.py:101-106)
# ---------------------------------------------------------------------------

@query(
    "order_priority_stats",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*)                          AS order_count,
           COUNT(DISTINCT o_custkey)         AS unique_customers,
           {sql_money_sum("o_totalprice")}   AS total_revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="A2 group-agg with count distinct (reference silver_to_gold.py:101-106 "
        "unique_customers). At 100 TB swap to approx_count_distinct where "
        "exactness isn't contractual (SURVEY.md §2.4).",
    # re-gated r11 (oldest-first veteran sweep, r10 verdict #5: gated
    # r1-r6, out since the r7 rotation via the regional_revenue twin)
)
def order_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        StarTables(spark, sf_dir)["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.countDistinct("o_custkey").alias("unique_customers"),
            money_sum("o_totalprice").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Daily rollup + day-over-day growth (reference gold daily_revenue,
# silver_to_gold.py:139-156 — A3 date-grouped agg + W2 lag)
# ---------------------------------------------------------------------------

@query(
    "daily_revenue_growth",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE)        AS order_date,
             COUNT(*)                         AS total_transactions,
             {sql_money_sum("o_totalprice")}  AS total_revenue,
             {sql_money_avg("o_totalprice")}  AS avg_transaction,
             MIN(o_totalprice)                AS min_transaction,
             MAX(o_totalprice)                AS max_transaction
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT *,
           {_SQL_GROWTH} AS revenue_growth_pct
    FROM daily
    """,
    doc="A3 date-grouped agg + W2 lag growth (reference "
        "silver_to_gold.py:139-156). The unpartitioned window runs on the "
        "pre-aggregated daily rollup — thousands of rows at ANY raw scale — "
        "so the single-task window hazard of the reference "
        "(silver_to_gold.py:150, SURVEY.md §4.3.1) is structurally avoided. "
        "Growth is derived from the exact rounded revenue in both engines.",
    # re-gated r13 (gated r1-r11, out since the r12 rotation — oldest-first
    # sweep); becomes the A3/date-family gate while calendar_trends rotates out
)
def daily_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        StarTables(spark, sf_dir)["orders"]
        .groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.count(F.lit(1)).alias("total_transactions"),
            money_sum("o_totalprice").alias("total_revenue"),
            money_avg("o_totalprice").alias("avg_transaction"),
            F.min("o_totalprice").alias("min_transaction"),
            F.max("o_totalprice").alias("max_transaction"),
        )
    )
    w = Window.orderBy("order_date")
    prev = F.lag("total_revenue").over(w)
    return daily.withColumn(
        "revenue_growth_pct",
        stable_round((F.col("total_revenue") - prev) / prev * 100, 2),
    )


# ---------------------------------------------------------------------------
# Calendar-bucket aggregation (reference gold rental_trends,
# silver_to_gold.py:168-182 — A4)
# ---------------------------------------------------------------------------

@query(
    "calendar_trends",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT)          AS order_year,
           CAST(month(o_orderdate) AS INT)         AS order_month,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS order_dow,
           COUNT(*)                                AS total_orders,
           COUNT(DISTINCT o_custkey)               AS unique_customers,
           {sql_money_avg("o_totalprice")}         AS avg_order_value
    FROM orders
    GROUP BY 1, 2, 3
    """,
    doc="A4 calendar-bucket agg (reference silver_to_gold.py:168-178). "
        "Spark dayofweek is 1=Sunday..7; DuckDB dow is 0=Sunday..6, hence "
        "the +1 in the oracle.",
    # re-gated r14 (gated r1-r3 + r11-r12, out since the r13 rotation —
    # oldest-first sweep)
)
def calendar_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        StarTables(spark, sf_dir)["orders"]
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofweek("o_orderdate").alias("order_dow"),
        )
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.countDistinct("o_custkey").alias("unique_customers"),
            money_avg("o_totalprice").alias("avg_order_value"),
        )
    )


# ---------------------------------------------------------------------------
# HAVING — aggregate predicate (reference A6, rewards_report procedure,
# sakila-schema.sql:519-525)
# ---------------------------------------------------------------------------

@query(
    "big_spenders_having",
    oracle=f"""
    SELECT o_custkey,
           COUNT(*)                        AS order_count,
           {sql_money_sum("o_totalprice")} AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING {sql_dsum("o_totalprice")} > 3000000 AND COUNT(*) > 10
    """,
    doc="A6 GROUP BY + conjunctive HAVING (reference rewards_report, "
        "sakila-schema.sql:519-525). The HAVING predicate compares the "
        "EXACT decimal sum — a raw double sum near the threshold could "
        "admit different groups per engine.",
    extra=True,  # r8 rotation: HAVING stays driver-gated via
    # nation_value_concentration (scalar-subquery HAVING) and
    # large_volume_orders (IN-over-HAVING)
)
def big_spenders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        StarTables(spark, sf_dir)["orders"]
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            dsum("o_totalprice").alias("_exact_total"),
        )
        .filter((F.col("_exact_total") > 3_000_000) & (F.col("order_count") > 10))
        .select(
            "o_custkey",
            "order_count",
            stable_round(F.col("_exact_total").cast("double"), 2).alias("total_spent"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation (reference A8 GROUP_CONCAT,
# sakila-schema.sql:365,379-381)
# ---------------------------------------------------------------------------

@query(
    "nation_customer_concat",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_customers,
           STRING_AGG(c.c_name, ', ' ORDER BY c.c_name) AS customer_list
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > 9000
    GROUP BY n.n_name
    """,
    doc="A8 order-stable GROUP_CONCAT (reference film_list view, "
        "sakila-schema.sql:365): array_sort(collect_list) + array_join "
        "makes the concatenation deterministic under parallel collection "
        "(SURVEY.md §7.4.2). J4 dim join (nation broadcast).",
)
def nation_customer_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_acctbal") > 9000)
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            group_concat("c_name").alias("customer_list"),
        )
    )


# ---------------------------------------------------------------------------
# UNION ALL reconciliation (reference U1/A9, query_datalake.py:199-214)
# ---------------------------------------------------------------------------

@query(
    "layer_reconciliation",
    oracle=f"""
    SELECT 'orders' AS src, COUNT(*) AS record_count,
           {sql_money_sum("o_totalprice")} AS total_amount
    FROM orders
    UNION ALL
    SELECT 'lineitem' AS src, COUNT(*) AS record_count,
           {sql_money_sum("l_extendedprice")} AS total_amount
    FROM lineitem
    """,
    doc="U1 UNION ALL of scalar aggregates — the reference's cross-layer "
        "QA reconciliation (query_datalake.py:199-214, A9/A7).",
    # re-gated r13 (gated r1-r11, out since the r12 rotation — oldest-first sweep)
)
def layer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    o = t["orders"].agg(
        F.lit("orders").alias("src"),
        F.count(F.lit(1)).alias("record_count"),
        money_sum("o_totalprice").alias("total_amount"),
    )
    l = t["lineitem"].agg(
        F.lit("lineitem").alias("src"),
        F.count(F.lit(1)).alias("record_count"),
        money_sum("l_extendedprice").alias("total_amount"),
    )
    return o.unionByName(l)


# ---------------------------------------------------------------------------
# Partitioned ranking window (reference W1 done right: the reference ranks
# over an UNPARTITIONED window, silver_to_gold.py:122-124 — we partition)
# ---------------------------------------------------------------------------

@query(
    "segment_top_customers",
    oracle="""
    SELECT * FROM (
      SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                     ORDER BY c_acctbal DESC, c_custkey) AS INT)
               AS segment_rank
      FROM customer
    ) WHERE segment_rank <= 3
    """,
    doc="W1 ranking window, partitioned by segment (fixing the reference's "
        "unpartitioned Window.orderBy hazard, silver_to_gold.py:123 / "
        "SURVEY.md §4.3.1). Ties break on c_custkey.",
    extra=True,  # r9 rotation (gated r1-r8, green): ranking windows stay
    # driver-gated via part_cheapest_supplier + segment_spend_quartiles
    # + quarter_top_revenue_supplier
)
def segment_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        StarTables(spark, sf_dir)["customer"]
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.row_number().over(w).alias("segment_rank"),
        )
        .filter(F.col("segment_rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Anti join (SURVEY.md §2.3 extension: left_anti; also covers P9 null-test
# via the equivalent left-join-is-null plan)
# ---------------------------------------------------------------------------

@query(
    "customers_without_early_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
    )
    """,
    doc="left_anti join (semi/anti extension, SURVEY.md §2.3) — customers "
        "with no orders before 1995-07-01. Catalyst plans a broadcast/SMJ "
        "anti join; no driver-side set materialization.",
    extra=True,  # r9 rotation (gated r1-r8, green): anti-join/NOT-EXISTS stays
    # driver-gated via suppliers_kept_waiting + priority_late_ship_exists
)
def customers_without_early_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    early = t["orders"].filter(
        F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        t["customer"]
        .join(early, t["customer"].c_custkey == early.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# Projection + IN / BETWEEN predicates (reference P2/P8)
# ---------------------------------------------------------------------------

@query(
    "segment_balance_filter",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      AND c_acctbal BETWEEN 1000 AND 5000
    """,
    doc="P2 projection + P8 IN/BETWEEN predicates (reference "
        "fast_query.py:137-146). Filters and the 4-column projection push "
        "into the parquet scan (PushedFilters/ReadSchema).",
    # re-gated r11 (oldest-first veteran sweep, r10 verdict #5: gated
    # r1-r6, out since the r7 rotation via pricing_summary's pushed filter)
)
def segment_balance_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        StarTables(spark, sf_dir)["customer"]
        .filter(
            F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
            & F.col("c_acctbal").between(1000, 5000)
        )
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# Scalar (no-group) aggregate with null-safe sum (reference A7,
# get_customer_balance IFNULL sums, sakila-schema.sql:562-578)
# ---------------------------------------------------------------------------

@query(
    "scalar_totals",
    oracle=f"""
    SELECT COUNT(*) AS line_count,
           {_SQL_RETURNED}               AS returned_revenue,
           {sql_money_sum("l_extendedprice")} AS total_revenue,
           {sql_money_avg("l_discount", 4)}   AS avg_discount
    FROM lineitem
    """,
    doc="A7 scalar aggregate + IFNULL/coalesce null-safe sum (reference "
        "get_customer_balance, sakila-schema.sql:562-578) + P5 conditional "
        "aggregation.",
    extra=True,  # r8 rotation: scalar aggregates stay driver-gated via
    # brand_small_qty_revenue; IFNULL/coalesce via customer_open_balance
)
def scalar_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    returned = F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))
    return StarTables(spark, sf_dir)["lineitem"].agg(
        F.count(F.lit(1)).alias("line_count"),
        stable_round(
            F.coalesce(dsum(returned), F.lit(0)).cast("double"), 2
        ).alias("returned_revenue"),
        money_sum("l_extendedprice").alias("total_revenue"),
        money_avg("l_discount", 4).alias("avg_discount"),
    )


# ---------------------------------------------------------------------------
# Deterministic keep-first dedup (reference P7 dropDuplicates,
# bronze_to_silver.py:80 — made deterministic per SURVEY.md §7.4.4)
# ---------------------------------------------------------------------------

@query(
    "dedup_events_exact",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                   ORDER BY ts, value, event_type) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="P7 keep-first dedup by key. The reference's dropDuplicates picks an "
        "arbitrary survivor (bronze_to_silver.py:80); ours is deterministic "
        "(earliest ts, tie-broken) so results are testable and stable under "
        "re-partitioning — required for CDC replay too (SURVEY.md §7.4.4).",
    # re-gated r11 (oldest-first veteran sweep, r10 verdict #5: gated
    # r1-r3, out since the r4 rotation via doc_fingerprint_groups twin)
)
def dedup_events_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("event_id").orderBy("ts", "value", "event_type")
    return (
        StarTables(spark, sf_dir)["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (reference J7, actor_info view,
# sakila-schema.sql:452-460)
# ---------------------------------------------------------------------------

@query(
    "above_nation_avg_balance",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    """,
    doc="J7 correlated scalar subquery (reference actor_info, "
        "sakila-schema.sql:452-460). Catalyst decorrelates to an "
        "aggregate+join; no per-row re-execution. The threshold comparison "
        "uses the raw double avg in both engines: a strict inequality "
        "against a value never exactly equal to any c_acctbal.",
    extra=True,  # r9 rotation (gated r1-r8, green): correlated scalar subqueries
    # stay driver-gated via nation_value_concentration + brand_small_qty_revenue
)
def above_nation_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    t["customer"].createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_nationkey, c_acctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


# ---------------------------------------------------------------------------
# Row-level conform: casts, string normalization, clamp, date extraction
# (reference P3/P4/P5 cleaning rules, bronze_to_silver.py:76-103)
# ---------------------------------------------------------------------------

@query(
    "conform_events",
    oracle="""
    SELECT event_id,
           UPPER(TRIM(event_type))            AS event_type_norm,
           CAST(FLOOR(value) AS BIGINT)       AS value_floor,
           CASE WHEN value < 0 THEN 0 ELSE value END AS value_clamped,
           CAST(ts AS DATE)                   AS event_date
    FROM events
    """,
    doc="P3 derived columns + P4 casts + P5 clamp (reference cleaning rules: "
        "upper/trim bronze_to_silver.py:76, negative clamp :103, casts "
        ":89-93). FLOOR before the int cast because Spark truncates "
        "double→int while DuckDB rounds — floor is identical in both.",
    extra=True,  # r10 rotation (gated r1-r9, green): envelope flatten/derive/cast
    # stays gated via events_json_props (same parse path) +
    # layer_reconciliation
)
def conform_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = StarTables(spark, sf_dir)["events"]
    return e.select(
        "event_id",
        F.upper(F.trim("event_type")).alias("event_type_norm"),
        F.floor("value").cast("long").alias("value_floor"),
        F.when(F.col("value") < 0, F.lit(0.0)).otherwise(F.col("value")).alias("value_clamped"),
        F.to_date("ts").alias("event_date"),
    )


# ---------------------------------------------------------------------------
# JSON field extraction (the capability the reference imports but never uses:
# from_json — query_datalake.py:6; our streaming envelope parse needs it)
# ---------------------------------------------------------------------------

@query(
    "events_json_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
    doc="from_json with an explicit schema (never inferred; SURVEY.md §2.8 "
        "array/JSON extension). Same parse the streaming envelope path uses "
        "(sources/cdc.py).",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..schemas import EVENT_PROPS

    e = StarTables(spark, sf_dir)["events"]
    return e.select(
        "event_id",
        F.from_json("props", EVENT_PROPS).getField("k").alias("prop_k"),
    )
