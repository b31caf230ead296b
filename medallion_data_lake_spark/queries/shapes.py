"""Classic warehouse query shapes rounding out the SQL surface.

Shapes every migrating analyst reaches for that no other registry
entry exercised: PIVOT (wide conditional aggregation) and its inverse
UNPIVOT, ARGMIN-per-group with join-back (TPC-H Q2's "cheapest
supplier" pattern), a conditional revenue ratio (TPC-H Q14's promo
share), date-spine gap filling, the batch twin of the stream-stream
attribution join, the TPC-H correlated/nested-subquery family
(Q4/Q11/Q17/Q18/Q21 shapes, r7), the Q15 max-over-view and Q20
grouped-IN shapes, and the analytic-window battery
(percent_rank/cume_dist/first/last/nth). Gate membership is per-query
(`extra=` at each decorator, rotated by round); extras verify through
the local oracle sweep (tests/test_oracle_parity.py) like the rest of
EXTRA_REGISTRY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import StarTables
from . import query
from ._parity import money_sum, sql_money_sum, sql_stable_round, stable_round


# ---------------------------------------------------------------------------
# PIVOT — wide conditional aggregation
# ---------------------------------------------------------------------------

_STATUSES = ["F", "O", "P"]  # orders.o_orderstatus domain (TPC-H fixed)


@query(
    "order_status_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {', '.join(
               f"CAST(COUNT(CASE WHEN o_orderstatus = '{s}' THEN 1 END) AS BIGINT)"
               f" AS n_{s.lower()}, "
               + sql_money_sum(
                   f"CASE WHEN o_orderstatus = '{s}' THEN o_totalprice ELSE 0 END"
               )
               + f" AS rev_{s.lower()}"
               for s in _STATUSES)}
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="PIVOT: order counts and revenue per priority, one column pair per "
        "order status. The VALUE LIST IS EXPLICIT — df.pivot(col, values) "
        "with the known domain skips the extra distinct-collect job Spark "
        "otherwise runs to discover pivot columns (the scale trap: an "
        "unlisted pivot on a high-NDV column both scans twice and explodes "
        "the schema). Plan is one shuffled aggregation with map-side "
        "partials, exactly a GROUP BY with conditional aggregates.",
    tags=("pivot",),
    extra=True,  # r11 rotation (gated r5-r10, green): reshape family stays
    # gated via priority_status_grouping_sets + priority_status_cube
    # (re-gated this round)
)
def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    wide = (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("o_totalprice").alias("rev"),
        )
    )
    # pivot cells with no rows aggregate to NULL; the conditional-agg
    # oracle yields 0 — align (and flatten pivot's `F_n` names)
    return wide.select(
        "o_orderpriority",
        *[
            c
            for s in _STATUSES
            for c in (
                F.coalesce(F.col(f"{s}_n"), F.lit(0)).alias(f"n_{s.lower()}"),
                F.coalesce(F.col(f"{s}_rev"), F.lit(0.0)).alias(f"rev_{s.lower()}"),
            )
        ],
    )


# ---------------------------------------------------------------------------
# ARGMIN per group + join-back (TPC-H Q2's cheapest-supplier shape)
# ---------------------------------------------------------------------------

@query(
    "part_cheapest_supplier",
    oracle=f"""
    SELECT l_partkey, p_name, l_suppkey AS cheapest_suppkey, s_name,
           {sql_stable_round('best_unit_price', 4)} AS best_unit_price
    FROM (
      SELECT l_partkey, l_suppkey,
             l_extendedprice / l_quantity AS best_unit_price,
             ROW_NUMBER() OVER (
               PARTITION BY l_partkey
               ORDER BY l_extendedprice / l_quantity, l_suppkey
             ) AS rn
      FROM lineitem
    )
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE rn = 1
    """,
    doc="ARGMIN per group with dimension join-back (TPC-H Q2 shape): the "
        "supplier quoting the lowest unit price per part. min_by over a "
        "(price, suppkey) struct gives a DETERMINISTIC tie-break in ONE "
        "shuffled aggregation with map-side partials — no window sort of "
        "the whole fact table (the oracle's ROW_NUMBER formulation is the "
        "semantics, not the plan: a window would sort every group's rows; "
        "min_by keeps one candidate per partition per key). Dim joins "
        "(part, supplier) broadcast.",
    tags=("argmin",),
    # driver-gated since r5 (rotated in from extras)
    extra=True,  # r10 rotation (gated r5-r9, green): per-group ranking windows
    # stay gated via quarter_top_revenue_supplier + segment_order_window_stats
)
def part_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    best = (
        t["lineitem"]
        .select("l_partkey", "l_suppkey", unit.alias("unit_price"))
        .groupBy("l_partkey")
        .agg(
            F.min_by(
                F.struct("l_suppkey", "unit_price"),
                F.struct("unit_price", "l_suppkey"),
            ).alias("best")
        )
        .select(
            "l_partkey",
            F.col("best.l_suppkey").alias("cheapest_suppkey"),
            stable_round(F.col("best.unit_price"), 4).alias("best_unit_price"),
        )
    )
    return best.join(
        F.broadcast(t["part"]), best.l_partkey == F.col("p_partkey")
    ).join(
        F.broadcast(t["supplier"]),
        F.col("cheapest_suppkey") == F.col("s_suppkey"),
    ).select(
        "l_partkey", "p_name", "cheapest_suppkey", "s_name", "best_unit_price"
    )


# ---------------------------------------------------------------------------
# Conditional revenue ratio (TPC-H Q14's promo-share shape)
# ---------------------------------------------------------------------------

@query(
    "brand_revenue_share_monthly",
    oracle=f"""
    SELECT STRFTIME(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
           {sql_money_sum(
               "CASE WHEN p_brand = 'Brand#7' THEN l_extendedprice * (1 - l_discount)"
               " ELSE 0 END")} AS brand_revenue,
           {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS total_revenue,
           {sql_stable_round(
               "100.0 * CAST(SUM(CAST(CASE WHEN p_brand = 'Brand#7' "
               "THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)"
               " / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)",
               4)} AS brand_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY ship_month
    """,
    doc="Conditional ratio aggregation (TPC-H Q14 shape): one brand's "
        "share of monthly revenue. ONE pass computes both numerator "
        "(CASE-gated) and denominator — never two scans joined back. "
        "Part join broadcasts; sums are decimal-exact before the double "
        "division (queries/_parity.py discipline).",
    tags=("ratio",),
    extra=True,  # r14 rotation (gated r10-r13, green): share-family twin nation_revenue_share re-gated r14
)
def brand_revenue_share_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._parity import dsum

    t = StarTables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    branded = F.when(F.col("p_brand") == "Brand#7", rev).otherwise(F.lit(0.0))
    joined = t["lineitem"].join(
        F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")
    )
    return (
        joined.groupBy(
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias(
                "ship_month"
            )
        )
        .agg(
            money_sum(branded).alias("brand_revenue"),
            money_sum(rev).alias("total_revenue"),
            stable_round(
                F.lit(100.0)
                * dsum(branded).cast("double")
                / dsum(rev).cast("double"),
                4,
            ).alias("brand_share_pct"),
        )
    )


# ---------------------------------------------------------------------------
# UNPIVOT (wide -> long) and date-spine gap filling
# ---------------------------------------------------------------------------

@query(
    "order_metrics_unpivot",
    oracle=f"""
    WITH wide AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS DOUBLE)               AS n_orders,
             {sql_money_sum('o_totalprice')}        AS revenue,
             {sql_stable_round(
                 'CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)'
                 ' / COUNT(*)')}                    AS avg_price
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, metric, value FROM wide
    UNPIVOT (value FOR metric IN (n_orders, revenue, avg_price))
    """,
    doc="UNPIVOT (wide → long): per-priority metrics melted to "
        "(priority, metric, value) rows — df.unpivot, the inverse of "
        "PIVOT. Map-side reshape of an ALREADY-AGGREGATED frame (rows = "
        "groups × metrics, bounded); unpivoting raw facts first would "
        "multiply the fact table by the metric count before aggregating "
        "— the order of reshape vs aggregate is the scale decision.",
    tags=("unpivot",),
    extra=True,  # r8 rotation (gated r7, green): reshape family stays
    # driver-gated via order_status_pivot (the inverse shape)
)
def order_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._parity import dsum

    t = StarTables(spark, sf_dir)
    wide = t["orders"].groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        money_sum("o_totalprice").alias("revenue"),
        stable_round(
            dsum("o_totalprice").cast("double") / F.count(F.lit(1))
        ).alias("avg_price"),
    )
    return wide.unpivot(
        ["o_orderpriority"], ["n_orders", "revenue", "avg_price"],
        "metric", "value",
    )


@query(
    "daily_order_spine",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
             MAX(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ),
    spine AS (
      SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {sql_money_sum('o_totalprice')} AS revenue
      FROM orders GROUP BY day
    )
    SELECT s.day,
           COALESCE(d.n_orders, 0) AS n_orders,
           COALESCE(d.revenue, 0.0) AS revenue
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    doc="Date-spine gap filling: every calendar day in the data's range "
        "appears, zero-filled when no orders landed (the reporting shape "
        "raw GROUP BY silently omits). The spine is generated from ONE "
        "min/max row via sequence()+explode — #days rows regardless of "
        "fact scale — then left-joins the (already bounded) daily "
        "rollup; broadcast, no fact re-shuffle.",
    tags=("gapfill",),
    # r7 rotation: promoted from extras to the driver gate (date-spine
    # gap fill had no driver row before)
)
def daily_order_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    daily = t["orders"].groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("revenue"),
    )
    # bounds branch deliberately re-reads the RAW date column (a
    # 1-column pruned scan) rather than re-running the daily aggregate:
    # Spark does not reuse the agg exchange across the two consumers
    # (measured), and min/max over one pruned column is the cheaper of
    # the two second passes
    spine = (
        t["orders"]
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("lo"),
            F.max(F.col("o_orderdate").cast("date")).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    return spine.join(F.broadcast(daily), "day", "left").select(
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Batch twin of the stream-stream attribution join (streaming/joins.py)
# ---------------------------------------------------------------------------

@query(
    "signup_purchase_attribution_pairs",
    oracle="""
    SELECT s.event_id AS signup_event_id,
           s.user_id,
           s.ts AS signup_ts,
           p.event_id AS p_event_id,
           p.ts AS p_ts,
           CAST(date_diff('microseconds', s.ts, p.ts) // 1000000 AS BIGINT)
             AS seconds_to_purchase
    FROM events s
      JOIN events p
        ON p.user_id = s.user_id
       AND p.event_type = 'purchase'
       AND p.ts > s.ts
       AND p.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup'
    """,
    doc="Batch twin of the watermarked stream-stream attribution join "
        "(streaming/joins.py:purchase_attribution_join): every "
        "(signup, purchase-within-1h) pair with its latency. The "
        "streaming form produces EXACTLY these pairs (asserted in "
        "tests/test_streaming_joins.py); this oracled twin pins the "
        "semantics to SQL. Equi key keeps it a hash join with a "
        "residual range filter.",
    tags=("streaming",),
    extra=True,  # r14 rotation (gated r10-r13, green): streaming-family twins signup_view_purchase_funnel (re-gated r14) + user_running_totals stay gated
)
def signup_purchase_attribution_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..catalog import load_star_table

    e = load_star_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"),
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("signup_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return s.join(
        p,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("p_ts") > F.col("signup_ts"))
        & (F.col("p_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "signup_event_id",
        F.col("s_user").alias("user_id"),
        "signup_ts",
        "p_event_id",
        "p_ts",
        F.expr(
            "(unix_micros(cast(p_ts as timestamp)) - "
            "unix_micros(cast(signup_ts as timestamp))) div 1000000"
        ).alias("seconds_to_purchase"),
    )


# ---------------------------------------------------------------------------
# Count-of-counts histogram (TPC-H Q13): distribution of orders per
# customer INCLUDING zero-order customers — the left-join + two-level
# aggregation every retention/engagement dashboard runs
# ---------------------------------------------------------------------------

@query(
    "customer_order_histogram",
    oracle="""
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
    doc="TPC-H Q13 shape: orders-per-customer histogram, zero bucket "
        "included (COUNT of the right side's key under a LEFT join counts "
        "0 for no-order customers — COUNT(*) would lie). Two aggregations: "
        "the first shuffles on custkey (map-side combined over the fact), "
        "the second on the tiny count domain — effectively free. At scale "
        "the first agg pre-aggregates orders BEFORE the join so the "
        "customer side joins a #customers-sized rollup, not the fact.",
    tags=("histogram",),
    # re-gated r14 (gated r9-r12, out since the r13 rotation — oldest-first sweep)
)
def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    # pre-aggregate the fact to (custkey, n) BEFORE joining: the join's
    # right side is #active-customers rows, never the raw orders table
    per_cust = (
        t["orders"].groupBy("o_custkey")
        .agg(F.count("o_orderkey").alias("_n"))
    )
    counts = (
        t["customer"]
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce("_n", F.lit(0)).cast("long").alias("n_orders"))
    )
    return (
        counts.groupBy("n_orders")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Global-scalar filter + anti-join (TPC-H Q22's essence, sans phone
# cntrycode — the fixture carries no phone column): rich-but-idle
# customers relative to a population statistic
# ---------------------------------------------------------------------------

@query(
    "idle_rich_customers",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment,
           {sql_stable_round('c_acctbal', 2)} AS acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    doc="TPC-H Q22 shape (country-code predicate dropped — no phone "
        "column in the fixture): customers with above-average positive "
        "balance and no URGENT order (every fixture customer has SOME "
        "order, so the anti-join side filters to urgent ones to keep the "
        "result non-degenerate). The uncorrelated scalar subquery becomes "
        "one broadcast scalar (Catalyst's Subquery reuse); NOT EXISTS "
        "plans as a left-anti join against the DISTINCT order custkeys. "
        "No correlated re-execution anywhere — at 100 TB this is one "
        "fact-side distinct plus a broadcast filter on the dim.",
    tags=("antijoin",),
    extra=True,  # r11 rotation (gated r1-r10, green): anti-join/null-test
    # stays gated via daily_order_spine (P9) + suppliers' J7 twins below
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    c = t["customer"]
    avg_pos = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("_a"))
    )
    rich = c.join(F.broadcast(avg_pos)).filter(F.col("c_acctbal") > F.col("_a"))
    return (
        rich.join(
            t["orders"]
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .select(
            "c_custkey", "c_name", "c_mktsegment",
            stable_round(F.col("c_acctbal"), 2).alias("acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H correlated / nested subquery family (r6 verdict item 4): the five
# classic shapes — EXISTS date-correlated (Q4), HAVING vs global scalar
# (Q11), correlated avg threshold (Q17), IN over HAVING subquery (Q18),
# EXISTS + NOT EXISTS (Q21) — adapted to this star schema (no
# commitdate/receiptdate/partsupp; lateness = shipped >60 days after the
# order date). Reference anchor: the ad-hoc SQL entry point
# (sakila-data-lake/query_datalake.py:139-146) accepts exactly these
# query shapes; correlated precedent sakila-schema.sql:452-460.
# ---------------------------------------------------------------------------


@query(
    "priority_late_ship_exists",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_late_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: date-correlated EXISTS — orders of 1997 with at "
        "least one lineitem shipped >60 days after the order date, counted "
        "per priority. Spark-first: EXISTS is a LEFT SEMI join whose "
        "condition references both sides (Catalyst plans one shuffled "
        "semi-hash-join on l_orderkey; the duplicate-lineitem explosion a "
        "plain inner join + distinct would pay never materializes). The "
        "year filter pushes to the orders scan.",
    tags=("subquery", "exists", "semi-join"),
    extra=True,  # r11 rotation (gated r1-r10, green): EXISTS/semi-join
    # stays gated via nation_value_concentration + dominant_volume_suppliers
)
def priority_late_ship_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        o.join(t["lineitem"], late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
    )


@query(
    "nation_value_concentration",
    oracle=f"""
    SELECT n_name AS nation,
           {sql_money_sum("s_acctbal")} AS supplier_value
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    HAVING SUM(CAST(s_acctbal AS DECIMAL(18,6))) * 25 >
           (SELECT SUM(CAST(s_acctbal AS DECIMAL(18,6))) FROM supplier)
    """,
    doc="TPC-H Q11 shape: HAVING against a GLOBAL scalar subquery — "
        "nations holding >4% of total supplier account value. Spark-first: "
        "the scalar is a 1-row aggregate broadcast into a cross join, so "
        "the threshold compare runs map-side over the 25-row group "
        "aggregate (no second scan of supplier — the per-nation partials "
        "and the global total come from independent branches Catalyst "
        "plans as two small aggs). Decimal sums ×25 (=1/0.04) keep the "
        "boundary compare EXACT in both engines — no float literal.",
    tags=("subquery", "having", "scalar-agg"),
    # re-gated r13 (gated r7-r11, out since the r12 rotation — oldest-first
    # sweep); becomes the A6/HAVING gate while large_volume_orders rotates out
)
def nation_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._parity import dsum

    t = StarTables(spark, sf_dir)
    per_nation = (
        t["supplier"]
        .join(F.broadcast(t["nation"]),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum("s_acctbal").alias("_val"))
    )
    total = t["supplier"].agg(dsum("s_acctbal").alias("_total"))
    return (
        per_nation.join(F.broadcast(total))
        .filter(F.col("_val") * 25 > F.col("_total"))
        .select(
            "nation",
            stable_round(F.col("_val").cast("double"), 2)
            .alias("supplier_value"),
        )
    )


@query(
    "brand_small_qty_revenue",
    oracle=f"""
    SELECT {sql_stable_round(
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0", 2
    )} AS avg_weekly
    FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
    WHERE p_brand = 'Brand#19'
      AND l1.l_quantity < 0.5 * (SELECT AVG(l2.l_quantity) FROM lineitem l2
                                 WHERE l2.l_partkey = l1.l_partkey)
    """,
    doc="TPC-H Q17 shape: correlated scalar AVG threshold — revenue/week "
        "from 'trickle' lineitems of one brand, quantity under half the "
        "part's average. Spark-first decorrelation: broadcast the brand's "
        "part keys into the lineitem scan FIRST (so the per-part average "
        "aggregates only the brand's lineitems — identical semantics, the "
        "correlation key determines the part), then the per-part AVG is a "
        "WINDOW over the pruned frame — ONE lineitem scan and one "
        "l_partkey exchange (plan-asserted), vs the aggregate+join form's "
        "second scan. Quantities are integer-valued doubles, so AVG is "
        "order-independent and the 0.5× boundary compare is exact "
        "cross-engine; the money sum goes through decimal.",
    tags=("subquery", "correlated-avg"),
    extra=True,  # r11 rotation (gated r1-r10, green): correlated-avg stays
    # gated via nation_value_concentration; P8 via segment_balance_filter
    # (re-gated this round)
)
def brand_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._parity import dsum

    t = StarTables(spark, sf_dir)
    brand_keys = (
        t["part"].filter(F.col("p_brand") == "Brand#19").select("p_partkey")
    )
    li = t["lineitem"].join(
        F.broadcast(brand_keys), F.col("l_partkey") == F.col("p_partkey")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("_avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("_avg_qty"))
        .agg(
            stable_round(
                dsum("l_extendedprice").cast("double") / 7.0, 2
            ).alias("avg_weekly")
        )
    )


@query(
    "large_volume_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           SUM(l_quantity) AS sum_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(l_quantity) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 shape: IN over a HAVING subquery — customers whose "
        "orders total >300 units. Spark-first: the IN-subquery and the "
        "outer SUM are the SAME aggregation, so lineitem is aggregated "
        "ONCE (groupBy l_orderkey, filter >300) instead of the two scans "
        "the SQL spells; the surviving ~0.3% of orders then join orders "
        "(shuffle on the already-aggregated key) and the customer dim "
        "broadcasts. Top-100 by totalprice with the unique o_orderkey "
        "tiebreak → TakeOrderedAndProject, never a global sort. "
        "Quantities are integer-valued doubles — SUM is exact, no "
        "decimal detour needed for the 300 boundary.",
    tags=("subquery", "in-having", "topk"),
    # re-gated r14 (gated r7-r12, out since the r13 rotation — oldest-first sweep)
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]),
              F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "suppliers_kept_waiting",
    oracle="""
    WITH lf AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lf l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM lf l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lf l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    doc="TPC-H Q21 shape: EXISTS + NOT EXISTS self-joins — suppliers who "
        "were the SOLE late shipper on multi-supplier finished orders. "
        "Spark-first: both existentials depend only on (orderkey, "
        "suppkey), so instead of two more shuffles of raw lineitem "
        "(semi + anti), aggregate once to (orderkey, suppkey) grain "
        "[late row count, any-late flag] and take the per-order "
        "supplier/late-supplier counts from a WINDOW over that grain — "
        "EXISTS ≡ n_supp ≥ 2, NOT EXISTS ≡ n_late_supp = 1 for a late "
        "row's own supplier. ONE scan of lineitem (plan-asserted), one "
        "grain exchange, one orderkey window exchange over grain-sized "
        "data; the supplier dim broadcasts; top-100 with the s_name "
        "tiebreak is TakeOrderedAndProject.",
    tags=("subquery", "exists", "not-exists", "anti-join"),
    extra=True,  # r11 rotation (gated r1-r10, green): A5 ordered agg +
    # NOT-EXISTS stays gated via large_volume_orders + nation_value_concentration
)
def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    lf = (
        t["lineitem"]
        .join(
            t["orders"]
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey", "l_suppkey",
            (F.col("l_shipdate")
             > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .alias("late"),
        )
    )
    g = lf.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("late_rows"),
        F.max("late").alias("is_late"),
    )
    # per-order supplier/late-supplier counts via a WINDOW over the
    # aggregated grain, not a groupBy+self-join: one exchange on
    # l_orderkey over (order,supp)-sized data replaces a second branch
    # re-scanning lineitem⋈orders (plan-asserted: single lineitem scan)
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    return (
        g.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late_supp", F.sum(F.col("is_late").cast("int")).over(w))
        .filter(F.col("is_late")
                & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(t["supplier"]),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_rows").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@query(
    "quarter_top_revenue_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,6))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           {sql_stable_round("CAST(total_rev AS DOUBLE)", 2)} AS total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    doc="TPC-H Q15 shape: a revenue view consumed twice — once for the "
        "global MAX (scalar subquery), once to select the argmax rows. "
        "Spark-first: the quarterly per-supplier aggregate is built once; "
        "its 1-row MAX broadcasts into a cross join and the equality "
        "filter picks the winner(s) — ties all surface, exactly the SQL "
        "semantics. The equality compares DECIMAL sums, so argmax "
        "selection cannot flip on float summation order. Catalyst reuses "
        "the aggregation exchange for both consumers.",
    tags=("subquery", "scalar-agg", "view"),
    extra=True,  # r11 rotation (gated r8-r10, green): W1 ranking window
    # stays gated via segment_order_window_stats
)
def quarter_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._parity import dsum

    t = StarTables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("total_rev"))
    )
    top = rev.agg(F.max("total_rev").alias("_max_rev"))
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_rev") == F.col("_max_rev"))
        .join(F.broadcast(t["supplier"]),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey", "s_name",
            stable_round(F.col("total_rev").cast("double"), 2)
            .alias("total_revenue"),
        )
    )


@query(
    "dominant_volume_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT ps.l_suppkey FROM
        (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS q
         FROM lineitem GROUP BY l_partkey, l_suppkey) ps
        JOIN (SELECT l_partkey, SUM(l_quantity) AS tq
              FROM lineitem GROUP BY l_partkey) pt
        ON ps.l_partkey = pt.l_partkey
      WHERE ps.q > 0.15 * pt.tq)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape: nested IN over a GROUPED correlation — "
        "suppliers who shipped >15% of some part's total volume. "
        "Spark-first: ONE aggregation to the (partkey, suppkey) grain, "
        "then the per-part total comes from a window over that already-"
        "aggregated frame (SUM OVER partkey) instead of a second scan "
        "of lineitem; the share filter, distinct, and broadcast "
        "supplier join all run on grain-sized data. Quantities are "
        "integer-valued doubles — both sums exact, the 0.15× boundary "
        "deterministic cross-engine.",
    tags=("subquery", "grouped-in", "window"),
    # r8 rotation: promoted to the driver gate (Q20 shape, new in r7,
    # never had a driver row)
    # re-gated r13 (gated r8-r11, out since the r12 rotation — oldest-first sweep)
)
def dominant_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = StarTables(spark, sf_dir)
    # ONE exchange serves both keyed operators (r16, guide §2.4): hash-
    # partitioning on l_partkey alone satisfies the (l_partkey,
    # l_suppkey) aggregate's clustering (partition keys ⊆ grouping
    # keys) AND the l_partkey window, so the grain→window re-exchange
    # disappears. Partial aggregation is no loss here: lineitem has ~7
    # rows per (partkey, suppkey) spread across all map partitions, so
    # map-side combining reduced almost nothing while the plan paid two
    # full shuffles of near-raw rows instead of one.
    grain = (
        t["lineitem"]
        .select("l_partkey", "l_suppkey", "l_quantity")
        .repartition(F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        grain.withColumn("tq", F.sum("q").over(w))
        .filter(F.col("q") > 0.15 * F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "segment_order_window_stats",
    oracle=f"""
    SELECT c_custkey, o_orderkey, o_totalprice,
           {sql_stable_round(
               "PERCENT_RANK() OVER (PARTITION BY c_custkey "
               "ORDER BY o_totalprice, o_orderkey)", 6)} AS pct_rank,
           {sql_stable_round(
               "CUME_DIST() OVER (PARTITION BY c_custkey "
               "ORDER BY o_totalprice, o_orderkey)", 6)} AS cume,
           FIRST_VALUE(o_totalprice) OVER (PARTITION BY c_custkey
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS cheapest,
           LAST_VALUE(o_totalprice) OVER (PARTITION BY c_custkey
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS priciest,
           NTH_VALUE(o_totalprice, 2) OVER (PARTITION BY c_custkey
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_cheapest
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE c_mktsegment = 'MACHINERY'
    """,
    doc="The remaining analytic-window battery in one query: "
        "PERCENT_RANK, CUME_DIST, FIRST/LAST/NTH_VALUE per customer. "
        "LAST/NTH take an EXPLICIT unbounded frame in both engines — "
        "the default ordered-window frame stops at CURRENT ROW, where "
        "LAST_VALUE degenerates to the current row (the classic window "
        "trap; both engines share it, so the test pins the correct "
        "form). Sort key carries the unique o_orderkey tiebreak so tied "
        "prices cannot reorder across engines; rank ratios are exact "
        "rationals, rounded only against float formatting. One shuffle "
        "on c_custkey serves all five functions.",
    tags=("window",),
    # r8 rotation: promoted to the driver gate (analytic-window battery,
    # new in r7, never had a driver row)
)
def segment_order_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = StarTables(spark, sf_dir)
    base = (
        t["orders"]
        .join(
            F.broadcast(
                t["customer"]
                .filter(F.col("c_mktsegment") == "MACHINERY")
                .select("c_custkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    w = Window.partitionBy("c_custkey").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return base.select(
        "c_custkey", "o_orderkey", "o_totalprice",
        stable_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        stable_round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_totalprice").over(wf).alias("cheapest"),
        F.last("o_totalprice").over(wf).alias("priciest"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_cheapest"),
    )


# ---------------------------------------------------------------------------
# TPC-H multi-dimension join family — Q7/Q8/Q9 shapes (r8). Reference
# anchor: the 8-way sales_by_store join chain
# (/root/reference/source/sakila-db/sakila-schema.sql:403-418) is the
# same shape class at toy scale: one fact spine threaded through a fan
# of dimensions, aggregated by dimension attributes. Spark-first plan
# for all three: filter and broadcast EVERY dimension into the lineitem
# scan first, keep exactly ONE fact-fact shuffle (lineitem⨝orders on
# the order key), aggregate last (plan-asserted in tests/test_plans.py:
# single lineitem scan, no second fact exchange).
# ---------------------------------------------------------------------------

_Q7_NATIONS = ("NATION_1", "NATION_2")  # fixture nation-name domain


@query(
    "two_nation_trade_volume",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           {sql_money_sum("l.l_extendedprice * (1 - l.l_discount)")} AS volume
    FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    WHERE ((ns.n_name = '{_Q7_NATIONS[0]}' AND nc.n_name = '{_Q7_NATIONS[1]}')
        OR (ns.n_name = '{_Q7_NATIONS[1]}' AND nc.n_name = '{_Q7_NATIONS[0]}'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, ship_year
    """,
    doc="TPC-H Q7 shape (volume shipping): bilateral trade between two "
        "named nations by supplier nation × customer nation × ship year. "
        "Spark-first: the nation filter lands on BOTH endpoint dims "
        "BEFORE the facts — supplier and customer each broadcast-join "
        "the 2-nation slice (pruning the fact rows to ~ (2/25)² of the "
        "pair space map-side), the shipdate range pushes into the "
        "lineitem scan, and the only shuffle is lineitem⨝orders on the "
        "order key. The symmetric-pair disjunction runs as a residual "
        "filter over the two broadcast-carried nation names — never a "
        "join condition that would defeat the equi-join planner.",
    tags=("join-family", "q7"),
    extra=True,  # r11 rotation (gated r8-r10, green): J3 inner chains stay
    # gated via product_profit_by_nation_year +
    # supplier_customer_nation_volume (re-gated this round)
)
def two_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    pair = t["nation"].filter(F.col("n_name").isin(*_Q7_NATIONS))
    sup = (
        t["supplier"]
        .join(F.broadcast(pair), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cus = (
        t["customer"]
        .join(F.broadcast(pair), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    l = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    o = t["orders"].join(
        F.broadcast(cus), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "cust_nation")
    return (
        l.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            ((F.col("supp_nation") == _Q7_NATIONS[0])
             & (F.col("cust_nation") == _Q7_NATIONS[1]))
            | ((F.col("supp_nation") == _Q7_NATIONS[1])
               & (F.col("cust_nation") == _Q7_NATIONS[0]))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("volume")
        )
    )


@query(
    "nation_market_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           {sql_money_sum(
               "CASE WHEN ns.n_name = 'NATION_3' "
               "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             AS nation_volume,
           {sql_money_sum("l.l_extendedprice * (1 - l.l_discount)")}
             AS total_volume,
           {sql_stable_round(
               "CAST(SUM(CAST(CASE WHEN ns.n_name = 'NATION_3' "
               "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END"
               " AS DECIMAL(18,6))) AS DOUBLE)"
               " / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)"
               " AS DECIMAL(18,6))) AS DOUBLE)", 6)} AS mkt_share
    FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = nc.n_regionkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): one supplier nation's "
        "share of ECONOMY-part volume sold into region AMERICA, per "
        "order year — a year-CASE ratio over an 8-relation join. "
        "Spark-first: numerator and denominator come from the SAME "
        "aggregation pass (CASE-gated decimal sum over the target "
        "nation vs the unconditional sum — never two scans joined "
        "back); region⨝nation⨝customer collapses to one broadcast key "
        "set pruning orders map-side; the filtered part keys and the "
        "supplier→nation mapping broadcast into the lineitem scan; one "
        "fact-fact shuffle (lineitem⨝orders). Decimal sums before the "
        "double division (queries/_parity.py discipline).",
    tags=("join-family", "q8", "ratio"),
    extra=True,  # r11 rotation (gated r8-r10, green): share-of-total join
    # family stays gated via product_profit_by_nation_year +
    # brand_revenue_share_monthly
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._parity import dsum

    t = StarTables(spark, sf_dir)
    region_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    cus = (
        t["customer"]
        .join(F.broadcast(region_nations),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    sup = (
        t["supplier"]
        .join(F.broadcast(t["nation"]),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    econ_parts = t["part"].filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = (
        t["orders"]
        .filter(
            (F.col("o_orderdate")
             >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate")
               < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(F.broadcast(cus), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        t["lineitem"]
        .join(F.broadcast(econ_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_year")
        .agg(
            money_sum(target).alias("nation_volume"),
            money_sum(vol).alias("total_volume"),
            stable_round(
                dsum(target).cast("double") / dsum(vol).cast("double"), 6
            ).alias("mkt_share"),
        )
    )


@query(
    "product_profit_by_nation_year",
    oracle=f"""
    SELECT ns.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           {sql_money_sum("l.l_extendedprice * (1 - l.l_discount)")}
             AS sum_profit
    FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape (product-type profit): revenue on parts whose "
        "name matches a token, by SUPPLIER nation × order year. (The "
        "fixtures carry no partsupp table, so Q9's ps_supplycost × "
        "quantity term is omitted — the join/aggregation shape, which "
        "is what Q9 stresses, is intact.) Spark-first: the LIKE-filtered "
        "part keys and the supplier→nation mapping broadcast into the "
        "lineitem scan (map-side pruning before any exchange), one "
        "fact-fact shuffle on the order key, aggregate to the tiny "
        "nation×year grid last; the final ORDER BY sorts ~25×7 rows.",
    tags=("join-family", "q9"),
    # first gated r8 (new)
    # re-gated r13 (gated r8-r11, out since the r12 rotation — oldest-first
    # sweep); becomes the A5 group-order gate while large_volume_orders rotates out
)
def product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    red_parts = (
        t["part"].filter(F.col("p_name").like("%red%")).select("p_partkey")
    )
    sup = (
        t["supplier"]
        .join(F.broadcast(t["nation"]),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"].select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("nation", "o_year")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# The remaining TPC-H query shapes (r8) — Q6/Q10/Q12/Q16/Q19, completing
# all 22. Fixture adaptations are named per query: the tables carry no
# l_shipmode/l_commitdate (Q12), no partsupp (Q16), no p_container
# (Q19); the SHAPE each query stresses — the plan class — is intact.
# All extras: the driver gate is at its 50-query cap; these verify
# through the local oracle sweep like the rest of EXTRA_REGISTRY.
# ---------------------------------------------------------------------------


@query(
    "discount_revenue_delta",
    oracle=f"""
    SELECT {sql_money_sum("l_extendedprice * l_discount")} AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (forecasting revenue change): one conjunctive "
        "multi-range filter feeding a single scalar sum — the purest "
        "pushdown test in the suite. All three ranges reach the parquet "
        "scan as PushedFilters (row groups outside any range are never "
        "decoded); no join, no shuffle beyond the 1-row aggregate.",
    tags=("q6", "scan"),
    extra=True,  # r14 rotation (gated r10-r13, green): A7/IFNULL twin customer_open_balance stays gated; range pushdown stays plan-asserted (test_plans)
)
def discount_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate")
             >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate")
               < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(F.col("l_extendedprice") * F.col("l_discount"))
            .alias("revenue_delta")
        )
    )


@query(
    "returned_item_customers",
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue,
           n_name AS nation
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): quarterly revenue "
        "lost to returns per customer, top-20. Spark-first: the quarter "
        "filter prunes orders at the scan, the returnflag filter prunes "
        "lineitem at the scan, the one fact-fact shuffle joins the two "
        "pruned sides on the order key, customer and nation broadcast, "
        "and the top-20 (c_custkey tiebreak) is TakeOrderedAndProject — "
        "never a global sort of the aggregate.",
    tags=("q10", "topk"),
    extra=True,  # r14 rotation (gated r10-r13, green): J7 subquery-family twins customers_with_jumbo_orders + nation_value_concentration stay gated
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate")
         >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate")
           < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    l = t["lineitem"].filter(F.col("l_returnflag") == "R")
    nat = t["nation"].select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "nation")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "nation")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "linestatus_priority_counts",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 shape (shipping modes / order priority): per-category "
        "high/low priority line counts via CASE buckets over a fact-fact "
        "join. (Fixture adaptation: the tables carry no l_shipmode or "
        "commit/receipt dates, so the grouping category is l_linestatus "
        "and the date predicate is the shipdate year — the CASE-bucketed "
        "dual-count aggregation over a pruned join, which is what Q12 "
        "stresses, is intact.) One shuffle joins the two pruned scans; "
        "both counts come from ONE aggregation pass.",
    tags=("q12",),
    extra=True,  # r14 rotation (gated r10-r13, green): A1 multi-metric twin order_priority_stats stays gated
)
def linestatus_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    l = t["lineitem"].filter(
        (F.col("l_shipdate")
         >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate")
           < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(t["orders"].select("o_orderkey", "o_orderpriority"),
               F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "part_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 4, 9, 14, 19)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (parts/supplier relationship): distinct-supplier "
        "counts per part attribute triple, excluding a NOT-IN supplier "
        "subquery. (Fixture adaptation: no partsupp table — the "
        "part-supplier relation is lineitem's (l_partkey, l_suppkey), and "
        "the 'complaints' exclusion is negative-balance suppliers.) "
        "Spark-first: NOT IN over a provably non-null key plans as a "
        "broadcast ANTI join (never the null-aware nested loop); the "
        "size/brand filters prune part BEFORE it broadcasts into the "
        "lineitem scan; one shuffle for the count-distinct aggregation.",
    tags=("q16", "anti-join"),
    extra=True,  # r14 rotation (gated r10-r13, green): count-distinct twin calendar_trends (unique_customers) re-gated r14; weekly_retention_cohorts stays gated
)
def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 14, 19)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad_supp),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "disjunctive_brand_revenue",
    oracle=f"""
    SELECT {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#7'  AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (discounted revenue, disjunctive predicates): "
        "three OR-ed brand/size/quantity conjunctions across a "
        "part⨝lineitem join. (Fixture adaptation: no p_container — the "
        "container IN-lists are dropped; the disjunction-over-join, "
        "which is what Q19 stresses, is intact.) Spark-first: the "
        "part-side disjuncts (brand+size) prefilter part BEFORE it "
        "broadcasts — Catalyst cannot push a mixed-side OR through the "
        "join on its own, so the derivable part-only implication "
        "(union of the three brand/size boxes) is written explicitly; "
        "the full disjunction remains as the residual join predicate. "
        "One broadcast join, one scalar aggregate, no shuffle.",
    tags=("q19", "disjunction"),
    extra=True,  # r14 rotation (gated r10-r13, green): P8 predicate twin segment_balance_filter stays gated
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = StarTables(spark, sf_dir)
    part_box = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15))
    )
    full = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    parts = t["part"].filter(part_box).select("p_partkey", "p_brand", "p_size")
    return (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .filter(full)
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue")
        )
    )
