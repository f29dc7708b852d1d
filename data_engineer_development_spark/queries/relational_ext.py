"""Relational-completeness extensions, wave 3: subqueries, grouping sets,
navigation windows, exact percentiles, and a TPC-H Q18-style big-orders
query.

The reference's SQL surface stops at DISTINCT + CASE (SURVEY.md §2.5); a
user switching an analytics workload onto this engine expects the rest of
the warehouse dialect, so these close the remaining gaps. SQL-text entries
run through ``spark.sql`` over registered views — the reference's native
idiom (all its semantics live in SQL strings, export_svg.py:209-694).

Exactness discipline: money/quantity aggregates accumulate in
DECIMAL(20,4) and comparisons happen in decimal (the scalar-subquery query
compares ``price*count > sum`` entirely in decimal rather than dividing to
a double average); percentile queries run on integral-valued quantities so
type-7 interpolation is exact in binary in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineer_development_spark.cache import local_checkpoint_tracked
from data_engineer_development_spark.sources import load_table, register_views


# --------------------------------------------------------------------------
# Correlated EXISTS (left-semi shape — Catalyst rewrites to a semi join,
# so the subquery never materializes per-row).
# --------------------------------------------------------------------------
_EXISTS_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
ORDER BY o_orderkey
"""


def q_exists_high_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_EXISTS_SQL)


# --------------------------------------------------------------------------
# Scalar subquery: parts priced above the mean — compared in DECIMAL as
# price*count > total so no engine ever rounds a double average.
# --------------------------------------------------------------------------
_SCALAR_SUBQ_SQL = """
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE CAST(p_retailprice AS DECIMAL(20,4)) * (SELECT COUNT(*) FROM part)
      > (SELECT SUM(CAST(p_retailprice AS DECIMAL(20,4))) FROM part)
ORDER BY p_partkey
"""


def q_scalar_subquery_pricey_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "part")
    return spark.sql(_SCALAR_SUBQ_SQL)


# --------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping() markers (ROLLUP/CUBE's general
# form; the markers disambiguate "NULL key" from "aggregated-over key").
# --------------------------------------------------------------------------
_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def q_grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_GROUPING_SETS_SQL)


# --------------------------------------------------------------------------
# Navigation windows: LAG/LEAD/NTILE/PERCENT_RANK over each customer's
# order sequence (ordering pinned to the unique key for determinism;
# percent_rank = (rank-1)/(n-1) — small-int division, exact in double).
# --------------------------------------------------------------------------
def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_orderkey").over(w).alias("prev_order"),
            F.lead("o_orderkey").over(w).alias("next_order"),
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_WINDOW_NAV_SQL = """
SELECT o_custkey, o_orderkey,
       LAG(o_orderkey) OVER w AS prev_order,
       LEAD(o_orderkey) OVER w AS next_order,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


# --------------------------------------------------------------------------
# Exact percentiles (type-7 / linear interpolation in both engines).
# l_quantity holds integral values, so quartile midpoints are exact
# binary fractions — bit-identical across engines.
# --------------------------------------------------------------------------
def q_quantiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("q25"),
            F.expr("percentile(l_quantity, 0.5)").alias("median"),
            F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        )
        .orderBy("l_returnflag")
    )


_QUANTILES_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS median,
       quantile_cont(l_quantity, 0.75) AS q75
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume orders. The 100 TB plan aggregates lineitem
# by its OWN key first (partial agg collapses map-side; the shuffle carries
# only (key, decimal) pairs, not orders columns) and applies the HAVING
# before the join, so only qualifying orderkeys ever reach the orders join.
# --------------------------------------------------------------------------
_BIG_ORDERS_THRESHOLD = 300


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dq = F.sum(F.col("l_quantity").cast("decimal(20,4)"))
    big = (
        li.groupBy("l_orderkey")
        .agg(dq.cast("double").alias("total_qty"))
        .filter(dq >= F.lit(_BIG_ORDERS_THRESHOLD))
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey", "o_orderdate", "total_qty")
        .orderBy("o_orderkey")
    )


_BIG_ORDERS_SQL = f"""
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS total_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey, o_custkey, o_orderdate
HAVING SUM(CAST(l_quantity AS DECIMAL(20,4))) >= {_BIG_ORDERS_THRESHOLD}
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# RANGE-frame moving window: 7-day order totals. The frame is RANGE over
# days-since-epoch (integer), so gaps in the calendar are handled by VALUE
# (a missing day contributes nothing) rather than by row offsets — the
# semantics ROWS BETWEEN gets wrong. One day-keyed pre-aggregate collapses
# the input to ≤ #days rows before the window sort — at 100 TB the window
# runs over thousands of rows, not trillions.
# --------------------------------------------------------------------------
_MOVING_7D_SPARK_SQL = """
WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
                      datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') AS dn,
                      COUNT(*) AS n,
                      SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS s
               FROM orders GROUP BY 1, 2)
SELECT d, CAST(SUM(n) OVER w AS BIGINT) AS n_orders_7d,
       CAST(SUM(s) OVER w AS DOUBLE) AS sum_price_7d
FROM daily WINDOW w AS (ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY d
"""

_MOVING_7D_DUCK_SQL = """
WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
                      CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS dn,
                      COUNT(*) AS n,
                      SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS s
               FROM orders GROUP BY 1, 2)
SELECT d, CAST(SUM(n) OVER w AS BIGINT) AS n_orders_7d,
       CAST(SUM(s) OVER w AS DOUBLE) AS sum_price_7d
FROM daily WINDOW w AS (ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY d
"""


def q_moving_7d_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "orders")
    return spark.sql(_MOVING_7D_SPARK_SQL)


# --------------------------------------------------------------------------
# Correlated MIN subquery: cheapest part(s) per brand. Catalyst decorrelates
# this into an aggregate + equi-join on p_brand — no per-row subquery
# execution — which is exactly the plan to want at scale.
# --------------------------------------------------------------------------
_CHEAPEST_SQL = """
SELECT p_brand, p_partkey, p_name, p_retailprice
FROM part p
WHERE p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                       WHERE p2.p_brand = p.p_brand)
ORDER BY p_brand, p_partkey
"""


def q_cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "part")
    return spark.sql(_CHEAPEST_SQL)


# --------------------------------------------------------------------------
# FILTER-clause conditional aggregation (ANSI; both engines support the
# same text). One hash-agg shuffle regardless of how many conditions ride
# along — the scalable alternative to N filtered subqueries.
# --------------------------------------------------------------------------
_FILTERED_AGG_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_highdisc,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,4)))
            FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS qty_hightax
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_FILTERED_AGG_SQL)


# --------------------------------------------------------------------------
# TPC-H Q10 shape: revenue lost to returned items, top 20 customers. The
# 100 TB plan: the returnflag filter prunes lineitem AT THE SCAN, the
# lineitem⋈orders join shuffles only the surviving rows, nation broadcasts,
# and the top-20 is a TakeOrdered (no global sort materialization). Ties
# are pinned by c_custkey so the limit is deterministic in both engines.
# --------------------------------------------------------------------------
def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    disc_price = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(5,4)")
        - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(disc_price), 4).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


_RETURNED_REVENUE_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
            * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(8,4)))), 4)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


# --------------------------------------------------------------------------
# UNPIVOT (inverse of the pivot in extras.py): wide metrics → long
# (key, metric, value) rows. Both engines accept the same standard syntax.
# Narrow-to-long is a flatMap-shaped projection — no shuffle.
# --------------------------------------------------------------------------
_UNPIVOT_SQL = """
SELECT p_partkey, metric, val FROM (
  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_d, p_retailprice AS price_d
  FROM part
) UNPIVOT (val FOR metric IN (size_d, price_d))
ORDER BY p_partkey, metric
"""


def q_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "part")
    return spark.sql(_UNPIVOT_SQL)


# --------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral shipping volume between two nations by year.
# The 100 TB plan: both nation dims broadcast (25 rows), the disjunctive
# nation-pair predicate evaluates AFTER the broadcast joins at map speed,
# and the only shuffles are the lineitem⋈orders / orders⋈customer key
# joins on the already-date-pruned lineitem. Year extraction happens once
# in a projection, never in the group key expression twice.
# --------------------------------------------------------------------------
_Q7_NATIONS = ("NATION_3", "NATION_7")


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    a, b = _Q7_NATIONS
    pair = (
        (F.col("supp_nation") == a) & (F.col("cust_nation") == b)
    ) | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
    disc_price = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(5,4)")
        - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum(disc_price), 4).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_VOLUME_SHIPPING_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
            * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(8,4)))), 4)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = '{_Q7_NATIONS[0]}' AND n2.n_name = '{_Q7_NATIONS[1]}')
    OR (n1.n_name = '{_Q7_NATIONS[1]}' AND n2.n_name = '{_Q7_NATIONS[0]}'))
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# TPC-H Q14 shape: promo revenue share for one ship-month. Conditional
# aggregation over a single scan: the date filter prunes lineitem, part
# broadcasts into the join, both sums accumulate in one pass (no second
# scan for the denominator). The share divides two exact decimal sums in
# IEEE double — deterministic in both engines.
# --------------------------------------------------------------------------
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(5,4)")
        - F.col("l_discount").cast("decimal(8,4)")
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
            F.lit(0).cast("decimal(22,8)")
        )
    )
    total = F.sum(disc_price)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * promo.cast("double")
                / total.cast("double")
            ).alias("promo_revenue_pct"),
            F.round(total, 4).cast("double").alias("total_revenue"),
        )
    )


_PROMO_REVENUE_SQL = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(5,4))
                         - CAST(l_discount AS DECIMAL(8,4)))
                 ELSE CAST(0 AS DECIMAL(22,8)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
              * (CAST(1 AS DECIMAL(5,4))
                 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
       AS promo_revenue_pct,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
            * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(8,4)))), 4)
            AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
"""


# --------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive multi-attribute predicate (OR of ANDs over
# brand × size × quantity). The part-side conjuncts sit under the OR, but
# Catalyst still pushes the common join key through, broadcasts part, and
# evaluates the whole disjunction codegen'd in the join output — no
# fallback to a cartesian, no per-arm scans (one lineitem pass).
# --------------------------------------------------------------------------
_Q19_ARMS_SPARK = (
    "(p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 "
    " AND l_quantity >= 1 AND l_quantity <= 20)",
    "(p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 "
    " AND l_quantity >= 10 AND l_quantity <= 30)",
    "(p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50 "
    " AND l_quantity >= 20 AND l_quantity <= 40)",
)


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(5,4)")
        - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.expr(" OR ".join(_Q19_ARMS_SPARK)))
        .agg(
            F.round(F.sum(disc_price), 4).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_DISJUNCTIVE_SQL = f"""
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
            * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(8,4)))), 4)
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {" OR ".join(_Q19_ARMS_SPARK)}
"""


# --------------------------------------------------------------------------
# TPC-H Q17 shape: small-quantity-order revenue with a CORRELATED 0.2×AVG
# scalar subquery, decorrelated the scale-correct way — restrict lineitem to
# the brand's parts via a broadcast join FIRST, compute per-part (sum, count)
# once (one shuffle over the reduced set), broadcast the tiny stats back.
# The 0.2×avg comparison is algebraically cleared of division:
# qty < sum/(5·cnt)  ⟺  qty·5·cnt < sum — all in DECIMAL, so both engines
# compare exactly.
# --------------------------------------------------------------------------
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li_b = li.join(
        F.broadcast(brand_parts), li.l_partkey == brand_parts.p_partkey
    ).select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(20,4)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(20,4)").alias("price"),
    )
    stats = li_b.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li_b.join(F.broadcast(stats.withColumnRenamed("l_partkey", "pk")),
                  F.col("l_partkey") == F.col("pk"))
        .filter(F.col("qty") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.round(F.sum("price"), 4).cast("double").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SMALL_QTY_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,4))), 4) AS DOUBLE)
           AS small_qty_revenue,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#23'
  AND CAST(l.l_quantity AS DECIMAL(20,4)) * 5
      * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(20,4)))
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


# --------------------------------------------------------------------------
# TPC-H Q21 shape: suppliers who kept finished orders waiting — the
# multi-EXISTS decorrelation (one semi join + one anti join, never a
# per-row subquery). "Late" is adapted to this star schema's columns
# (no receipt/commit dates): l_shipdate > o_orderdate + 90 days. The left
# side is nation-filtered EARLY (broadcast supplier⋈nation), while the
# semi/anti right sides stay unfiltered — the correlation is on the order,
# not the supplier's nation.
# --------------------------------------------------------------------------
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_3"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = late.join(F.broadcast(sup), late.l_suppkey == sup.s_suppkey)
    other = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    late_other = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    return (
        l1.join(
            other,
            (l1.l_orderkey == other.ok2) & (l1.l_suppkey != other.sk2),
            "left_semi",
        )
        .join(
            late_other,
            (F.col("l_orderkey") == late_other.ok3)
            & (F.col("l_suppkey") != late_other.sk3),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


_WAITING_SUPPLIERS_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


# --------------------------------------------------------------------------
# TPC-H Q4 shape (order priority checking), adapted to this slim schema:
# the published Q4 flags orders with a line where l_commitdate <
# l_receiptdate; those columns don't exist here, so the late-line predicate
# becomes l_shipdate > o_orderdate + 60 days — same decorrelation shape
# (EXISTS → left-semi join on the order key), same output (priority, count).
# Catalyst turns the EXISTS into a shuffle semi-join on o_orderkey; the
# date-window filter on orders prunes the probe side at the scan.
# --------------------------------------------------------------------------
_Q4_WINDOW = ("1996-07-01", "1996-10-01")
_Q4_LATE_DAYS = 60


def q_priority_order_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _Q4_WINDOW[0])
        & (F.col("o_orderdate") < _Q4_WINDOW[1])
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (
            li.l_shipdate
            > F.date_add(F.col("o_orderdate"), _Q4_LATE_DAYS)
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= DATE '{_Q4_WINDOW[0]}'
  AND o_orderdate < DATE '{_Q4_WINDOW[1]}'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL {_Q4_LATE_DAYS} DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# TPC-H Q8 shape (national market share): of ECONOMY-type part volume sold
# into the EUROPE region's customers by year, how much came from NATION_3
# suppliers? Division semantics differ across engines at ulp level, so the
# share ships as (numerator, denominator) decimal pair — the Q17 trick
# (division-free decimal compare) applied to reporting. Plan: region →
# nation → customer chain and both nation dims broadcast; the two big
# fact joins (lineitem⋈orders, lineitem⋈part) shuffle on their keys; the
# CASE numerator folds into the same aggregate pass as the denominator.
# --------------------------------------------------------------------------
_Q8_NATION = "NATION_3"
_Q8_REGION = "EUROPE"
_Q8_TYPE = "ECONOMY"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == _Q8_TYPE
    )
    nat_c = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == _Q8_REGION
    )
    nat_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(5,4)")
        - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(
                nat_c.join(
                    F.broadcast(region),
                    nat_c.n_regionkey == region.r_regionkey,
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .withColumn("vol", vol)
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == _Q8_NATION, F.col("vol")
                    ).otherwise(F.lit(0).cast("decimal(18,4)"))
                ),
                4,
            )
            .cast("double")
            .alias("nation_volume"),
            F.round(F.sum("vol"), 4).cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


_Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(ROUND(SUM(CASE WHEN n2.n_name = '{_Q8_NATION}'
                      THEN CAST(l_extendedprice AS DECIMAL(18,4))
                           * (1 - CAST(l_discount AS DECIMAL(8,4)))
                      ELSE CAST(0 AS DECIMAL(18,4)) END), 4) AS DOUBLE)
           AS nation_volume,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(8,4)))), 4) AS DOUBLE)
           AS total_volume
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = '{_Q8_TYPE}'
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey AND r_name = '{_Q8_REGION}'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# TPC-H Q22 shape (global sales opportunity), adapted: the published query
# keys on phone country codes (no c_phone here), so the cohort is keyed on
# the customer's nation. Semantics preserved: customers with
# above-average positive balances who never ordered, counted per nation.
# The avg compare is division-free (acctbal·N > S over the positive-balance
# cohort, DECIMAL cross-multiply — the Q17 discipline); the "never ordered"
# test is a left-anti join on o_custkey; the per-nation rollup broadcasts
# the 25-row nation dim. The global (N, S) pair arrives via a 1-row
# broadcast, not a collected scalar.
# --------------------------------------------------------------------------
def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(15,2)").alias("bal"),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    nation = load_table(spark, sf_dir, "nation")
    pos = cust.filter(F.col("bal") > 0)
    stats = pos.agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum("bal").alias("s_pos"),
    )
    rich = (
        pos.crossJoin(F.broadcast(stats))
        .filter(F.col("bal") * F.col("n_pos") > F.col("s_pos"))
        .select("c_custkey", "c_nationkey", "bal")
    )
    never_ordered = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        never_ordered.join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("bal"), 2).cast("double").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


_Q22_SQL = """
WITH pos AS (SELECT c_custkey, c_nationkey,
                    CAST(c_acctbal AS DECIMAL(15,2)) AS bal
             FROM customer WHERE CAST(c_acctbal AS DECIMAL(15,2)) > 0),
stats AS (SELECT COUNT(*) AS n_pos, SUM(bal) AS s_pos FROM pos),
rich AS (SELECT c_custkey, c_nationkey, bal
         FROM pos, stats WHERE bal * n_pos > s_pos)
SELECT n_name, COUNT(*) AS numcust,
       CAST(ROUND(SUM(bal), 2) AS DOUBLE) AS totacctbal
FROM rich
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = rich.c_custkey)
GROUP BY n_name ORDER BY n_name
"""


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): hop-bounded reachability over
# the customer↔supplier trading graph — how many distinct counterparties
# are within 1 and 2 hops of customer 1. The recursion is depth-bounded in
# the CTE itself (hop < 2), so the UnionLoop executes exactly 3 rounds no
# matter the data; each round is one equi-join against the edge list. The
# oracle is the SAME text: DuckDB evaluates WITH RECURSIVE identically.
# Complements operators/graph.py (hand-rolled iteration for UNBOUNDED
# depth with checkpointing) with the declarative form for bounded walks.
# --------------------------------------------------------------------------
_RECURSIVE_REACH_SQL = """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
                  CAST(l_suppkey + 1000000 AS BIGINT) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (SELECT c AS src, s AS dst FROM pairs
          UNION ALL SELECT s, c FROM pairs),
reach(node, hop) AS (
  SELECT CAST(1 AS BIGINT), 0
  UNION ALL
  SELECT e.dst, r.hop + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.hop < 2)
SELECT hop, COUNT(DISTINCT node) AS n_nodes
FROM reach GROUP BY hop ORDER BY hop
"""


_RECURSIVE_REACH_SPARK_SQL = """
WITH RECURSIVE reach(node, hop) AS (
  SELECT CAST(1 AS BIGINT), 0
  UNION ALL
  SELECT e.dst, r.hop + 1
  FROM reach r JOIN rec_edges e ON e.src = r.node
  WHERE r.hop < 2)
SELECT hop, COUNT(DISTINCT node) AS n_nodes
FROM reach GROUP BY hop ORDER BY hop
"""


def q_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the edge list BEFORE the recursion: Spark's UnionLoop
    # re-evaluates the recursive step's whole dependency tree every round,
    # so leaving the orders⋈lineitem edge derivation inside the CTE paid
    # the build 3× (measured 4.2 s → 2.2 s at sf0.1). The oracle keeps the
    # single-statement form — DuckDB materializes non-recursive CTEs once.
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("c"),
            (F.col("l_suppkey") + F.lit(1_000_000)).cast("long").alias("s"),
        )
        .distinct()
    )
    und, _ = local_checkpoint_tracked(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .union(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    )
    und.createOrReplaceTempView("rec_edges")
    return spark.sql(_RECURSIVE_REACH_SPARK_SQL)


# --------------------------------------------------------------------------
# LATERAL correlated subquery with LIMIT (Spark 4): top-2 orders per
# customer, written in the per-row idiom. Catalyst DECORRELATES it — the
# physical plan is a broadcast/hash join plus a per-group rank, never a
# per-customer nested loop (plan-asserted in tests/test_plans.py) — so the
# SQL-surface convenience costs nothing at scale. Same text runs as the
# DuckDB oracle.
# --------------------------------------------------------------------------
_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
WHERE c.c_custkey < 100
ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey
"""


def q_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_LATERAL_TOPK_SQL)


QUERIES = {
    "exists_high_quantity": q_exists_high_quantity,
    "scalar_subquery_pricey_parts": q_scalar_subquery_pricey_parts,
    "grouping_sets_lineitem": q_grouping_sets_lineitem,
    "window_navigation": q_window_navigation,
    "quantiles_quantity": q_quantiles_quantity,
    "big_orders": q_big_orders,
    "moving_7d_orders": q_moving_7d_orders,
    "cheapest_part_per_brand": q_cheapest_part_per_brand,
    "filtered_agg": q_filtered_agg,
    "unpivot_part_metrics": q_unpivot_part_metrics,
    "returned_item_revenue": q_returned_item_revenue,
    "volume_shipping": q_volume_shipping,
    "promo_revenue": q_promo_revenue,
    "disjunctive_revenue": q_disjunctive_revenue,
    "small_qty_revenue": q_small_qty_revenue,
    "waiting_suppliers": q_waiting_suppliers,
    "priority_order_check": q_priority_order_check,
    "market_share": q_market_share,
    "sales_opportunity": q_sales_opportunity,
    "recursive_reachability": q_recursive_reachability,
    "lateral_topk_orders": q_lateral_topk_orders,
}

ORACLE = {
    "exists_high_quantity": _EXISTS_SQL,
    "scalar_subquery_pricey_parts": _SCALAR_SUBQ_SQL,
    "grouping_sets_lineitem": _GROUPING_SETS_SQL,
    "window_navigation": _WINDOW_NAV_SQL,
    "quantiles_quantity": _QUANTILES_SQL,
    "big_orders": _BIG_ORDERS_SQL,
    "moving_7d_orders": _MOVING_7D_DUCK_SQL,
    "cheapest_part_per_brand": _CHEAPEST_SQL,
    "filtered_agg": _FILTERED_AGG_SQL,
    "unpivot_part_metrics": _UNPIVOT_SQL,
    "returned_item_revenue": _RETURNED_REVENUE_SQL,
    "volume_shipping": _VOLUME_SHIPPING_SQL,
    "promo_revenue": _PROMO_REVENUE_SQL,
    "disjunctive_revenue": _DISJUNCTIVE_SQL,
    "small_qty_revenue": _SMALL_QTY_SQL,
    "waiting_suppliers": _WAITING_SUPPLIERS_SQL,
    "priority_order_check": _Q4_SQL,
    "market_share": _Q8_SQL,
    "sales_opportunity": _Q22_SQL,
    "recursive_reachability": _RECURSIVE_REACH_SQL,
    "lateral_topk_orders": _LATERAL_TOPK_SQL,
}
