"""Relational benchmark queries (TPC-H-style, adapted to the driver's
star schema) — DataFrame implementations + DuckDB oracles.

Plan-shape rules applied throughout (checked with ``explain("formatted")``):
filters precede joins so parquet scans receive pushed-down predicates and
pruned columns; dimension joins stay broadcast-shaped so the only shuffles
are the final aggregations; aggregates are aliased identically to the
oracle.

Broadcast policy (SCALE.md "Broadcast policy"): ``F.broadcast``
is PINNED only on frames whose size is scale-invariant — nation/region
(25/5 rows) and output-bounded aggregates (1-row thresholds, per-priority
5-row tables, per-returnflag sketches). Dimensions that GROW with scale
factor (part / customer / supplier and frames derived from them) carry NO
hint: at test scales the optimizer broadcasts them anyway (pruned-scan
estimates sit under ``autoBroadcastJoinThreshold``, so plans are unchanged
— the star-join plan contract still asserts the BroadcastHashJoins), and
at 100 TB (~20 B parts) the same query degrades gracefully to a shuffle
join with AQE free to flip the build side, instead of dying on the 8 GB
broadcast limit / driver OOM a pinned hint would force.

Floating-point determinism: SUM over doubles is order-dependent (different
partitionings → different associativity → last-ulp differences that can
flip a rounded cent). All money sums therefore accumulate in DECIMAL —
exact, order-independent, identical across engines — and cast back to
DOUBLE for a stable comparable value. Averages are exact-sum / count.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pywrangler_spark.queries import register
from pywrangler_spark.sources import sf_table


def dsum(col: Column, scale: int = 6) -> Column:
    """Order-independent sum of a double column: accumulate exactly in
    DECIMAL(27,scale), return DOUBLE — reproducible under any partitioning
    or merge order, which a plain double SUM is not.

    The scale must be >= the number of decimal digits in the summed values
    so the double→decimal conversion is *exact* (engines disagree on
    rounding at half-boundaries: JVM BigDecimal rounds the shortest decimal
    repr, DuckDB the true binary value). Source money columns are 2dp, so
    products of up to three of them are exact at scale 6."""
    return F.sum(col.cast(f"decimal(27,{scale})")).cast("double")


def _dsum_sql(expr: str, scale: int = 6) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(27,{scale}))) AS DOUBLE)"


_REVENUE = "l_extendedprice * (1 - l_discount)"


_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity')} AS sum_qty,
       {_dsum_sql('l_extendedprice')} AS sum_base_price,
       {_dsum_sql(_REVENUE)} AS sum_disc_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}
           AS sum_charge,
       {_dsum_sql('l_quantity')} / count(*) AS avg_qty,
       {_dsum_sql('l_extendedprice')} / count(*) AS avg_price,
       {_dsum_sql('l_discount', 6)} / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            (dsum(F.col("l_quantity")) / cnt).alias("avg_qty"),
            (dsum(F.col("l_extendedprice")) / cnt).alias("avg_price"),
            (dsum(F.col("l_discount"), 6) / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


_Q3_ORACLE = f"""
SELECT l_orderkey,
       {_dsum_sql(_REVENUE)} AS revenue,
       CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = sf_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = sf_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = sf_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_Q5_ORACLE = f"""
SELECT n_name, {_dsum_sql(_REVENUE)} AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@register("q5_local_supplier_volume", oracle=_Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = sf_table(spark, sf_dir, "region")
    nation = sf_table(spark, sf_dir, "nation")
    cust = sf_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = sf_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = sf_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = sf_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    # Region restriction rides a broadcast LEFT SEMI against the bounded
    # nation-key set: a semi join's size estimate is its LEFT side, so
    # cust keeps its scan-based estimate (an inner cust x nation-x-region
    # join would estimate as the PRODUCT of the sides and force the fact
    # join to SortMergeJoin even at test scale). n_name is attached to
    # the fact afterwards via the pinned bounded-nation broadcast.
    nr_keys = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    cust_f = cust.join(
        F.broadcast(nr_keys),
        cust.c_nationkey == F.col("n_nationkey"),
        "left_semi",
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_f, orders.o_custkey == cust_f.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust_f.c_nationkey),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


_Q6_ORACLE = f"""
SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-07-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name, {_dsum_sql(_REVENUE)} AS revenue,
       c_acctbal, n_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1998-07-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
"""


@register("q10_returned_items", oracle=_Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = sf_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = sf_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = sf_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = sf_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-07-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@register("q4_order_priority", oracle=_Q4_ORACLE)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = sf_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = sf_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_TOP3_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
)
WHERE rn <= 3
"""


@register("top3_orders_per_customer", oracle=_TOP3_ORACLE)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = sf_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 3)


_ROLLUP_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_extendedprice')} AS sum_base_price,
       count(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("rollup_pricing", oracle=_ROLLUP_ORACLE)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


_SUPPLIER_ORACLE = f"""
SELECT s_suppkey, s_name, {_dsum_sql(_REVENUE)} AS total_revenue
FROM supplier
JOIN lineitem ON l_suppkey = s_suppkey
WHERE l_shipdate >= TIMESTAMP '1998-07-01'
  AND l_shipdate < TIMESTAMP '1997-07-01'
GROUP BY s_suppkey, s_name
"""


@register("q15_top_supplier", oracle=_SUPPLIER_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = sf_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-07-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("total_revenue")
        )
    )


_CUBE_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity')} AS sum_qty,
       count(*) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("cube_quantities", oracle=_CUBE_ORACLE)
def cube_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


_PIVOT_ORACLE = f"""
SELECT l_returnflag,
       {_dsum_sql("CASE WHEN l_linestatus = 'O' THEN l_extendedprice END")}
           AS status_o,
       {_dsum_sql("CASE WHEN l_linestatus = 'F' THEN l_extendedprice END")}
           AS status_f
FROM lineitem
GROUP BY l_returnflag
"""


@register("pivot_status_revenue", oracle=_PIVOT_ORACLE)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum(F.col("l_extendedprice")))
        .select(
            "l_returnflag",
            F.col("O").alias("status_o"),
            F.col("F").alias("status_f"),
        )
    )


_SETOPS_ORACLE = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_totalprice > 150000
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


@register("setops_building_big_spenders", oracle=_SETOPS_ORACLE)
def setops_building_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = sf_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey").alias("custkey"))
    orders = sf_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    filled = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return cust.intersect(big).exceptAll(filled.distinct())


_DISTINCT_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
"""


@register("distinct_counts", oracle=_DISTINCT_ORACLE)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {_dsum_sql(_REVENUE)} AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND n1.n_nationkey < 5 AND n2.n_nationkey < 5
  AND n1.n_nationkey <> n2.n_nationkey
GROUP BY 1, 2, 3
"""


@register("q7_nation_volume", oracle=_Q7_ORACLE)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    supp = sf_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = sf_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = sf_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = sf_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5)
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("n1_key") != F.col("n2_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


_Q14_ORACLE = f"""
SELECT {_dsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) END")}
           AS promo_revenue,
       {_dsum_sql(_REVENUE)} AS total_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
"""


@register("q14_promo_revenue", oracle=_Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = sf_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", rev)).alias(
                "promo_revenue"
            ),
            dsum(rev).alias("total_revenue"),
        )
    )


_Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
       o_totalprice, {_dsum_sql('l_quantity')} AS sum_qty
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
HAVING sum(l_quantity) > 150
"""


@register("q18_large_orders", oracle=_Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = sf_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = sf_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    li = sf_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )


_Q19_ORACLE = f"""
SELECT {_dsum_sql(_REVENUE)} AS revenue, count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 5 AND l_quantity <= 25)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity >= 10 AND l_quantity <= 35)
"""


@register("q19_discounted_revenue", oracle=_Q19_ORACLE)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = sf_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    cond1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(5, 25)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    )
    return joined.filter(cond1 | cond2).agg(
        dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# approximate distinct (HLL) — algorithm-specific estimates can't be
# oracle-matched against DuckDB's sketch; validated in tests against the
# exact count within HLL error bounds, driver records rows-only
# HLL estimates are engine-specific, so the oracle checks the part it
# can know: the exact count, plus a deterministic boolean asserting the
# sketch landed within 5× its configured rsd (0.01 → ±5% band). A
# regressed/miswired sketch flips the boolean and fails the hash match.
_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_band
FROM lineitem
GROUP BY l_returnflag
"""


@register("approx_distinct_parts", oracle=_APPROX_DISTINCT_ORACLE)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup FIRST, then sketch+count the deduped keys. Putting
    # countDistinct and approx_count_distinct in one agg triggers the
    # Expand distinct-rewrite, which drags the rsd=0.01 HLL buffer
    # (2^14 registers) through a per-(group, key) partial aggregate —
    # measured 17x slower at sf0.1. Same results, one scan either way.
    li = sf_table(spark, sf_dir, "lineitem")
    dedup = li.select("l_returnflag", "l_partkey").distinct()
    approx = F.approx_count_distinct("l_partkey", 0.01)
    exact = F.count(F.lit(1))
    return dedup.groupBy("l_returnflag").agg(
        exact.alias("exact_parts"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.lit(0.05) * exact.cast("double")
        ).alias("within_band"),
    )


# ---- q13: customer order-count distribution -------------------------------
# Adapted: the reference TPC-H filter on o_comment has no column here; the
# stand-in exclusion is '1-URGENT' priority. Shape is the interesting part:
# an outer join between two LARGE tables (no broadcast at scale — shuffle
# on custkey, AQE picks SMJ) followed by a tiny re-aggregation.

_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
) counted
GROUP BY c_count
"""


@register("q13_order_distribution", oracle=_Q13_ORACLE)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = sf_table(spark, sf_dir, "customer").select("c_custkey")
    orders = sf_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    counted = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counted.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---- q17: small-quantity-order revenue ------------------------------------
# Correlated scalar subquery (per-part average) decorrelated Spark-first:
# pre-aggregate lineitem per partkey (map-side partial agg), broadcast the
# filtered part dim into BOTH the fact scan and the aggregate, and compare
# 5 * qty * cnt < sum_qty entirely in DECIMAL — exact in both engines, so
# the threshold can never flip on a last-ulp difference (a double AVG is
# associativity-dependent).

_Q17_ORACLE = """
WITH brand_parts AS (
    SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'
), per_part AS (
    SELECT l_partkey,
           SUM(CAST(l_quantity AS DECIMAL(27,6))) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem JOIN brand_parts ON l_partkey = p_partkey
    GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0
           AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem
JOIN per_part ON lineitem.l_partkey = per_part.l_partkey
WHERE CAST(5 AS DECIMAL(27,6)) * CAST(l_quantity AS DECIMAL(27,6)) * cnt
      < sum_qty
"""


@register("q17_small_quantity_revenue", oracle=_Q17_ORACLE)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    brand_parts = sf_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    li = sf_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    dec = lambda c: c.cast("decimal(27,6)")  # noqa: E731
    per_part = (
        li.join(brand_parts, li.l_partkey == brand_parts.p_partkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(dec(F.col("l_quantity"))).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    joined = li.alias("li").join(
        per_part.alias("pp"),
        F.col("li.l_partkey") == F.col("pp.l_partkey"),
    )
    small = joined.filter(
        dec(F.lit(5)) * dec(F.col("li.l_quantity")) * F.col("pp.cnt")
        < F.col("pp.sum_qty")
    )
    return small.agg(
        (dsum(F.col("li.l_extendedprice")) / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---- q8: national market share --------------------------------------------
# Share of ECONOMY-part revenue delivered by NATION_5 suppliers to AMERICA
# customers, per order year. Star shape: every dimension (part, supplier,
# nation, region, customer-side reduction) broadcasts; the two fact tables
# (lineitem, orders) join on orderkey. Exact-decimal sums make the share
# division deterministic across engines.

_Q8_ORACLE = f"""
WITH amer_cust AS (
    SELECT c_custkey
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
)
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       {_dsum_sql("CASE WHEN n_name = 'NATION_5' THEN l_extendedprice * (1 - l_discount) END")}
           AS nation_revenue,
       {_dsum_sql(_REVENUE)} AS total_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN amer_cust ON o_custkey = c_custkey
WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY 1
"""


@register("q8_market_share", oracle=_Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = sf_table(spark, sf_dir, "nation")
    region = sf_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    # Bounded-side restrictions ride broadcast LEFT SEMI joins (estimate =
    # left side, so cust keeps its scan-based size); the supplier nation
    # NAME is attached to the fact after the supplier join via the pinned
    # bounded-nation broadcast — pre-joining supplier x nation would give
    # the frame a product size estimate and force a SortMergeJoin.
    amer_keys = nation.join(
        F.broadcast(region), F.col("n_regionkey") == region.r_regionkey
    ).select("n_nationkey")
    amer_cust = (
        sf_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(amer_keys),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("c_custkey")
    )
    part = sf_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    supp = sf_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = sf_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = sf_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(amer_cust, orders.o_custkey == amer_cust.c_custkey, "leftsemi")
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            dsum(F.when(F.col("n_name") == "NATION_5", rev)).alias(
                "nation_revenue"
            ),
            dsum(rev).alias("total_revenue"),
        )
    )


# ---- q22: dormant high-balance customers ----------------------------------
# Adapted: no c_phone column, so the country-code grouping becomes the
# nation key. Above-average positive balance (exact-decimal average,
# broadcast as a 1-row scalar — no driver collect) and an anti-join
# against recent orders for "dormant since 1999".

_Q22_CUTOFF = "1999-01-01"

_Q22_ORACLE = f"""
WITH threshold AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
               AS avg_bal
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS totacctbal
FROM customer, threshold
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}'
  )
GROUP BY c_nationkey
"""


@register("q22_dormant_balances", oracle=_Q22_ORACLE)
def q22_dormant_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = sf_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    threshold = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal")
    )
    orders = (
        sf_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


# ---- salted join equivalence ----------------------------------------------
# Revenue per order priority via a SALTED lineitem->orders join (the
# hot-key mitigation path). The oracle is the plain join: salting must be
# invisible in the result. Salt fan-out 8; orders replicated 8x, lineitem
# rows spread uniformly across composite keys.

_SALTED_ORACLE = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       {_dsum_sql(_REVENUE)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


@register("salted_priority_revenue", oracle=_SALTED_ORACLE)
def salted_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware fact/dim join: measure-then-salt. Uniformly salting
    this join (round 1-4 form) replicated orders 8x through the shuffle
    on a key with NO skew — 6 s of plain join became ~90 s at sf10,
    pure replication tax. adaptive_salted_join detects hot keys first
    (two bounded fit jobs) and salts only those; TPC-H orderkeys are
    uniform, so the detector correctly finds none and the join runs
    plain. The salted route itself is equivalence-tested on genuinely
    skewed data in tests/test_skew.py."""
    from pywrangler_spark.operators.skew import adaptive_salted_join

    li = sf_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice", "l_discount"
    )
    orders = sf_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.transform(adaptive_salted_join(orders, "k", n_salts=8, seed=42))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum(rev).alias("revenue"))
    )


# ---- q9: product-type profit by nation and year ---------------------------
# Adapted: no partsupp table, so supply cost is stood in by
# p_retailprice * l_quantity. Shape preserved: two broadcast dims into the
# fact, a fact-fact join on orderkey, two-key aggregation. Profit terms
# are decimal-exact so the grouped sums match bit-for-bit.

_Q9_ORACLE = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       {_dsum_sql('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity')}
           AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l_orderkey
GROUP BY 1, 2
"""


@register("q9_product_profit", oracle=_Q9_ORACLE)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = sf_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey", "p_retailprice")
    # n_name attaches to the fact AFTER the supplier join via the pinned
    # bounded-nation broadcast: a pre-joined supplier x nation frame would
    # carry a product size estimate and lose its auto-broadcast.
    supp = sf_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = sf_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = sf_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = sf_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit).alias("profit"))
    )


# ---- q12: late-shipment priority counts -----------------------------------
# Adapted: no l_shipmode/l_receiptdate; "late" = shipped more than 60 days
# after order date, grouped by line status. The shape is the point: a
# LARGE-LARGE join (lineitem x orders — no broadcast at scale) whose
# predicate spans both sides, then a tiny CASE-aggregation.

_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


@register("q12_late_shipments", oracle=_Q12_ORACLE)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q12(
        sf_table(spark, sf_dir, "lineitem"), sf_table(spark, sf_dir, "orders")
    )


def _q12(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    orders = orders.select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = lineitem.select("l_orderkey", "l_linestatus", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---- q16: supplier diversity per brand/size -------------------------------
# Adapted: no partsupp, so the part-supplier relation is derived from
# lineitem (distinct partkey x suppkey pairs actually traded). Distinct
# aggregation over a filtered broadcast-dim join.

_Q16_ORACLE = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3' AND p_size IN (1, 5, 11, 20, 28, 37)
GROUP BY 1, 2
"""


@register("q16_supplier_diversity", oracle=_Q16_ORACLE)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = sf_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & F.col("p_size").isin(1, 5, 11, 20, 28, 37)
    ).select("p_partkey", "p_brand", "p_size")
    li = sf_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---- global top-k: TakeOrderedAndProject ----------------------------------
# ORDER BY + LIMIT over a big table: Spark plans TakeOrderedAndProject —
# per-partition top-k then a k-row merge on the driver, NO global sort
# shuffle (asserted in tests/test_plans.py).

_TOPK_ORDERS_ORACLE = """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register("topk_expensive_orders", oracle=_TOPK_ORDERS_ORACLE)
def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        sf_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# ---- exact quantiles per group --------------------------------------------
# quantile_cont semantics (linear interpolation between order stats)
# WITHOUT per-group value materialization: `percentile()` collects every
# raw value of a group into one reducer (326 MB into 3 tasks at sf10,
# unbounded at 100 TB), so the exact tier computes the identical
# interpolated statistic as a weighted median over distinct
# (group, value) pairs — `operators.quantile.group_quantiles`. The
# shuffle carries each distinct value once with its count; the only
# sort is over distinct values. `approx_quantiles_prices` is the
# sketch tier of the same statistic.

_QUANTILES_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       ROUND(quantile_cont(l_quantity, 0.5), 4)      AS p50_qty
FROM lineitem
GROUP BY 1
"""


@register("quantiles_prices", oracle=_QUANTILES_ORACLE)
def quantiles_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.quantile import group_quantiles

    li = sf_table(spark, sf_dir, "lineitem")
    return li.transform(
        group_quantiles(
            ["l_extendedprice", "l_quantity"],
            [[0.5, 0.9], [0.5]],
            "l_returnflag",
            output_columns=[["p50_price", "p90_price"], ["p50_qty"]],
            round_digits=4,
        )
    )


# ---- grouping sets --------------------------------------------------------
# The general form behind rollup/cube (both already covered): revenue at
# (status, priority), (status), and () granularities in ONE pass — one
# shuffle, each input row expanded once per grouping set it belongs to.

_GSETS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       {_dsum_sql('o_totalprice')} AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


@register("groupingsets_order_revenue", oracle=_GSETS_ORACLE)
def groupingsets_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = sf_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        dsum(F.col("o_totalprice")).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---- argmax per group: top event per user via max_by ----------------------
# One-pass argmax (no rank window, no self-join): per order priority, the
# single most expensive order. max_by is the declarative form Catalyst
# executes as a partial/final aggregate — the shuffle carries one row per
# group, vs. a row_number window shuffling every row. The orderkey
# tiebreak is encoded in the comparison struct so both engines agree.

_ARGMAX_ORACLE = """
SELECT o_orderpriority, o_orderkey AS top_orderkey,
       o_totalprice AS top_totalprice
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY o_orderpriority
        ORDER BY o_totalprice DESC, o_orderkey
    ) AS rn
    FROM orders
)
WHERE rn = 1
"""


@register("argmax_order_per_priority", oracle=_ARGMAX_ORACLE)
def argmax_order_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = sf_table(spark, sf_dir, "orders")
    rank_key = F.struct(
        F.col("o_totalprice"), (-F.col("o_orderkey")).alias("nk")
    )
    return orders.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", rank_key).alias("top_orderkey"),
        F.max("o_totalprice").alias("top_totalprice"),
    )


# ---- q21: suppliers who kept multi-supplier orders waiting ---------------
# Adapted (no l_receiptdate/nation filter): "late" = shipped >60 days
# after order date. TPC-H phrases this as EXISTS (another supplier on
# the order) AND NOT EXISTS (another LATE supplier) — correlated twice.
# Decorrelated Spark-first into two aggregations: per (order, supplier)
# late flag, then per order count suppliers / late suppliers and keep
# orders with >1 supplier where exactly ONE was late. No correlated
# subqueries, no self-joins of lineitem — two shuffles total, both on
# orderkey (AQE reuses the partitioning for the second).

_Q21_ORACLE = """
WITH flagged AS (
    SELECT l_orderkey,
           l_suppkey,
           MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END) AS is_late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
), per_order AS (
    SELECT l_orderkey,
           COUNT(*) AS n_supp,
           SUM(is_late) AS n_late,
           MAX(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
    FROM flagged
    GROUP BY 1
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY 1
"""


@register("q21_waiting_supplier", oracle=_Q21_ORACLE)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q21(
        spark,
        sf_dir,
        sf_table(spark, sf_dir, "lineitem"),
        sf_table(spark, sf_dir, "orders"),
    )


def _q21(
    spark: SparkSession, sf_dir: str, lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    orders = orders.select("o_orderkey", "o_orderdate")
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    flagged = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("is_late"))
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias(
            "late_supp"
        ),
    )
    supp = sf_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(supp, F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---- bucketed fact-fact twins (q21 / q12 on a co-located layout) ----------
# The recurring lineitem x orders join is THE fact-fact shuffle of this
# schema: q21 and q12 both pay a full exchange of both sides on orderkey
# every run. Bucketing both tables by orderkey into the same bucket count
# (sources/bucketed.py) pays that shuffle ONCE at write time; every
# subsequent join reads co-located, bucket-sorted files and plans with
# ZERO shuffle Exchange under the join (asserted in
# tests/test_plan_contracts.py). These twins run the exact q21/q12 logic
# on that layout against the same oracles — the measured end-to-end
# demonstration that at 100 TB a recurring fact-fact join is a layout
# decision, not a per-query cost. One layout serves both queries (and
# q21's two orderkey aggregations ride the bucket partitioning too — its
# only shuffle is the final tiny s_name aggregate).

def _fact_buckets(n_rows: int) -> int:
    """Bucket count for the orderkey layout, derived from the fact's
    size — the suggest_ann_params treatment for the one layout constant
    left. Target ~500k rows per bucket, power of 2, clamped [32, 4096]:
    reproduces the measured r8 optimum (128 at sf10's 60M rows — 128
    beat 32 because SMALLER per-bucket aggregate hash tables beat fewer
    task waves) and keeps growing past it (2048 at sf100's 600M rows,
    where a pinned 128 put ~4.7M orderkeys in every task's aggregate
    hash table — measured 36.8x/decade and 184 GB of summed task peaks
    before this schedule, artifacts/bench_sf100_subset.json). Bucket count is a
    WRITE-time layout decision: at 100 TB you size buckets so one
    bucket's rows fit a task, you don't pin last year's constant."""
    target = max(32, n_rows // 500_000)
    return min(4096, 1 << (target - 1).bit_length())


def _ensure_bucketed_facts(spark: SparkSession, sf_dir: str) -> tuple:
    """Write lineitem/orders as orderkey-bucketed catalog tables for this
    sf_dir if this session has not already done so; returns table names.

    The write is the one-time layout cost (a single shuffle-by-orderkey
    write per table lifetime, amortized over every recurring join); the
    session catalog remembers the layout, so repeated queries in a
    session — the recurring-join model — pay zero exchanges. Projected
    to the columns the q21/q12 family needs to keep the local write
    cheap; production buckets the full fact table once for all queries.
    """
    import re as _re

    from pywrangler_spark.sources import write_bucketed_table

    tag = _re.sub(r"\W+", "_", os.path.basename(sf_dir.rstrip("/")))
    li_tbl, o_tbl = f"lineitem_bkt_{tag}", f"orders_bkt_{tag}"
    if not spark.catalog.tableExists(li_tbl):
        li = sf_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate", "l_linestatus",
            "l_quantity",
        )
        n_buckets = _fact_buckets(li.count())
        write_bucketed_table(
            li, li_tbl, "l_orderkey", n_buckets,
            sort_columns="l_orderkey",
        )
    else:
        n_buckets = None  # orders table must already match
    if not spark.catalog.tableExists(o_tbl):
        if n_buckets is None:
            n_buckets = _fact_buckets(
                sf_table(spark, sf_dir, "lineitem").count()
            )
        orders = sf_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority", "o_custkey",
            "o_totalprice",
        )
        write_bucketed_table(
            orders, o_tbl, "o_orderkey", n_buckets,
            sort_columns="o_orderkey",
        )
    return li_tbl, o_tbl


@register("q21_waiting_supplier_bucketed", oracle=_Q21_ORACLE)
def q21_waiting_supplier_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q21 on the orderkey-bucketed layout: the lineitem x orders join
    AND both per-orderkey aggregations reuse the storage partitioning —
    the only shuffle left is the final tiny s_name aggregate."""
    from pywrangler_spark.sources import read_table

    li_tbl, o_tbl = _ensure_bucketed_facts(spark, sf_dir)
    return _q21(
        spark,
        sf_dir,
        read_table(spark, li_tbl).hint("merge"),
        read_table(spark, o_tbl),
    )


@register("q12_late_shipments_bucketed", oracle=_Q12_ORACLE)
def q12_late_shipments_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q12 on the same orderkey-bucketed layout as the q21 twin (one
    layout, many queries): the large-large join is exchange-free; the
    only shuffle is the 2-group final aggregate."""
    from pywrangler_spark.sources import read_table

    li_tbl, o_tbl = _ensure_bucketed_facts(spark, sf_dir)
    return _q12(
        read_table(spark, li_tbl).hint("merge"), read_table(spark, o_tbl)
    )


@register("q18_large_orders_bucketed", oracle=_Q18_ORACLE)
def q18_large_orders_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q18 on the same orderkey-bucketed layout as the q21/q12 twins
    (the steepest remaining fact-fact decade line, 7.24x at r8): the
    lineitem x orders join is exchange-free AND sort-free (both sides
    storage-sorted on orderkey), and the per-order quantity aggregate
    rides the bucket partitioning too — HashPartitioning(orderkey) is a
    subset of the grouping keys, so no exchange until the tiny
    HAVING-filtered result joins customer (which AQE broadcasts at any
    scale where sum_qty > 150 stays selective)."""
    from pywrangler_spark.sources import read_table

    li_tbl, o_tbl = _ensure_bucketed_facts(spark, sf_dir)
    orders = read_table(spark, o_tbl).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    li = read_table(spark, li_tbl).select("l_orderkey", "l_quantity")
    cust = sf_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(cust, big.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )


# ---- unpivot / melt -------------------------------------------------------
# Wide -> long via the native DataFrame.unpivot (Expand under the hood:
# each row emits one output row per value column, scan-side, no shuffle
# until the aggregation). Long-form totals per measure as the oracle.

_UNPIVOT_ORACLE = f"""
SELECT measure,
       {_dsum_sql('val')} AS total,
       COUNT(*) AS n
FROM (
    SELECT 'price' AS measure, l_extendedprice AS val FROM lineitem
    UNION ALL
    SELECT 'quantity', l_quantity FROM lineitem
    UNION ALL
    SELECT 'discount', l_discount FROM lineitem
)
GROUP BY 1
"""


@register("unpivot_lineitem_measures", oracle=_UNPIVOT_ORACLE)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = sf_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_discount").alias("discount"),
    )
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["price", "quantity", "discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("measure").agg(
        dsum(F.col("val")).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


# ---- q2: minimum-cost supplier per part -----------------------------------
# Adapted (no partsupp table): a supplier's "cost" for a part is the
# minimum observed unit price (l_extendedprice / l_quantity) across its
# lineitems. For LARGE parts of size >= 40, keep the supplier(s) in
# EUROPE achieving the per-part minimum — ties preserved, as in TPC-H q2.
# Spark-first: the correlated MIN subquery decorrelates into a window
# min over p_partkey on the already-aggregated (part, supplier) rows —
# no join-back, and the second shuffle moves only the tiny aggregate.
# Unit prices are IEEE-identical in both engines (same division, same
# MIN lattice), so the equality filter is engine-stable.

_Q2_ORACLE = """
WITH costs AS (
    SELECT p_partkey, p_type, s_suppkey, s_name, s_acctbal, n_name,
           MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size >= 40 AND p_type = 'LARGE' AND r_name = 'EUROPE'
    GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, unit_cost
FROM costs
WHERE unit_cost = (SELECT MIN(unit_cost) FROM costs c2
                   WHERE c2.p_partkey = costs.p_partkey)
"""


@register("q2_min_cost_supplier", oracle=_Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = sf_table(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 40) & (F.col("p_type") == "LARGE")
    ).select("p_partkey", "p_type")
    nation = sf_table(spark, sf_dir, "nation")
    region = sf_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # EUROPE restriction rides a broadcast LEFT SEMI (estimate = supplier
    # scan, so the fact join keeps its auto-broadcast at test scale and
    # degrades gracefully at 100 TB); n_name attaches afterwards via the
    # pinned bounded-nation broadcast.
    euro_keys = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey")
    supp = (
        sf_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(euro_keys),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    )
    li = sf_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
    )
    costs = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("p_partkey", "p_type", "s_suppkey", "s_name",
                 "s_acctbal", "n_name")
        .agg(F.min("unit").alias("unit_cost"))
    )
    best = F.min("unit_cost").over(Window.partitionBy("p_partkey"))
    return (
        costs.withColumn("best", best)
        .filter(F.col("unit_cost") == F.col("best"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
                "unit_cost")
    )


# ---- q11: important parts by revenue share --------------------------------
# Adapted (no partsupp): a part is "important" when revenue from ASIA
# suppliers exceeds 0.0006 of the region total. The global-scalar
# subquery decorrelates into a re-aggregation of the per-part aggregate
# (tiny), broadcast back as a 1-row cross join — no global window, no
# second scan of lineitem.

_Q11_ORACLE = f"""
WITH per_part AS (
    SELECT l_partkey, {_dsum_sql(_REVENUE)} AS part_value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY 1
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > (SELECT SUM(part_value) * 0.0006 FROM per_part)
"""


@register("q11_important_parts", oracle=_Q11_ORACLE)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = sf_table(spark, sf_dir, "nation")
    region = sf_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = (
        sf_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.join(
                F.broadcast(region),
                nation.n_regionkey == region.r_regionkey,
            ).select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = sf_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    per_part = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(dsum(F.col("rev")).alias("part_value"))
    )
    total = per_part.agg(
        (F.sum("part_value") * F.lit(0.0006)).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


# ---- q20: suppliers with recent-heavy shipments of small parts ------------
# Adapted (no ps_availqty): keep suppliers whose mid-1998-onward shipped
# quantity of 'small %'-named parts exceeds half their all-time quantity
# for those parts. TPC-H phrases this as a doubly-nested correlated
# subquery; here both aggregates come from ONE conditional-aggregation
# pass over the semi-joined lineitem — one scan, one shuffle on
# l_suppkey, dimension broadcast.

_Q20_ORACLE = f"""
WITH shipped AS (
    SELECT l_suppkey,
           {_dsum_sql("CASE WHEN l_shipdate >= TIMESTAMP '1998-07-01'"
                      " THEN l_quantity ELSE 0 END", 2)} AS recent_qty,
           {_dsum_sql('l_quantity', 2)} AS total_qty
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small %'
    GROUP BY 1
)
SELECT s_name, s_acctbal, recent_qty, total_qty
FROM shipped JOIN supplier ON l_suppkey = s_suppkey
WHERE recent_qty > 0.5 * total_qty
"""


@register("q20_recent_part_suppliers", oracle=_Q20_ORACLE)
def q20_recent_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = sf_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small %")
    ).select("p_partkey")
    li = sf_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    recent = F.when(
        F.col("l_shipdate") >= F.lit("1998-07-01").cast("timestamp"),
        F.col("l_quantity"),
    ).otherwise(F.lit(0.0))
    shipped = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"),
                "left_semi")
        .groupBy("l_suppkey")
        .agg(
            dsum(recent, 2).alias("recent_qty"),
            dsum(F.col("l_quantity"), 2).alias("total_qty"),
        )
    )
    supp = sf_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return (
        shipped.filter(F.col("recent_qty") > 0.5 * F.col("total_qty"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "s_acctbal", "recent_qty", "total_qty")
    )


# ---- one-pass column profiling (data-quality stats) -----------------------
# All stats for all columns in ONE aggregation over ONE scan
# (operators.profile); the oracle recomputes per column and UNION ALLs —
# deliberately the naive multi-scan formulation, so agreement pins the
# single-pass rewrite.

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       COUNT(*) AS n_rows,
       COUNT({c}) AS n_nonnull,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_value,
       CAST(MAX({c}) AS DOUBLE) AS max_value
FROM lineitem"""
    for c in _PROFILE_COLS
)


@register("profile_lineitem_columns", oracle=_PROFILE_ORACLE)
def profile_lineitem_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null/distinct/min/max profile of the lineitem money columns —
    ``operators.profile.column_profile`` (single scan, single agg)."""
    from pywrangler_spark.operators.profile import column_profile

    return sf_table(spark, sf_dir, "lineitem").transform(
        column_profile(_PROFILE_COLS)
    )


# ---- fixed-width histogram of extended price ------------------------------
# Bin arithmetic is plain IEEE double ops — identical on any engine; the
# shuffle carries nbins partial rows per task.

_HIST_ORACLE = """
SELECT CAST(LEAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - 0.0) / 5000.0),
                  21) AS BIGINT) AS bin,
       COUNT(*) AS n_rows
FROM lineitem
WHERE CAST(l_extendedprice AS DOUBLE) BETWEEN 0.0 AND 110000.0
GROUP BY 1
"""


@register("histogram_extendedprice", oracle=_HIST_ORACLE)
def histogram_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """22-bin fixed-width histogram of l_extendedprice over [0, 110000]
    — ``operators.profile.histogram``."""
    from pywrangler_spark.operators.profile import histogram

    return (
        sf_table(spark, sf_dir, "lineitem")
        .transform(histogram("l_extendedprice", 0.0, 110000.0, 22))
        .select("bin", "n_rows")
    )


# ---- null-skew-safe left join ---------------------------------------------
# Keys nullified deterministically (custkey % 50 == 0) to model a
# nullable FK; the operator routes the null slice around the shuffle
# (nulls all hash to ONE partition in a plain left join — the worst
# skew key at scale). The oracle is the plain LEFT JOIN: same rows,
# different physical route.

_NULLJOIN_ORACLE = """
SELECT c.c_mktsegment AS segment,
       COUNT(*)        AS n_orders,
       COUNT(c.c_name) AS n_matched
FROM (
    SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL
                ELSE o_custkey END AS k
    FROM orders
) o
LEFT JOIN customer c ON o.k = c.c_custkey
GROUP BY 1
"""


@register("nullsafe_join_segments", oracle=_NULLJOIN_ORACLE)
def nullsafe_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join with a nullable FK via the null-bypass route —
    ``operators.skew.left_join_null_bypass``."""
    from pywrangler_spark.operators.skew import left_join_null_bypass

    orders = sf_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 50 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("k")
    )
    cust = sf_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name", "c_mktsegment"
    )
    joined = orders.transform(left_join_null_bypass(cust, "k"))
    return joined.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("c_name").alias("n_matched"),
    )


# ---- ranking-window suite (ntile / percent_rank / cume_dist / nth) --------
# The remaining SQL-standard ranking functions. o_orderpriority has 5
# distinct values, so the natural one-window plan caps parallelism at 5
# tasks forever (8.0x wall for 10x data at the sf1->sf10 decade).
# operators.rank.grouped_rank range-partitions the TOTAL sort order and
# rebuilds per-key ranks from two broadcast offset tables; ntile /
# percent_rank / cume_dist are then pure arithmetic over (rank, group
# size), and nth_value's "second cheapest per key" is a two-stage min
# aggregation (min, then min above it) broadcast back — no key-wise
# window anywhere. The orderBy includes o_orderkey so the order is
# total, which rank-derived percent_rank/cume_dist require (no peers).

_RANKS_ORACLE = """
SELECT o_orderkey,
       o_orderpriority,
       CAST(ntile(4) OVER w AS INT) AS price_quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       nth_value(o_orderkey, 2) OVER (
           PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS second_cheapest_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@register("window_rank_suite", oracle=_RANKS_ORACLE)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.rank import (
        grouped_rank,
        ntile_from_rank,
    )

    orders = sf_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    ranked = orders.transform(
        grouped_rank(
            "o_orderpriority",
            ["o_totalprice", "o_orderkey"],
            rank_column="_rk",
            group_size_column="_n",
        )
    )
    # global 2nd-cheapest per key WITHOUT min(struct) — struct extrema
    # plan as SortAggregate (full per-partition sort, measured as 2 of
    # the 4 sorts in the first rewrite); primitive mins stay in
    # HashAggregate, so these are three map-side-partial scans with
    # 5-row shuffles, broadcast back. Pass 1: cheapest price p1. Pass
    # 2: cheapest order at p1, and the next-higher price pa. Pass 3:
    # second-cheapest order at p1 (tie on price) and cheapest at pa;
    # the tie candidate wins when present ((p1,k) < (pa,k') always).
    price, okey = F.col("o_totalprice"), F.col("o_orderkey")
    p1 = orders.groupBy("o_orderpriority").agg(
        F.min(price).alias("_p1")
    )
    a2 = (
        orders.join(F.broadcast(p1), "o_orderpriority")
        .groupBy("o_orderpriority", "_p1")
        .agg(
            F.min(F.when(price == F.col("_p1"), okey)).alias("_k1"),
            F.min(F.when(price > F.col("_p1"), price)).alias("_pa"),
        )
    )
    m2 = (
        orders.join(F.broadcast(a2), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        (price == F.col("_p1"))
                        & (okey > F.col("_k1")),
                        okey,
                    )
                ),
                F.min(F.when(price == F.col("_pa"), okey)),
            ).alias("_second")
        )
    )
    rk, n = F.col("_rk"), F.col("_n")
    return ranked.join(F.broadcast(m2), "o_orderpriority", "left").select(
        "o_orderkey",
        "o_orderpriority",
        ntile_from_rank(rk, n, 4).alias("price_quartile"),
        F.round(
            F.when(n > 1, (rk - 1) / (n - 1)).otherwise(F.lit(0.0)), 6
        ).alias("pct_rank"),
        F.round(rk / n, 6).alias("cume"),
        F.when(rk >= 2, F.col("_second")).alias("second_cheapest_key"),
    )


# ---- approximate percentiles (sketch tier, band-gated oracle) -------------
# approx_percentile is the 100 TB percentile path (bounded-memory
# map-side sketch, no row movement — `quantiles_prices` is the exact
# tier). Like the HLL gate: the oracle checks the exact value plus a
# deterministic boolean that the sketch landed within a ±5% value band
# (accuracy=1000 → rank error ≤ 0.1%, far inside the band on this
# smooth price distribution; 10000 tripled the sketch-merge cost for
# precision the gate never uses). The exact tier is a WEIGHTED median
# over distinct (flag, price) pairs — `percentile()` collects every
# raw value per group into executor memory (the sf10 profile was 6.0s
# of a 6.6s query, and it OOMs long before 100 TB), whereas the pair
# aggregation shuffles only distinct values with counts, then
# interpolates from running-count coverage exactly like
# percentile()/quantile_cont (verified identical to the 4th decimal).

_APPROX_QUANTILES_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
       TRUE AS within_band
FROM lineitem
GROUP BY l_returnflag
"""


@register("approx_quantiles_prices", oracle=_APPROX_QUANTILES_ORACLE)
def approx_quantiles_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = sf_table(spark, sf_dir, "lineitem")
    # exact tier: weighted median over distinct (flag, price) pairs
    pairs = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("_c")
    )
    word = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_returnflag")
    x = pairs.select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("_v"),
        "_c",
        F.sum("_c").over(word).alias("_cum"),
        F.sum("_c").over(wall).alias("_n"),
    )
    # quantile_cont(0.5): values at 1-based ranks floor(p)+1 and
    # floor(p)+2 (p = (n-1)/2), linearly interpolated; a pair covers
    # rank i when cum - c < i <= cum
    p = (F.col("_n") - 1) * 0.5
    i0, i1 = F.floor(p) + 1, F.floor(p) + 2
    covers = lambda i: (F.col("_cum") >= i) & (
        F.col("_cum") - F.col("_c") < i
    )
    exact_df = x.groupBy("l_returnflag").agg(
        F.max(F.when(covers(i0), F.col("_v"))).alias("_v0"),
        F.max(F.when(covers(i1), F.col("_v"))).alias("_v1"),
        F.min("_n").alias("_n2"),
    )
    fr = ((F.col("_n2") - 1) * 0.5) - F.floor((F.col("_n2") - 1) * 0.5)
    exact_df = exact_df.select(
        "l_returnflag",
        F.round(
            F.col("_v0")
            + fr
            * (F.coalesce(F.col("_v1"), F.col("_v0")) - F.col("_v0")),
            4,
        ).alias("exact_p50"),
    )
    # sketch tier: bounded-memory approx, gated to the oracle's band
    sketch = li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.lit(0.5), F.lit(1000)
        ).alias("_approx")
    )
    return exact_df.join(F.broadcast(sketch), "l_returnflag").select(
        "l_returnflag",
        "exact_p50",
        (
            F.abs(F.col("_approx") - F.col("exact_p50"))
            <= F.lit(0.05) * F.abs(F.col("exact_p50"))
        ).alias("within_band"),
    )


# ---- snapshot drift profiling ----------------------------------------------
# Current snapshot = odd order keys, reference = even: the per-column
# drift report a production ingest runs before accepting a partition.
_DRIFT_ORACLE = """
WITH cur AS (
    SELECT count(*) AS n,
           count(o_totalprice) AS nn_p, count(DISTINCT o_totalprice) AS nd_p,
           CAST(min(o_totalprice) AS DOUBLE) AS mn_p,
           CAST(max(o_totalprice) AS DOUBLE) AS mx_p,
           count(o_custkey) AS nn_s, count(DISTINCT o_custkey) AS nd_s,
           CAST(min(o_custkey) AS DOUBLE) AS mn_s,
           CAST(max(o_custkey) AS DOUBLE) AS mx_s
    FROM orders WHERE o_orderkey % 2 = 1
), ref AS (
    SELECT count(*) AS n,
           count(o_totalprice) AS nn_p, count(DISTINCT o_totalprice) AS nd_p,
           CAST(min(o_totalprice) AS DOUBLE) AS mn_p,
           CAST(max(o_totalprice) AS DOUBLE) AS mx_p,
           count(o_custkey) AS nn_s, count(DISTINCT o_custkey) AS nd_s,
           CAST(min(o_custkey) AS DOUBLE) AS mn_s,
           CAST(max(o_custkey) AS DOUBLE) AS mx_s
    FROM orders WHERE o_orderkey % 2 = 0
)
SELECT 'o_totalprice' AS column_name,
       round((1.0 - cur.nn_p * 1.0 / cur.n) - (1.0 - ref.nn_p * 1.0 / ref.n), 6) AS null_rate_delta,
       round(cur.nd_p * 1.0 / nullif(ref.nd_p, 0), 6) AS distinct_ratio,
       round(cur.mn_p - ref.mn_p, 6) AS min_shift,
       round(cur.mx_p - ref.mx_p, 6) AS max_shift
FROM cur, ref
UNION ALL
SELECT 'o_custkey',
       round((1.0 - cur.nn_s * 1.0 / cur.n) - (1.0 - ref.nn_s * 1.0 / ref.n), 6),
       round(cur.nd_s * 1.0 / nullif(ref.nd_s, 0), 6),
       round(cur.mn_s - ref.mn_s, 6),
       round(cur.mx_s - ref.mx_s, 6)
FROM cur, ref
"""


@register("profile_drift_orders", oracle=_DRIFT_ORACLE)
def profile_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.profile import profile_drift

    orders = sf_table(spark, sf_dir, "orders")
    cur = orders.filter(F.col("o_orderkey") % 2 == 1)
    ref = orders.filter(F.col("o_orderkey") % 2 == 0)
    return cur.transform(
        profile_drift(ref, ["o_totalprice", "o_custkey"])
    )


_CORR_ORACLE = """
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
       round(corr(CAST(l_quantity AS DOUBLE),
                  CAST(l_extendedprice AS DOUBLE)), 6) AS corr
FROM lineitem
UNION ALL
SELECT 'l_quantity', 'l_discount',
       round(corr(CAST(l_quantity AS DOUBLE),
                  CAST(l_discount AS DOUBLE)), 6)
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', 'l_discount',
       round(corr(CAST(l_extendedprice AS DOUBLE),
                  CAST(l_discount AS DOUBLE)), 6)
FROM lineitem
"""


@register("correlation_lineitem", oracle=_CORR_ORACLE)
def correlation_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pywrangler_spark.operators.profile import correlation_matrix

    return sf_table(spark, sf_dir, "lineitem").transform(
        correlation_matrix(
            ["l_quantity", "l_extendedprice", "l_discount"]
        )
    )
