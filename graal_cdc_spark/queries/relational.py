"""R01–R34 — relational operator surface (SURVEY.md §2.4).

The reference has no joins/aggregates/windows/sorts/set-ops
(SURVEY.md §2.2); these queries declare the standard relational
surface of the new engine. All DataFrame-API (Catalyst-optimized);
R21 uses spark.sql to exercise the SQL entry point.

Determinism protocol (FIXTURES.md §4): UTC, decimal-cast before SUM,
total ORDER BY before LIMIT, aliases identical to the oracle SQL.

Scale notes are per-query; the common rules: filters/projections sit
directly on the parquet scan (pushdown), small dims are broadcast,
aggregates are partial (map-side) before the shuffle, windows shuffle
once on their partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graal_cdc_spark.build_once import build_once
from graal_cdc_spark.queries import QuerySpec, register
from graal_cdc_spark.session import run_concurrently
from graal_cdc_spark.sources.tables import (
    load_table,
    ordered_result,
    register_views,
)


def _r(name: str, description: str, spark_fn, oracle: str, ref: str = "") -> None:
    register(
        QuerySpec(
            name=name,
            category="relational",
            description=description,
            spark=spark_fn,
            oracle=oracle,
            reference=ref,
        )
    )


# ---------------------------------------------------------------------------
# R01 — parquet scan + projection + predicate (pushdown visible in .explain)
# ---------------------------------------------------------------------------


def _r01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
        )
        .orderBy("l_orderkey", "l_quantity", "l_partkey", "l_suppkey", "l_linenumber")
        .select("l_orderkey", "l_quantity")
        .limit(1000)
    )


_r(
    "r01_scan_filter_project",
    "parquet scan + projection + predicate pushdown",
    _r01,
    """
SELECT l_orderkey, l_quantity FROM (
  SELECT l_orderkey, l_quantity, l_partkey, l_suppkey, l_linenumber
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_discount BETWEEN 0.05 AND 0.07
  ORDER BY l_orderkey, l_quantity, l_partkey, l_suppkey, l_linenumber
  LIMIT 1000
) t
""",
)

# ---------------------------------------------------------------------------
# R02 — multi-measure hash aggregate (TPC-H Q1 shape)
# ---------------------------------------------------------------------------


def _r02(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Decimal-first: money/rate columns are 2-decimal values, so casting
    # each FACTOR to decimal is exact, and decimal × decimal is engine-
    # independent — unlike casting a double triple-product, whose
    # boundary rounding differs between engines.
    price_d = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_f = (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    tax_f = (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")
    return (
        ordered_result(li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("string").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("string").alias("sum_base_price"),
            F.sum((price_d * disc_f).cast("decimal(18,4)")).cast("string").alias("sum_disc_price"),
            F.sum((price_d * disc_f * tax_f).cast("decimal(18,6)")).cast("string").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        ), "l_returnflag", "l_linestatus")
    )


_r(
    "r02_hash_aggregate_q1",
    "multi-measure hash aggregate, decimal-exact (TPC-H Q1 shape)",
    _r02,
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS sum_base_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS STRING) AS sum_disc_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2)) AS DECIMAL(18,6))) AS STRING) AS sum_charge,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)

# ---------------------------------------------------------------------------
# R03 — inner equi-join + aggregate (TPC-H Q3 shape)
# ---------------------------------------------------------------------------


def _r03(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "MACHINERY")
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    revenue = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    ).alias("rev")
    top = (
        joined.groupBy("l_orderkey")
        .agg(revenue)
        .orderBy(F.col("rev").desc(), F.col("l_orderkey"))
        .limit(10)
    )
    return top.select("l_orderkey", F.col("rev").cast("string").alias("revenue"))


_r(
    "r03_join_agg_topk",
    "customer ⋈ orders ⋈ lineitem revenue top-10 (TPC-H Q3 shape)",
    _r03,
    """
SELECT l_orderkey, CAST(rev AS STRING) AS revenue FROM (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'MACHINERY'
  GROUP BY l_orderkey
  ORDER BY rev DESC, l_orderkey
  LIMIT 10
) t
""",
)

# ---------------------------------------------------------------------------
# R04 — broadcast join over small dims
# ---------------------------------------------------------------------------


def _r04(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    dim = F.broadcast(
        t["nation"].join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        ordered_result(t["customer"]
        .join(dim, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers")), "r_name")
    )


_r(
    "r04_broadcast_join",
    "broadcast join: customer ⋈ nation ⋈ region, count by region",
    _r04,
    """
SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""",
)

# ---------------------------------------------------------------------------
# R05 — left outer join + null handling
# ---------------------------------------------------------------------------


def _r05(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        ordered_result(t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .filter(F.col("o_orderkey").isNull())
        .select("c_custkey", "c_name"), "c_custkey")
    )


_r(
    "r05_left_outer_join",
    "customers with zero orders via LEFT JOIN ... IS NULL",
    _r05,
    """
SELECT c_custkey, c_name
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
WHERE o_orderkey IS NULL
ORDER BY c_custkey
""",
)

# ---------------------------------------------------------------------------
# R06 / R07 — left semi / left anti joins
# ---------------------------------------------------------------------------


def _r06(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 100000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_r(
    "r06_left_semi_join",
    "left semi join: customers having an order > 100000",
    _r06,
    """
SELECT CAST(count(*) AS BIGINT) AS cnt
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
""",
)


def _r07(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 100000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_r(
    "r07_left_anti_join",
    "left anti join: customers with NO order > 100000 (null-safe NOT EXISTS)",
    _r07,
    """
SELECT CAST(count(*) AS BIGINT) AS cnt
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
)
""",
)

# ---------------------------------------------------------------------------
# R08 — range/theta join (equi prefix + inequality)
# ---------------------------------------------------------------------------


def _r08(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    # Equi key carries the join; the inequality is a post-join predicate,
    # so this stays a hash/broadcast join, not a cartesian.
    return (
        t["part"]
        .join(
            t["lineitem"],
            (F.col("l_partkey") == F.col("p_partkey"))
            & (F.col("l_quantity") > F.col("p_size")),
        )
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("p_partkey"))
        .limit(20)
    )


_r(
    "r08_range_join",
    "range/theta join: lineitem quantity above part size",
    _r08,
    """
SELECT p_partkey, CAST(count(*) AS BIGINT) AS cnt
FROM part p JOIN lineitem l
  ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size
GROUP BY p_partkey
ORDER BY cnt DESC, p_partkey
LIMIT 20
""",
)

# ---------------------------------------------------------------------------
# R09 — as-of (event-time backward) join
# ---------------------------------------------------------------------------


def _r09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each 'purchase' event, the most recent strictly-prior 'error'
    event of the same user — windowed as-of formulation (single shuffle
    on user_id).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    err_id = F.when(F.col("event_type") == "error", F.col("event_id"))
    return (
        ordered_result(ev.withColumn("last_error_id", F.last(err_id, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "last_error_id"), "event_id")
    )


_r(
    "r09_asof_join",
    "as-of backward join: last prior error per purchase event",
    _r09,
    """
SELECT event_id, user_id, last_error_id FROM (
  SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_id
  FROM events
  WHERE event_type IN ('purchase','error')
) t
WHERE event_type = 'purchase'
ORDER BY event_id
""",
)

# ---------------------------------------------------------------------------
# R10 — rollup / grouping sets
# ---------------------------------------------------------------------------


def _r10(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        ordered_result(t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt")), 
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


_r(
    "r10_rollup",
    "GROUP BY ROLLUP(status, priority)",
    _r10,
    """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)

# ---------------------------------------------------------------------------
# R11 — exact distinct count
# ---------------------------------------------------------------------------


def _r11(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return t["orders"].agg(F.countDistinct("o_custkey").alias("n_custkeys"))


_r(
    "r11_count_distinct",
    "exact COUNT(DISTINCT); approx twin in operators (not gated)",
    _r11,
    "SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custkeys FROM orders",
)

# ---------------------------------------------------------------------------
# R12 — ranking window (top-3 orders per customer)
# ---------------------------------------------------------------------------


def _r12(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        ordered_result(t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3), "o_custkey", "rn")
    )


_r(
    "r12_ranking_window",
    "row_number/rank/dense_rank top-3 per customer",
    _r12,
    """
SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER w AS rn,
         rank()       OVER w AS rnk,
         dense_rank() OVER w AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
) t
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)

# ---------------------------------------------------------------------------
# R13 — analytic window + frame (running sum, lag)
# ---------------------------------------------------------------------------


def _r13(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_frame = w_order.rowsBetween(-2, 0)
    return (
        ordered_result(ev.select(
            "user_id",
            "event_id",
            # decimal-cast BEFORE the windowed sum: sliding-frame double
            # sums accumulate error differently per engine; decimal is exact.
            F.sum(F.col("value").cast("decimal(18,2)"))
            .over(w_frame)
            .cast("string")
            .alias("run_sum"),
            F.lag("value").over(w_order).alias("prev_value"),
        ), "user_id", "event_id")
    )


_r(
    "r13_analytic_window_frame",
    "SUM over ROWS 2 PRECEDING frame + LAG",
    _r13,
    """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS STRING) AS run_sum,
       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
FROM events
ORDER BY user_id, event_id
""",
)

# ---------------------------------------------------------------------------
# R14 — global top-k (sort + limit → TakeOrderedAndProject)
# ---------------------------------------------------------------------------


def _r14(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        t["orders"]
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


_r(
    "r14_global_topk",
    "global ORDER BY ... LIMIT (TakeOrderedAndProject, no full sort)",
    _r14,
    """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
)

# ---------------------------------------------------------------------------
# R15 — set operations
# ---------------------------------------------------------------------------


def _r15(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    c = t["customer"].select(F.col("c_nationkey").alias("nationkey"))
    s = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    return ordered_result(c.intersect(s), "nationkey")


_r(
    "r15_intersect",
    "INTERSECT of customer/supplier nation keys",
    _r15,
    """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)


def _r15b(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    c = t["customer"].select(F.col("c_nationkey").alias("nationkey"))
    s = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    return ordered_result(c.distinct().exceptAll(s.distinct()), "nationkey")


_r(
    "r15b_except",
    "EXCEPT: nations with customers but no suppliers",
    _r15b,
    """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)


def _r15c(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    c = t["customer"].select(F.col("c_nationkey").alias("nationkey"))
    s = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    return (
        ordered_result(c.unionAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("cnt")), "nationkey")
    )


_r(
    "r15c_union_all_count",
    "UNION ALL + count by key",
    _r15c,
    """
SELECT nationkey, CAST(count(*) AS BIGINT) AS cnt FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier
) t
GROUP BY nationkey
ORDER BY nationkey
""",
)

# ---------------------------------------------------------------------------
# R16 — string function library
# ---------------------------------------------------------------------------


def _r16(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        ordered_result(t["part"]
        .select(
            "p_partkey",
            F.upper("p_name").alias("up"),
            F.lower("p_brand").alias("lo"),
            F.substring("p_name", 1, 5).alias("sub5"),
            F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
            F.trim(F.col("p_name")).alias("trimmed"),
            F.replace(F.col("p_name"), F.lit("a"), F.lit("X")).alias("repl"),
            F.length("p_name").alias("len"),
            F.col("p_name").like("%green%").alias("has_green"),
            F.element_at(F.split("p_name", " "), 1).alias("first_word"),
        ), "p_partkey")
    )


_r(
    "r16_string_functions",
    "upper/lower/substr/concat/trim/replace/like/length/split",
    _r16,
    """
SELECT p_partkey,
       upper(p_name) AS up,
       lower(p_brand) AS lo,
       substring(p_name, 1, 5) AS sub5,
       p_brand || '-' || p_type AS brand_type,
       trim(p_name) AS trimmed,
       replace(p_name, 'a', 'X') AS repl,
       CAST(length(p_name) AS INT) AS len,
       p_name LIKE '%green%' AS has_green,
       string_split(p_name, ' ')[1] AS first_word
FROM part
ORDER BY p_partkey
""",
)

# ---------------------------------------------------------------------------
# R17 — date/time functions
# ---------------------------------------------------------------------------


def _r17(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        ordered_result(t["orders"]
        .select(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
            F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("month_start"),
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast("bigint").alias("days_since"),
        )
        .groupBy("yr", "mo", "month_start")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("days_since").alias("min_days"),
            F.max("days_since").alias("max_days"),
        ), "yr", "mo")
    )


_r(
    "r17_datetime_functions",
    "year/month/date_trunc/datediff histogram by month",
    _r17,
    """
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(min(date_diff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS min_days,
       CAST(max(date_diff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS max_days
FROM orders
GROUP BY 1, 2, 3
ORDER BY yr, mo
""",
)

# ---------------------------------------------------------------------------
# R18 — math / conditional functions
# ---------------------------------------------------------------------------


def _r18(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        t["lineitem"]
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.round(F.col("l_extendedprice"), 1).alias("rounded"),
            F.abs(F.col("l_quantity") - 25).alias("abs_dev"),
            F.floor(F.col("l_extendedprice")).cast("bigint").alias("flr"),
            F.ceil(F.col("l_extendedprice")).cast("bigint").alias("cl"),
            F.when(F.col("l_discount") > 0.05, F.lit("HIGH"))
            .when(F.col("l_discount") > 0.02, F.lit("MID"))
            .otherwise(F.lit("LOW"))
            .alias("disc_band"),
            F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")).alias("flag_or_none"),
        )
        .orderBy("l_orderkey", "l_linenumber", "l_partkey")
        .limit(2000)
    )


_r(
    "r18_math_conditional",
    "round/abs/floor/ceil/CASE WHEN/coalesce/nullif",
    _r18,
    """
SELECT l_orderkey, l_linenumber, l_partkey,
       round(l_extendedprice, 1) AS rounded,
       abs(l_quantity - 25) AS abs_dev,
       CAST(floor(l_extendedprice) AS BIGINT) AS flr,
       CAST(ceil(l_extendedprice) AS BIGINT) AS cl,
       CASE WHEN l_discount > 0.05 THEN 'HIGH'
            WHEN l_discount > 0.02 THEN 'MID'
            ELSE 'LOW' END AS disc_band,
       coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none
FROM lineitem
ORDER BY l_orderkey, l_linenumber, l_partkey
LIMIT 2000
""",
)

# ---------------------------------------------------------------------------
# R19 — array functions
# ---------------------------------------------------------------------------


def _r19(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    arr = F.array_sort(F.collect_list("o_orderkey"))
    return (
        ordered_result(t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.array_join(F.slice(arr, 1, 5), ",").alias("first5"),
            F.cardinality(arr).cast("int").alias("n_orders"),
            F.array_contains(arr, 42).alias("contains_42"),
        ), "o_custkey")
    )


_r(
    "r19_array_functions",
    "array_agg(ORDER BY)/slice/cardinality/contains",
    _r19,
    """
SELECT o_custkey,
       array_to_string(list_slice(array_agg(o_orderkey ORDER BY o_orderkey), 1, 5), ',') AS first5,
       CAST(len(array_agg(o_orderkey)) AS INT) AS n_orders,
       list_contains(array_agg(o_orderkey), 42) AS contains_42
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""",
)

# ---------------------------------------------------------------------------
# R20 — map / JSON functions
# ---------------------------------------------------------------------------


def _r20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.create_map(F.lit("type"), F.col("event_type"))
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_val"),
            F.element_at(m, "type").alias("type_val"),
        )
        .orderBy("event_id")
        .limit(500)
    )


_r(
    "r20_map_json_functions",
    "json_extract from props; map build + element_at",
    _r20,
    """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
       event_type AS type_val
FROM events
ORDER BY event_id
LIMIT 500
""",
)

# ---------------------------------------------------------------------------
# R21 — correlated scalar subquery (via spark.sql / Catalyst decorrelation)
# ---------------------------------------------------------------------------


def _r21(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # Catalyst decorrelates this into an aggregate + join — verify with
    # .explain(): no per-row subquery execution at scale.
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM customer c
        WHERE c_acctbal > (
          SELECT avg(c_acctbal) FROM customer c2
          WHERE c2.c_nationkey = c.c_nationkey
        )
        ORDER BY c_custkey
        """
    )


_r(
    "r21_correlated_subquery",
    "correlated scalar subquery (decorrelated by Catalyst)",
    _r21,
    """
SELECT c_custkey, c_acctbal
FROM customer c
WHERE c_acctbal > (
  SELECT avg(c_acctbal) FROM customer c2
  WHERE c2.c_nationkey = c.c_nationkey
)
ORDER BY c_custkey
""",
)

# ---------------------------------------------------------------------------
# R22 — UDF parity (vectorized pandas_udf — the Arrow fast path)
# ---------------------------------------------------------------------------


@F.pandas_udf(T.IntegerType())
def _double_plus_one(q):  # pandas Series -> pandas Series, Arrow-batched
    return (q * 2 + 1).astype("int32")


def _r22(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            _double_plus_one(F.col("l_quantity")).alias("q2"),
        )
        .orderBy("l_orderkey", "l_linenumber", "l_partkey")
        .limit(2000)
    )


_r(
    "r22_udf_parity",
    "registered vectorized UDF (GraalJS per-record script analog, U1)",
    _r22,
    """
SELECT l_orderkey, l_linenumber, l_partkey,
       CAST(l_quantity * 2 + 1 AS INT) AS q2
FROM lineitem
ORDER BY l_orderkey, l_linenumber, l_partkey
LIMIT 2000
""",
    ref="ScriptExecutor.java:167-199",
)

# ---------------------------------------------------------------------------
# R23 — pivot (conditional cross-tab aggregation)
# ---------------------------------------------------------------------------


def _r23(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    # Spark's pivot with explicit values (no extra distinct-values job;
    # at scale the value list must always be declared).
    piv = (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return (
        ordered_result(piv.select(
            "o_orderpriority",
            *[F.coalesce(F.col(c), F.lit(0)).alias(f"cnt_{c.lower()}") for c in ("F", "O", "P")],
        ), "o_orderpriority")
    )


_r(
    "r23_pivot",
    "pivot / cross-tab: order counts by priority x status",
    _r23,
    """
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cnt_f,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS cnt_o,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS cnt_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)

# ---------------------------------------------------------------------------
# R24 — exact percentiles (median / p90)
# ---------------------------------------------------------------------------


def _r24(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    # exact interpolated percentile (both engines: linear interpolation
    # over the sorted values); floor-truncation for cross-engine float
    # stability, same trick as L09
    return (
        ordered_result(t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            (F.floor(F.percentile("o_totalprice", F.lit(0.5)) * 100) / 100).alias("p50"),
            (F.floor(F.percentile("o_totalprice", F.lit(0.9)) * 100) / 100).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        ), "o_orderpriority")
    )


_r(
    "r24_percentiles",
    "exact interpolated percentiles per group (median, p90)",
    _r24,
    """
SELECT o_orderpriority,
       floor(quantile_cont(o_totalprice, 0.5) * 100) / 100 AS p50,
       floor(quantile_cont(o_totalprice, 0.9) * 100) / 100 AS p90,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)

# ---------------------------------------------------------------------------
# R25 — value-range window frame (rolling 30-day sum per customer)
# ---------------------------------------------------------------------------


def _r25(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    days = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("days")
        .rangeBetween(-30, 0)
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            days.cast("bigint").alias("days"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        # string-cast per the determinism protocol (the gate hashes
        # decimal renderings differently across engines; cf. R02/R03)
        .withColumn("rolling_30d", F.sum("price").over(w).cast("string"))
        .select("o_custkey", "o_orderkey", "days", "rolling_30d")
        .orderBy("o_custkey", "days", "o_orderkey")
        .limit(2000)
    )


_r(
    "r25_range_frame",
    "RANGE window frame: rolling 30-day spend per customer",
    _r25,
    """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS days,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
SELECT o_custkey, o_orderkey, days,
       CAST(SUM(price) OVER (PARTITION BY o_custkey ORDER BY days
                        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS VARCHAR) AS rolling_30d
FROM o
ORDER BY o_custkey, days, o_orderkey
LIMIT 2000
""",
)

# ---------------------------------------------------------------------------
# R26 — lateral view / positional explode
# ---------------------------------------------------------------------------


def _r26(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    parts = F.split(F.col("o_orderpriority"), "-")
    return (
        ordered_result(t["orders"]
        .filter(F.col("o_orderkey") <= 4000)
        .select("o_orderkey", F.posexplode(parts).alias("pos", "word")), "o_orderkey", "pos")
    )


_r(
    "r26_lateral_posexplode",
    "posexplode / lateral unnest with ordinality",
    _r26,
    """
WITH s AS (
  SELECT o_orderkey, string_split(o_orderpriority, '-') AS ss
  FROM orders WHERE o_orderkey <= 4000
),
e AS (
  SELECT o_orderkey, ss, unnest(generate_series(1, len(ss))) AS i FROM s
)
SELECT o_orderkey, CAST(i - 1 AS INT) AS pos, ss[i] AS word
FROM e
ORDER BY o_orderkey, pos
""",
)

# ---------------------------------------------------------------------------
# R27 — CUBE + grouping flags (generalizes R10's rollup). One shuffle:
# Spark expands grouping sets map-side, partial-aggregates, then
# shuffles once on the expanded keys.
# ---------------------------------------------------------------------------


def _r27(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        ordered_result(t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("string")
            .alias("total"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        ), 
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


_r(
    "r27_cube_grouping",
    "CUBE grouping sets with grouping() flags",
    _r27,
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)

# ---------------------------------------------------------------------------
# R28 — full outer join. Spark picks sort-merge for full-outer (broadcast
# is not supported for it); AQE coalesces the post-shuffle partitions.
# ---------------------------------------------------------------------------


def _r28(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    left = t["customer"].filter(F.col("c_custkey") <= 100).select("c_custkey", "c_name")
    right = (
        t["orders"]
        .filter(F.col("o_custkey").between(50, 150))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        ordered_result(left.join(right, left["c_custkey"] == right["o_custkey"], "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            F.col("c_name"),
            F.col("n_orders"),
        ), F.col("custkey").asc_nulls_first())
    )


_r(
    "r28_full_outer_join",
    "full outer join with coalesced key and null sides",
    _r28,
    """
SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey, c.c_name, o.n_orders
FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 100) c
FULL OUTER JOIN (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders WHERE o_custkey BETWEEN 50 AND 150 GROUP BY o_custkey
) o ON c.c_custkey = o.o_custkey
ORDER BY custkey NULLS FIRST
""",
)

# ---------------------------------------------------------------------------
# R29 — regexp functions (extract / replace-all / rlike). All codegen'd
# JVM-side; the filter sits on the scan.
# ---------------------------------------------------------------------------


def _r29(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        ordered_result(t["part"]
        .filter(F.col("p_name").rlike("[aeiou]{2}"))
        .select(
            "p_partkey",
            F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
            F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        ), "p_partkey")
    )


_r(
    "r29_regexp_functions",
    "regexp extract / replace-all / rlike predicate",
    _r29,
    """
SELECT p_partkey,
       regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
FROM part
WHERE regexp_matches(p_name, '[aeiou]{2}')
ORDER BY p_partkey
""",
)

# ---------------------------------------------------------------------------
# R30 — ordered string aggregation (listagg). Spark's collect_list is
# order-nondeterministic after a shuffle, so the deterministic form is
# collect + array_sort (the aggregation itself stays partial/merge).
# ---------------------------------------------------------------------------


def _r30(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        ordered_result(t["orders"]
        .filter(F.col("o_orderkey") <= 200)
        .groupBy("o_orderstatus")
        .agg(
            F.concat_ws(
                ",",
                F.array_sort(F.collect_list(F.col("o_orderkey").cast("string"))),
            ).alias("keys_csv")
        ), "o_orderstatus")
    )


_r(
    "r30_listagg_ordered",
    "ordered string_agg / listagg per group",
    _r30,
    """
SELECT o_orderstatus,
       string_agg(CAST(o_orderkey AS VARCHAR), ','
                  ORDER BY CAST(o_orderkey AS VARCHAR)) AS keys_csv
FROM orders
WHERE o_orderkey <= 200
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)

# ---------------------------------------------------------------------------
# R31 — distribution window functions: ntile / percent_rank / cume_dist
# / nth_value. One shuffle on the partition key; the unique (totalprice,
# orderkey) sort makes every function deterministic.
# ---------------------------------------------------------------------------


def _r31(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ordered_result(t["orders"]
        .filter(F.col("o_orderkey") <= 500)
        .select(
            "o_orderstatus",
            "o_orderkey",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).cast("string").alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).cast("string").alias("cume"),
            F.nth_value("o_orderkey", 2).over(w_full).alias("second_key"),
        ), "o_orderstatus", "o_orderkey")
    )


_r(
    "r31_window_distribution",
    "ntile / percent_rank / cume_dist / nth_value windows",
    _r31,
    """
SELECT o_orderstatus, o_orderkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       CAST(round(percent_rank() OVER w, 6) AS VARCHAR) AS pct_rank,
       CAST(round(cume_dist() OVER w, 6) AS VARCHAR) AS cume,
       nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderstatus
           ORDER BY o_totalprice DESC, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS second_key
FROM orders
WHERE o_orderkey <= 500
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_orderstatus, o_orderkey
""",
)

# ---------------------------------------------------------------------------
# R32 — grouped-agg pandas UDAF (the UDAF member of the U1 surface:
# UDF=r22, grouped-map=l15, UDAF=here). Arrow-batched per group —
# never row-at-a-time Python. Determinism: the UDAF reduces to exact
# integer numerator/denominator (floor-cents x integer quantity), so
# both engines divide the same integers; floor-truncation on output.
# ---------------------------------------------------------------------------


import pandas as _pd  # noqa: E402 — type hints drive GROUPED_AGG inference


# NB: DataType object, not a DDL string — string return types are
# parsed at decoration (import) time and need a live SparkContext
@F.pandas_udf(T.DoubleType())
def _wavg_cents(price: _pd.Series, qty: _pd.Series) -> float:
    import numpy as np

    cents = np.floor(price.to_numpy() * 100.0).astype("int64")
    q = qty.to_numpy().astype("int64")
    return float(int((cents * q).sum()) / 100.0 / int(q.sum()))


def _r32(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        # NB: a grouped-agg pandas UDF cannot mix with built-in
        # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT)
        ordered_result(li.groupBy("l_returnflag")
        .agg(_wavg_cents("l_extendedprice", "l_quantity").alias("wavg_raw"))
        .select(
            "l_returnflag",
            (F.floor(F.col("wavg_raw") * 100) / 100).alias("wavg_price"),
        ), "l_returnflag")
    )


_r(
    "r32_pandas_udaf_wavg",
    "grouped-agg pandas UDAF: quantity-weighted average price",
    _r32,
    """
SELECT l_returnflag,
       floor((CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)
                       * CAST(l_quantity AS BIGINT)) AS DOUBLE)
              / 100.0 / SUM(CAST(l_quantity AS BIGINT))) * 100) / 100
         AS wavg_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)

# ---------------------------------------------------------------------------
# R33 — multiset set operations (INTERSECT ALL / EXCEPT ALL): duplicate
# counts matter, unlike r15's set semantics. Both execute as a single
# aggregate-join shuffle on the value.
# ---------------------------------------------------------------------------


def _r33(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    cust = t["customer"].select("c_nationkey")
    supp = t["supplier"].select(F.col("s_nationkey").alias("c_nationkey"))
    inter = (
        cust.intersectAll(supp)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    exc = (
        supp.exceptAll(cust)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    return ordered_result(inter.unionByName(exc).select("op", "c_nationkey", "n"), 
        "op", "c_nationkey"
    )


_r(
    "r33_multiset_setops",
    "INTERSECT ALL / EXCEPT ALL multiset semantics (duplicate-preserving)",
    _r33,
    """
WITH i AS (
  SELECT c_nationkey FROM customer
  INTERSECT ALL
  SELECT s_nationkey FROM supplier
),
x AS (
  SELECT s_nationkey AS c_nationkey FROM supplier
  EXCEPT ALL
  SELECT c_nationkey FROM customer
)
SELECT op, c_nationkey, n FROM (
  SELECT 'intersect_all' AS op, c_nationkey, CAST(count(*) AS BIGINT) AS n
  FROM i GROUP BY c_nationkey
  UNION ALL
  SELECT 'except_all', c_nationkey, CAST(count(*) AS BIGINT)
  FROM x GROUP BY c_nationkey
) t
ORDER BY op, c_nationkey
""",
)

# ---------------------------------------------------------------------------
# R34 — uncorrelated scalar subquery in SELECT: each order's price as a
# share of the global average. The subquery plans as a 1-row broadcast,
# not a per-row re-execution.
# ---------------------------------------------------------------------------


def _r34(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 /
                    (SELECT avg(o_totalprice) FROM orders)) / 100 AS DOUBLE)
                 AS price_ratio
        FROM orders
        WHERE o_orderkey <= 1000
        ORDER BY o_orderkey
        """
    )


_r(
    "r34_scalar_subquery",
    "uncorrelated scalar subquery in the select list (SQL entry point)",
    _r34,
    """
SELECT o_orderkey,
       floor(o_totalprice * 100 / (SELECT avg(o_totalprice) FROM orders)) / 100
         AS price_ratio
FROM orders
WHERE o_orderkey <= 1000
ORDER BY o_orderkey
""",
)

# ---------------------------------------------------------------------------
# R35 — statistical aggregates: corr / covar_samp / stddev_samp /
# var_samp. Partial-aggregatable (Spark merges per-partition moment
# sketches — one shuffle of O(groups) rows at any scale); floored at
# 4 decimals so cross-engine float association order can't flip a bit.
# ---------------------------------------------------------------------------


def _fl4(c):
    return F.floor(c * 10000) / 10000


def _r35(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        ordered_result(li.groupBy("l_returnflag")
        .agg(
            F.corr("l_quantity", "l_extendedprice").alias("_corr"),
            F.covar_samp("l_quantity", "l_discount").alias("_cov"),
            F.stddev_samp("l_discount").alias("_sd"),
            F.var_samp("l_tax").alias("_var"),
        )
        .select(
            "l_returnflag",
            _fl4(F.col("_corr")).alias("corr_qty_price"),
            _fl4(F.col("_cov")).alias("cov_qty_disc"),
            _fl4(F.col("_sd")).alias("sd_disc"),
            _fl4(F.col("_var")).alias("var_tax"),
        ), "l_returnflag")
    )


_r(
    "r35_stat_aggregates",
    "corr/covar_samp/stddev_samp/var_samp per group (moment sketches)",
    _r35,
    """
SELECT l_returnflag,
       floor(corr(l_quantity, l_extendedprice) * 10000) / 10000 AS corr_qty_price,
       floor(covar_samp(l_quantity, l_discount) * 10000) / 10000 AS cov_qty_disc,
       floor(stddev_samp(l_discount) * 10000) / 10000 AS sd_disc,
       floor(var_samp(l_tax) * 10000) / 10000 AS var_tax
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)

# ---------------------------------------------------------------------------
# R36 — conditional / selective aggregates: count_if, max_by/min_by
# (deterministic: the ordering key o_orderkey is unique), bool_or/
# bool_and, filtered decimal SUM. All partial-aggregatable built-ins.
# ---------------------------------------------------------------------------


def _r36(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        ordered_result(o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
            F.max_by("o_orderstatus", "o_orderkey").alias("status_last"),
            F.min_by("o_custkey", "o_orderkey").alias("first_cust"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_f"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_pos"),
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "O",
                    F.col("o_totalprice").cast("decimal(18,2)"),
                )
            )
            .cast("string")
            .alias("open_total"),
        ), "o_orderpriority")
    )


_r(
    "r36_conditional_aggregates",
    "count_if / max_by / min_by / bool_or / bool_and / filtered SUM",
    _r36,
    """
SELECT o_orderpriority,
       CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
       max_by(o_orderstatus, o_orderkey) AS status_last,
       CAST(min_by(o_custkey, o_orderkey) AS BIGINT) AS first_cust,
       bool_or(o_orderstatus = 'F') AS any_f,
       bool_and(o_totalprice > 0) AS all_pos,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS VARCHAR)
         AS open_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)

# ---------------------------------------------------------------------------
# R37 — time-series gap fill: a generated month spine LEFT JOIN the
# monthly aggregate, absent months as 0. The spine is O(84 rows) —
# broadcast side of the join; the aggregate shuffles O(months), not
# O(orders), because the groupBy pre-aggregates map-side.
# ---------------------------------------------------------------------------


def _r37(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1992-01-01").cast("date"),
                F.lit("1998-12-01").cast("date"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month")
    )
    per = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        ordered_result(months.join(per, "month", "left")
        .select(
            "month",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("n_orders"),
        ), "month")
    )


_r(
    "r37_month_spine_gapfill",
    "generated month spine + left join: gap-filled monthly order counts",
    _r37,
    """
WITH months AS (
  SELECT CAST(unnest(generate_series(DATE '1992-01-01', DATE '1998-12-01',
                                     INTERVAL 1 MONTH)) AS DATE) AS month
),
per AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         count(*) AS cnt
  FROM orders GROUP BY 1
)
SELECT m.month, CAST(COALESCE(p.cnt, 0) AS BIGINT) AS n_orders
FROM months m LEFT JOIN per p USING (month)
ORDER BY m.month
""",
)

# ---------------------------------------------------------------------------
# R38 — IGNORE NULLS window fill: carry the last non-null observation
# forward per user (the classic sensor-fill). One shuffle on user_id;
# the frame is running (unbounded preceding), so Spark evaluates it in
# a single pass per partition.
# ---------------------------------------------------------------------------


def _r38(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.when(F.col("event_id") % 5 != 0, F.col("value"))
    return (
        ordered_result(ev.withColumn("v", v)
        .select(
            "event_id",
            "user_id",
            F.last("v", ignorenulls=True).over(w).alias("filled"),
        ), "event_id")
    )


_r(
    "r38_ignore_nulls_fill",
    "last_value IGNORE NULLS running fill per user",
    _r38,
    """
SELECT event_id, user_id,
       last_value(CASE WHEN event_id % 5 <> 0 THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM events
ORDER BY event_id
""",
)

# ---------------------------------------------------------------------------
# R39 — DISTINCT ON / latest-row-per-group over relational data (the
# same shape as C06 compaction, here as a user-facing query): one
# window shuffle on the group key, rn=1 filter.
# ---------------------------------------------------------------------------


def _r39(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        ordered_result(o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("latest_date"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias(
                "latest_price"
            ),
        ), "o_custkey")
    )


_r(
    "r39_distinct_on_latest",
    "latest order per customer (DISTINCT ON pattern, window rn=1)",
    _r39,
    """
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS latest_date,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS latest_price
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) t
WHERE rn = 1
ORDER BY o_custkey
""",
)

# ---------------------------------------------------------------------------
# R40 — bitwise aggregates (bit_and / bit_or / bit_xor) — set-summary
# fingerprints per group; fully partial-aggregatable.
# ---------------------------------------------------------------------------


def _r40(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        ordered_result(c.groupBy("c_mktsegment")
        .agg(
            F.bit_and("c_custkey").alias("key_and"),
            F.bit_or("c_custkey").alias("key_or"),
            F.bit_xor("c_custkey").alias("key_xor"),
        ), "c_mktsegment")
    )


_r(
    "r40_bitwise_aggregates",
    "bit_and / bit_or / bit_xor aggregate fingerprints per segment",
    _r40,
    """
SELECT c_mktsegment,
       CAST(bit_and(c_custkey) AS BIGINT) AS key_and,
       CAST(bit_or(c_custkey) AS BIGINT) AS key_or,
       CAST(bit_xor(c_custkey) AS BIGINT) AS key_xor
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)

# ---------------------------------------------------------------------------
# R41 — explicit GROUPING SETS (not derivable from ROLLUP/CUBE: the
# set list skips (o_orderpriority)) + grouping() flags, via the SQL
# entry point. Spark expands to a union of partial aggregates over one
# scan (Expand operator) — one shuffle total.
# ---------------------------------------------------------------------------


def _r41(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY o_orderstatus ASC NULLS FIRST,
                 o_orderpriority ASC NULLS FIRST
        """
    )


_r(
    "r41_grouping_sets",
    "explicit GROUPING SETS + grouping() flags (SQL entry point)",
    _r41,
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)

# ---------------------------------------------------------------------------
# R42 — date/interval arithmetic: add_months (end-of-month clamped in
# both engines), last_day, datediff against a fixed horizon, and a
# normalized day-of-week (Sunday=0). Pure codegen map stage.
# ---------------------------------------------------------------------------


def _r42(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        ordered_result(o.filter(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            F.add_months("o_orderdate", 3).cast("date").alias("due_month"),
            F.last_day("o_orderdate").cast("date").alias("month_end"),
            F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate"))
            .cast("int")
            .alias("days_to_end"),
            (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
        ), "o_orderkey")
    )


_r(
    "r42_date_interval_arithmetic",
    "add_months / last_day / datediff / normalized day-of-week",
    _r42,
    """
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS due_month,
       CAST(last_day(o_orderdate) AS DATE) AS month_end,
       CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS INT)
         AS days_to_end,
       CAST(dayofweek(o_orderdate) AS INT) AS dow
FROM orders
WHERE o_orderkey <= 2000
ORDER BY o_orderkey
""",
)

# ---------------------------------------------------------------------------
# R43 — explode_outer / outer lateral unnest: NULL and empty arrays
# keep their parent row (the edge semantics that separate outer from
# inner unnest). Map-side only.
# ---------------------------------------------------------------------------


def _r43(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    arr = (
        F.when(F.col("p_size") < 5, F.lit(None).cast("array<string>"))
        .when(F.col("p_size") < 8, F.array().cast("array<string>"))
        .otherwise(F.split(F.col("p_name"), " "))
    )
    return (
        ordered_result(p.filter(F.col("p_partkey") <= 500)
        .select("p_partkey", F.explode_outer(arr).alias("word")), "p_partkey", F.col("word").asc_nulls_first())
    )


_r(
    "r43_explode_outer",
    "outer lateral unnest: NULL/empty arrays keep their parent row",
    _r43,
    """
SELECT p.p_partkey, u.word
FROM (
  SELECT p_partkey,
         CASE WHEN p_size < 5 THEN NULL
              WHEN p_size < 8 THEN []
              ELSE string_split(p_name, ' ') END AS l
  FROM part WHERE p_partkey <= 500
) p
LEFT JOIN LATERAL (SELECT unnest(p.l) AS word) u ON TRUE
ORDER BY p.p_partkey, u.word NULLS FIRST
""",
)

# ---------------------------------------------------------------------------
# R44 — null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
# keys match each other, unlike plain equi-join. Note the scale
# caveat this encodes: null-safe joins hash ALL null keys to one
# bucket — at 100 TB a hot NULL key needs the salting path
# (operators/skew.py) or a pre-split union of null/non-null joins.
# ---------------------------------------------------------------------------


def _r44(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.nullif(F.col("s_nationkey"), F.lit(3)).alias("sk")
    )
    return (
        ordered_result(c.join(s, c["ck"].eqNullSafe(s["sk"]))
        .groupBy(F.col("ck").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_pairs")), F.col("k").asc_nulls_first())
    )


_r(
    "r44_null_safe_join",
    "null-safe equality join: NULL keys pair with NULL keys",
    _r44,
    """
SELECT c.ck AS k, CAST(count(*) AS BIGINT) AS n_pairs
FROM (SELECT NULLIF(c_nationkey, 3) AS ck FROM customer) c
JOIN (SELECT NULLIF(s_nationkey, 3) AS sk FROM supplier) s
  ON c.ck IS NOT DISTINCT FROM s.sk
GROUP BY c.ck
ORDER BY k NULLS FIRST
""",
)

# ---------------------------------------------------------------------------
# R45 — error-safe expressions: try_cast on mixed content and
# try_divide hitting a zero denominator — NULL instead of task
# failure, the ANSI-mode-safe way to handle dirty data at scale.
# ---------------------------------------------------------------------------


def _r45(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    mixed = F.when(
        F.col("p_partkey") % 3 == 0, F.col("p_partkey").cast("string")
    ).otherwise(F.col("p_name"))
    return (
        ordered_result(p.filter(F.col("p_partkey") <= 1000)
        .select(
            "p_partkey",
            mixed.try_cast("int").alias("maybe_int"),
            F.try_divide(F.lit(100), F.col("p_size") - 5).alias("ratio"),
        ), "p_partkey")
    )


_r(
    "r45_try_expressions",
    "try_cast / try_divide: NULL on bad input instead of task failure",
    _r45,
    """
SELECT p_partkey,
       TRY_CAST(CASE WHEN p_partkey % 3 = 0
                     THEN CAST(p_partkey AS VARCHAR)
                     ELSE p_name END AS INT) AS maybe_int,
       100 / NULLIF(p_size - 5, 0) AS ratio
FROM part
WHERE p_partkey <= 1000
ORDER BY p_partkey
""",
)

# ---------------------------------------------------------------------------
# R46 — keyless point-in-interval join via time binning: purchases in
# the hour before each error event, across ALL users (no equi key, so
# a naive plan is nested-loop). operators/interval.py turns it into a
# hash join on time bins; the plan audit asserts no BNLJ/cartesian.
# ---------------------------------------------------------------------------


def _r46(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.interval import binned_interval_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("lo"),
        F.col("ts").alias("hi"),
    )
    return (
        ordered_result(binned_interval_join(purchases, errors, "pts", "lo", "hi", bin_width_s=3600)
        .groupBy("error_id")
        .agg(F.count(F.lit(1)).alias("n_purch")), "error_id")
    )


_r(
    "r46_binned_interval_join",
    "keyless point-in-interval join (binned equi-join scale path)",
    _r46,
    """
SELECT e.event_id AS error_id, CAST(count(*) AS BIGINT) AS n_purch
FROM events e JOIN events p
  ON p.event_type = 'purchase'
 AND p.ts >= e.ts - INTERVAL '1 hour' AND p.ts <= e.ts
WHERE e.event_type = 'error'
GROUP BY e.event_id
ORDER BY error_id
""",
)

# ---------------------------------------------------------------------------
# R47 — Python UDTF (table function): completes the declared UDF
# surface (R22 scalar UDF, R32 grouped pandas UDAF, R47 UDTF — the
# Spark analog of the reference's per-record JS scripts, SURVEY.md
# §2.1 U1). Row-at-a-time Python by design — exempted from the
# no-Python plan audit the same way R22 declares its UDF.
# ---------------------------------------------------------------------------


def _r47(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")):
                yield w, i

    spark.udtf.register("split_words", SplitWords)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, s.word, s.pos
        FROM part, LATERAL split_words(p_name) s
        WHERE p_partkey <= 300
        ORDER BY p_partkey, s.pos
        """
    )


_r(
    "r47_python_udtf",
    "Python UDTF via LATERAL (U1 surface: scalar UDF + UDAF + UDTF)",
    _r47,
    """
SELECT t.p_partkey, t.toks[g.i] AS word, CAST(g.i - 1 AS INT) AS pos
FROM (SELECT p_partkey, string_split(p_name, ' ') AS toks
      FROM part WHERE p_partkey <= 300) t,
LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) g
ORDER BY t.p_partkey, pos
""",
    ref="ScriptExecutor.java:167-199 (per-record user transform)",
)

# ---------------------------------------------------------------------------
# R48 — aggregate FILTER clause: per-group selective aggregation in
# one pass over the data (no self-joins, no CASE pyramids in the agg).
# ---------------------------------------------------------------------------


def _r48(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
                 AS n_finished,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
                 AS n_open,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (WHERE o_totalprice > 200000) AS STRING)
                 AS big_total
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


_r(
    "r48_aggregate_filter_clause",
    "FILTER (WHERE ...) selective aggregates in one pass",
    _r48,
    """
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_totalprice > 200000) AS VARCHAR) AS big_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)

# ---------------------------------------------------------------------------
# R49 — sorted distinct array aggregation: collect_set + sort_array.
# The gated output renders the array as a canonical comma-joined string:
# the driver's canonicalizer sorts pandas values and cannot hash a raw
# numpy array cell (r4 comparator crash), so the array-typed surface
# stays internal and the contract column is a string on BOTH sides.
# ---------------------------------------------------------------------------


def _r49(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        ordered_result(c.groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("c_nationkey")), ","
            ).alias("nations"),
            F.count(F.lit(1)).alias("n_cust"),
        ), "c_mktsegment")
    )


_r(
    "r49_sorted_set_agg",
    "collect_set + sort_array rendered as canonical CSV string",
    _r49,
    """
SELECT c_mktsegment,
       array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
       CAST(count(*) AS BIGINT) AS n_cust
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)

# ---------------------------------------------------------------------------
# R50 — unpivot / melt: wide aggregate → long (measure, value) rows.
# Aggregate FIRST (6 groups), then unpivot the tiny result — at scale
# the melt touches O(groups × measures) rows, never the fact table.
# ---------------------------------------------------------------------------


def _r50(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def _m(c):
        return (
            F.sum(F.col(c).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("string")
        )

    wide = li.groupBy("l_returnflag").agg(
        _m("l_quantity").alias("quantity"),
        _m("l_extendedprice").alias("extendedprice"),
        _m("l_discount").alias("discount"),
    )
    return ordered_result(wide.unpivot(
        ["l_returnflag"],
        ["quantity", "extendedprice", "discount"],
        "measure",
        "total",
    ), "l_returnflag", "measure")


_r(
    "r50_unpivot",
    "unpivot/melt a wide aggregate into (measure, value) rows",
    _r50,
    """
WITH s AS (
  SELECT l_returnflag,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS quantity,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS extendedprice,
         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS discount
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, total FROM (
  SELECT l_returnflag, 'quantity' AS measure, quantity AS total FROM s
  UNION ALL SELECT l_returnflag, 'extendedprice', extendedprice FROM s
  UNION ALL SELECT l_returnflag, 'discount', discount FROM s
) u
ORDER BY l_returnflag, measure
""",
)

# ---------------------------------------------------------------------------
# R51 — higher-order array functions: transform / filter / aggregate
# lambdas evaluated JVM-side inside codegen (no Python, no explode —
# the per-row array pipeline costs zero shuffles beyond the collect).
# ---------------------------------------------------------------------------


def _r51(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    arr = (
        o.filter(F.col("o_custkey") <= 200)
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("o_orderkey")).alias("orders"))
    )
    picks = F.filter(
        F.transform("orders", lambda x: x * 2), lambda x: x % 3 == 0
    )
    return ordered_result(arr.select(
        "o_custkey",
        F.size("orders").cast("long").alias("n_orders"),
        F.size(picks).cast("long").alias("n_picked"),
        F.aggregate(picks, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "total_picked"
        ),
    ), "o_custkey")


_r(
    "r51_higher_order_array",
    "array lambda pipeline: transform -> filter -> aggregate (fold)",
    _r51,
    """
WITH arr AS (
  SELECT o_custkey, list_sort(list(o_orderkey)) AS orders
  FROM orders WHERE o_custkey <= 200 GROUP BY o_custkey
), p AS (
  SELECT o_custkey, orders,
         list_filter(list_transform(orders, x -> x * 2), x -> x % 3 = 0) AS picks
  FROM arr
)
SELECT o_custkey,
       CAST(len(orders) AS BIGINT) AS n_orders,
       CAST(len(picks) AS BIGINT) AS n_picked,
       CAST(coalesce(list_sum(picks), 0) AS BIGINT) AS total_picked
FROM p ORDER BY o_custkey
""",
)

# ---------------------------------------------------------------------------
# R52 — equi-width histogram binning via integer arithmetic. Bin ids
# are computed in exact integer cents (floor before the cast — DuckDB
# rounds double→int casts, Spark truncates, so never cast a raw
# double); the groupBy is a partial-aggregatable O(bins) shuffle.
# ---------------------------------------------------------------------------


def _r52(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        ordered_result(o.select(
            F.expr(
                "CAST(floor(o_totalprice * 100) AS BIGINT) DIV 5000000"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.col("bin") * F.lit(50000)).cast("long").alias("lo_price"),
            "n",
        ), "bin")
    )


_r(
    "r52_histogram_binning",
    "equi-width histogram: integer-exact price bins + counts",
    _r52,
    """
SELECT bin, CAST(bin * 50000 AS BIGINT) AS lo_price,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) // 5000000 AS bin
  FROM orders
) t
GROUP BY bin ORDER BY bin
""",
)

# ---------------------------------------------------------------------------
# R53 — funnel conversion: first signup per user, then whether a
# purchase followed within 7 days. The canonical event-sequence
# analytics shape (A-then-B-within-T).
#
# Scale: the signup aggregate is partial map-side; the purchase join
# shuffles both sides once on user_id (equi-key with a time-range
# residual — a hash join, never a cross product); the final global
# rollup reduces O(users) to one row.
# ---------------------------------------------------------------------------


def _r53(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        s.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .groupBy("user_id")
        .agg(F.max(F.col("p_ts").isNotNull().cast("int")).alias("converted"))
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_signed"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.expr("CAST(SUM(converted) * 10000 DIV count(*) AS BIGINT)").alias(
            "conv_bp"
        ),
    )


_r(
    "r53_funnel_conversion",
    "signup→purchase-within-7-days funnel conversion rate",
    _r53,
    """
WITH s AS (
  SELECT user_id, min(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), conv AS (
  SELECT s.user_id,
         max(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS converted
  FROM s LEFT JOIN events p
    ON p.user_id = s.user_id AND p.event_type = 'purchase'
   AND p.ts >= s.s_ts AND p.ts <= s.s_ts + INTERVAL 7 DAY
  GROUP BY s.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_signed,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST(SUM(converted) * 10000 // count(*) AS BIGINT) AS conv_bp
FROM conv
""",
)

# ---------------------------------------------------------------------------
# R54 — recursive CTE (WITH RECURSIVE, Spark 4.1 / SPARK-24497):
# month spine unrolled by recursion, LEFT JOINed to per-month order
# counts — the recursive twin of r37's sequence() spine.
#
# Scale: recursion here iterates over the TIME dimension (24 rows,
# bounded depth), not the data — each step is a constant-size union;
# the fact-table aggregate is a normal partial agg, and the spine
# join broadcasts. Data-dimension recursion (transitive closure over
# edges) stays on the iterative-DataFrame path (l22/l23 connected
# components) where each round is a checkpointed shuffle, not a
# planner-unrolled CTE.
# ---------------------------------------------------------------------------


def _r54(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE m(mon) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT mon + INTERVAL 1 MONTH FROM m WHERE mon < DATE '1996-12-01'
        ), c AS (
          SELECT date_trunc('month', o_orderdate) AS mon, count(*) AS n
          FROM orders GROUP BY 1
        )
        SELECT date_format(m.mon, 'yyyy-MM') AS mon,
               CAST(coalesce(c.n, 0) AS BIGINT) AS n
        FROM m LEFT JOIN c ON c.mon = CAST(m.mon AS TIMESTAMP)
        ORDER BY mon
        """
    )


_r(
    "r54_recursive_spine",
    "WITH RECURSIVE month spine + gap-filled LEFT JOIN counts",
    _r54,
    """
WITH RECURSIVE m(mon) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT CAST(mon + INTERVAL 1 MONTH AS DATE) FROM m
  WHERE mon < DATE '1996-12-01'
), c AS (
  SELECT date_trunc('month', o_orderdate) AS mon, count(*) AS n
  FROM orders GROUP BY 1
)
SELECT strftime(m.mon, '%Y-%m') AS mon,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM m LEFT JOIN c ON c.mon = CAST(m.mon AS TIMESTAMP)
ORDER BY mon
""",
)

# ---------------------------------------------------------------------------
# R55 — gaps-and-islands: per-customer order "streaks" (runs of orders
# with ≤ 60 days between consecutive orders). The lag-flag-cumsum
# pattern: one shuffle on o_custkey shared by BOTH window passes and
# the final aggregate (Catalyst reuses the hash partitioning), so the
# whole query is a single exchange at any scale.
# ---------------------------------------------------------------------------


def _r55(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = o.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.when(
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).isNull()
            | (F.datediff("o_orderdate", F.lag("o_orderdate").over(w)) > 60),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_island = islands.groupBy("o_custkey", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("span_days"),
    )
    return (
        per_island.groupBy("o_custkey")
        .agg(
            F.max("island").alias("n_islands"),
            F.max("run_len").alias("max_run"),
            F.max("span_days").alias("max_span_days"),
        )
        .orderBy("o_custkey")
        .limit(500)
    )


_r(
    "r55_gaps_and_islands",
    "gaps-and-islands order streaks via lag-flag-cumsum",
    _r55,
    """
WITH flagged AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         CASE WHEN date_diff('day',
                 lag(o_orderdate) OVER w, o_orderdate) IS NULL
               OR date_diff('day',
                 lag(o_orderdate) OVER w, o_orderdate) > 60
              THEN 1 ELSE 0 END AS new_island
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), islands AS (
  SELECT *, SUM(new_island) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), per_island AS (
  SELECT o_custkey, island, count(*) AS run_len,
         date_diff('day', min(o_orderdate), max(o_orderdate)) AS span_days
  FROM islands GROUP BY 1, 2
)
SELECT o_custkey,
       CAST(max(island) AS BIGINT) AS n_islands,
       CAST(max(run_len) AS BIGINT) AS max_run,
       CAST(max(span_days) AS BIGINT) AS max_span_days
FROM per_island GROUP BY o_custkey
ORDER BY o_custkey LIMIT 500
""",
)

# ---------------------------------------------------------------------------
# R56 — max concurrent intervals (sweep line). Each event opens a
# 30-minute interval; find the peak concurrency per event_type.
# Half-open [start, end) semantics: deltas are pre-aggregated per
# (type, instant) with ends applied before starts, so the running sum
# is tie-order independent — fully deterministic in both engines.
# Scale: delta stream is 2× events but pre-reduced per instant before
# the window; one shuffle on event_type.
# ---------------------------------------------------------------------------


def _r56(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("d")
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("d"),
    )
    deltas = (
        starts.unionAll(ends)
        .groupBy("event_type", "t")
        .agg(F.sum("d").alias("net"))
    )
    w = Window.partitionBy("event_type").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ordered_result(deltas.withColumn("cum", F.sum("net").over(w))
        .groupBy("event_type")
        .agg(F.max("cum").alias("max_concurrent")), "event_type")
    )


_r(
    "r56_max_concurrent_intervals",
    "sweep-line peak concurrency of 30-min event intervals",
    _r56,
    """
WITH deltas AS (
  SELECT event_type, t, SUM(d) AS net FROM (
    SELECT event_type, ts AS t, 1 AS d FROM events
    UNION ALL
    SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 AS d FROM events
  ) GROUP BY 1, 2
)
SELECT event_type,
       CAST(max(cum) AS BIGINT) AS max_concurrent
FROM (
  SELECT event_type,
         SUM(net) OVER (PARTITION BY event_type ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM deltas
)
GROUP BY event_type ORDER BY event_type
""",
)

# ---------------------------------------------------------------------------
# R57 — running distinct count: cumulative distinct users per active
# day. Distinct-over-window is unsupported directly (and would be
# quadratic); the scalable form reduces each user to ONE row (first
# activity day) and cumsums first-appearance counts over the day
# spine — O(users) intermediate, never O(events).
# ---------------------------------------------------------------------------


def _r57(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ordered_result(days.join(firsts, "day", "left")
        .withColumn("cum_users", F.sum(F.coalesce("n_new", F.lit(0))).over(w))
        .select("day", "cum_users"), "day")
    )


_r(
    "r57_running_distinct_users",
    "cumulative distinct users per day via first-appearance cumsum",
    _r57,
    """
WITH days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
), firsts AS (
  SELECT day, count(*) AS n_new FROM (
    SELECT user_id, min(CAST(ts AS DATE)) AS day
    FROM events GROUP BY user_id
  ) GROUP BY day
)
SELECT days.day,
       CAST(SUM(coalesce(firsts.n_new, 0)) OVER (
         ORDER BY days.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM days LEFT JOIN firsts ON days.day = firsts.day
ORDER BY days.day
""",
)

# ---------------------------------------------------------------------------
# R58 — top-k per group WITH ties (RANK, not ROW_NUMBER): the ties-
# inclusive variant the reference's consumers would use for "top 3
# orders per priority class". Single shuffle on the partition key;
# the rank filter is evaluated before any sort of the full output.
# ---------------------------------------------------------------------------


def _r58(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc()
    )
    return (
        ordered_result(o.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk"), "o_orderpriority", F.col("o_totalprice").desc(), "o_orderkey")
    )


_r(
    "r58_topk_per_group_ties",
    "ties-inclusive top-k per group via RANK",
    _r58,
    """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC) AS rk
  FROM orders
)
WHERE rk <= 3
ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey
""",
)

# ---------------------------------------------------------------------------
# R59 — cohort retention matrix: users cohorted by first-activity
# month × months they were active. The user-grain reduction happens
# BEFORE the matrix join (O(users) not O(events)); cohort sizes are
# broadcast back (tiny dim).
# ---------------------------------------------------------------------------


def _r59(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    user_months = ev.select(
        "user_id", F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("mon")
    ).distinct()
    cohorts = ev.groupBy("user_id").agg(
        F.date_format(F.min(F.date_trunc("month", "ts")), "yyyy-MM").alias("cohort")
    )
    joined = user_months.join(cohorts, "user_id")
    sizes = cohorts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        ordered_result(joined.groupBy("cohort", "mon")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort")
        .select("cohort", "mon", "n_active", "cohort_size"), "cohort", "mon")
    )


_r(
    "r59_cohort_retention",
    "first-month cohort × activity-month retention matrix",
    _r59,
    """
WITH user_months AS (
  SELECT DISTINCT user_id, strftime(date_trunc('month', ts), '%Y-%m') AS mon
  FROM events
), cohorts AS (
  SELECT user_id, strftime(min(date_trunc('month', ts)), '%Y-%m') AS cohort
  FROM events GROUP BY user_id
), sizes AS (
  SELECT cohort, count(*) AS cohort_size FROM cohorts GROUP BY cohort
)
SELECT c.cohort, um.mon,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(any_value(s.cohort_size) AS BIGINT) AS cohort_size
FROM user_months um
JOIN cohorts c ON um.user_id = c.user_id
JOIN sizes s ON c.cohort = s.cohort
GROUP BY c.cohort, um.mon
ORDER BY c.cohort, um.mon
""",
)

# ---------------------------------------------------------------------------
# R60 — event-type transition counts (order-1 Markov): lag over
# (user, time) then count per (prev → next) pair. One shuffle on
# user_id for the window; the transition aggregate reuses nothing but
# is O(distinct pairs) — tiny.
# ---------------------------------------------------------------------------


def _r60(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ordered_result(ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n")), "prev_type", "next_type")
    )


_r(
    "r60_event_transitions",
    "order-1 Markov transition counts via lag window",
    _r60,
    """
SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
)
WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY prev_type, next_type
""",
)

# ---------------------------------------------------------------------------
# R61 — salted two-phase aggregation (operators/skew.py) gated against
# the plain GROUP BY oracle. l_returnflag has 3 values — at 100 TB a
# single-phase agg funnels each flag's combined partials into one
# reducer; the salt spreads each hot key over 16 reducers and the
# phase-2 combine shuffles ≤ 16 rows per key. Results are identical
# by construction (decomposable measures only), which is exactly what
# the oracle asserts.
# ---------------------------------------------------------------------------


def _r61(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        "l_extendedprice",
    )
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("sum", "qty"),
            "n": ("count", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
        },
        n_salts=16,
    )
    return (
        ordered_result(out.select(
            "l_returnflag",
            F.col("sum_qty").cast("string").alias("sum_qty"),
            "n",
            "max_price",
        ), "l_returnflag")
    )


_r(
    "r61_salted_skew_aggregate",
    "salted two-phase aggregation == plain GROUP BY",
    _r61,
    """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
       CAST(count(l_extendedprice) AS BIGINT) AS n,
       max(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)

# ---------------------------------------------------------------------------
# R62 — distribution shape per group: Shannon entropy and Gini
# impurity of each event_type's user-activity distribution, from
# exact integer counts; the only float ops are the final log/ratio,
# floored at 4 decimals so cross-engine libm ulp differences can't
# flip a bit (same protocol as R35).
# ---------------------------------------------------------------------------


def _r62(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    p = F.col("c") / F.col("n")
    return (
        ordered_result(counts.withColumn("n", F.sum("c").over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(
            F.sum(-p * F.log(p)).alias("_h"),
            (F.lit(1) - F.sum(p * p)).alias("_g"),
            F.count(F.lit(1)).alias("n_users"),
        )
        .select(
            "event_type",
            _fl4(F.col("_h")).alias("entropy"),
            _fl4(F.col("_g")).alias("gini"),
            "n_users",
        ), "event_type")
    )


_r(
    "r62_entropy_gini",
    "Shannon entropy + Gini impurity per group from exact counts",
    _r62,
    """
WITH counts AS (
  SELECT event_type, user_id, count(*) AS c
  FROM events GROUP BY 1, 2
), withn AS (
  SELECT event_type, c,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM counts
)
SELECT event_type,
       floor(SUM(-(CAST(c AS DOUBLE)/n) * ln(CAST(c AS DOUBLE)/n)) * 10000)/10000 AS entropy,
       floor((1 - SUM((CAST(c AS DOUBLE)/n) * (CAST(c AS DOUBLE)/n))) * 10000)/10000 AS gini,
       CAST(count(*) AS BIGINT) AS n_users
FROM withn
GROUP BY event_type ORDER BY event_type
""",
)

# ---------------------------------------------------------------------------
# R63 — as-of FORWARD join: for each purchase, the next error event of
# the same user at-or-after it (R09's mirror; completes the asof
# family: backward = "state as of", forward = "first effect after").
# Same single-shuffle windowed form — no per-row subquery, no range
# join: one exchange on user_id serves the window and the filter.
# ---------------------------------------------------------------------------


def _r63(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    err_id = F.when(F.col("event_type") == "error", F.col("event_id"))
    return (
        ordered_result(ev.withColumn("next_error_id", F.first(err_id, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "next_error_id"), "event_id")
    )


_r(
    "r63_asof_forward_join",
    "as-of forward join: next error after each purchase, per user",
    _r63,
    """
SELECT event_id, user_id, next_error_id
FROM (
  SELECT event_id, user_id, event_type,
         -- first error strictly after the current row in (ts, event_id) order
         min(CASE WHEN event_type = 'error' THEN event_id END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_error_id
  FROM events
  WHERE event_type IN ('purchase', 'error')
)
WHERE event_type = 'purchase'
ORDER BY event_id
""",
)

# ---------------------------------------------------------------------------
# R64 — weighted median per group: smallest value whose cumulative
# weight reaches half the group's total (here: the l_quantity-weighted
# median extended price per return flag), computed by an exact
# two-pass binned quantile (histogram → median bin → within-bin scan).
# All arithmetic stays in the decimal domain (bit-exact oracle); the
# oracle expresses the same semantics as one naive cumulative window.
# ---------------------------------------------------------------------------


def _r64(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-pass binned quantile — EXACT, and scale-safe where the naive
    # form is not: a cumulative window PARTITION BY l_returnflag (3
    # values) would sort the whole fact table inside 3 tasks.  Instead:
    #   pass 1: hash-aggregate weight per (group, price-bin) — map-side
    #           partials, histogram is O(groups × bins) rows;
    #   locate:  cumulative window over the TINY histogram finds each
    #           group's median bin + weight preceding it;
    #   pass 2: only rows in the median bin (one bin's worth per group)
    #           are re-aggregated per distinct price and scanned with a
    #           window over O(distinct prices in one bin) rows.
    # No task ever sorts more than one bin of one group.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("decimal(18,2)").alias("wt"),
    )
    li = li.withColumn(
        "bin", F.floor(F.col("l_extendedprice") / F.lit(256)).cast("long")
    )

    hist = li.groupBy("l_returnflag", "bin").agg(F.sum("wt").alias("bw"))
    wbin = (
        Window.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    hist = hist.withColumn("cum", F.sum("bw").over(wbin)).withColumn(
        "tot", F.sum("bw").over(wtot)
    )
    # first bin whose cumulative weight crosses half the total; carry
    # the weight that precedes it and the group total for pass 2
    med_bin = (
        hist.filter(F.col("cum") * 2 >= F.col("tot"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("l_returnflag").orderBy("bin")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("l_returnflag").alias("mg"),
            F.col("bin").alias("mbin"),
            (F.col("cum") - F.col("bw")).alias("prev_cum"),
            "tot",
        )
    )

    inbin = li.join(
        F.broadcast(med_bin),
        (F.col("l_returnflag") == F.col("mg"))
        & (F.col("bin") == F.col("mbin")),
    ).select("l_returnflag", "l_extendedprice", "wt", "prev_cum", "tot")

    vals = inbin.groupBy(
        "l_returnflag", "l_extendedprice", "prev_cum", "tot"
    ).agg(F.sum("wt").alias("vw"))
    wval = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ordered_result(vals.withColumn("cum", F.col("prev_cum") + F.sum("vw").over(wval))
        .filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("weighted_median_price")), "l_returnflag")
    )


_r(
    "r64_weighted_median",
    "weighted median per group via cumulative-weight threshold",
    _r64,
    """
SELECT l_returnflag, min(l_extendedprice) AS weighted_median_price
FROM (
  SELECT l_returnflag, l_extendedprice,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
           PARTITION BY l_returnflag ORDER BY l_extendedprice
           ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
           PARTITION BY l_returnflag) AS tot
  FROM lineitem
)
WHERE cum * 2 >= tot
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)

# ---------------------------------------------------------------------------
# R65 — DISTINCT ordered list aggregation: the dedup twin of R30's
# ordered LISTAGG. Spark has no collect_set-with-order; the idiomatic
# form is collect_set → array_sort → array_join, all inside one
# partial-aggregatable pass (set-union partials merge map-side).
# ---------------------------------------------------------------------------


def _r65(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        ordered_result(o.groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        ), "o_orderstatus")
    )


_r(
    "r65_listagg_distinct",
    "DISTINCT ordered list aggregation per group",
    _r65,
    """
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
         AS priorities,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)

# ---------------------------------------------------------------------------
# R66 — z-order (Morton) clustering key: the data-layout primitive
# behind multi-column file skipping (operators/layout.py). The query
# gates the bit-interleave itself — pure shift/mask/or integer ops,
# identical expression in both engines — over (user_id, value-bucket),
# plus the z-range each output file would cover under an 8-file
# range-partitioned layout (ntile over the z-order).
# ---------------------------------------------------------------------------


def _r66(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.layout import zorder_key2

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("x"),
        F.floor(F.col("value")).cast("bigint").alias("y"),
    ).withColumn("zkey", zorder_key2(F.col("x"), F.col("y"), bits=8))
    w = Window.orderBy("zkey", "event_id")
    return (
        ordered_result(keyed.withColumn("file_id", F.ntile(8).over(w))
        .groupBy("file_id")
        .agg(
            F.min("zkey").alias("z_lo"),
            F.max("zkey").alias("z_hi"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.count(F.lit(1)).alias("n"),
        ), "file_id")
    )


from graal_cdc_spark.operators.layout import zorder_key2_sql as _zsql  # noqa: E402

_r(
    "r66_zorder_layout",
    "Morton z-order clustering key + per-file min/max coverage",
    _r66,
    f"""
WITH keyed AS (
  SELECT event_id,
         CAST(user_id AS BIGINT) AS x,
         CAST(floor(value) AS BIGINT) AS y
  FROM events
), z AS (
  SELECT event_id, x, y, {_zsql("x", "y", bits=8)} AS zkey FROM keyed
)
SELECT file_id,
       CAST(min(zkey) AS BIGINT) AS z_lo,
       CAST(max(zkey) AS BIGINT) AS z_hi,
       CAST(min(x) AS BIGINT) AS x_lo,
       CAST(max(x) AS BIGINT) AS x_hi,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT x, zkey, ntile(8) OVER (ORDER BY zkey, event_id) AS file_id FROM z
)
GROUP BY file_id ORDER BY file_id
""",
)

# ---------------------------------------------------------------------------
# R67 — cogrouped pandas UDF (U-family completion: scalar r22, UDAF
# r32, UDTF r47, grouped-map l15, mapInPandas mm02 — this is the
# remaining API member). Per user, the purchase and error timelines
# cogroup into one Python function computing integer-exact stats
# (counts only — deterministic, oracle-able). Scale: both sides
# hash-shuffle on the key once; Arrow moves each (key, group-pair)
# batch to ONE python worker — state bounded by the largest single
# user's events, the same contract as any grouped-map op.
# ---------------------------------------------------------------------------


def _r67(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    # TWO scale lessons pinned here. (1) Pin the grouping partitioning
    # EXPLICITLY: AQE's byte-based coalescing sees a ~1 MB shuffle and
    # folds it to ONE partition, serializing the python stage in a
    # single task (5.6x slower here) — explicit repartition(N, key) is
    # AQE-exempt. (2) Cogroup on a BUCKET of the key, not the raw key:
    # Spark pays fixed per-group machinery (arrow framing, schema
    # checks, a 1-row frame per call) that is invisible to the planner
    # — per-user groups cost ~0.6 ms each (1.28 s at sf0.1); hashing
    # users into 2N buckets and resolving per-user stats INSIDE the
    # python function with a vectorized pandas groupby bounds the call
    # count at 2N forever (0.94 s, identical rows). At 100 TB the
    # per-user form is 1e9 python calls; the bucketed form is still 2N.
    n_par = spark.sparkContext.defaultParallelism
    n_buckets = 2 * n_par
    bucket = F.pmod("user_id", F.lit(n_buckets))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", bucket.alias("bucket")
    ).repartition(n_par, "bucket")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", bucket.alias("bucket")
    ).repartition(n_par, "bucket")

    def stats(key, p: pd.DataFrame, e: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pg = {u: g for u, g in p.groupby("user_id")} if len(p) else {}
        eg = {u: g for u, g in e.groupby("user_id")} if len(e) else {}
        half_hour = 30 * 60 * 1_000_000_000
        out_u, out_np, out_ne, out_pairs = [], [], [], []
        for u in set(pg) | set(eg):
            pp, ee = pg.get(u), eg.get(u)
            n_err_before = 0
            if pp is not None and ee is not None:
                # int64 nanoseconds (mixed Timestamp/np dtypes don't
                # order against each other); searchsorted vectorized
                # over ALL of a user's purchases at once
                ets = np.sort(ee["ts"].astype("int64").to_numpy())
                pts = pp["ts"].astype("int64").to_numpy()
                lo = np.searchsorted(ets, pts - half_hour, "left")
                hi = np.searchsorted(ets, pts, "right")
                n_err_before = int((hi - lo).sum())
            out_u.append(u)
            out_np.append(0 if pp is None else len(pp))
            out_ne.append(0 if ee is None else len(ee))
            out_pairs.append(n_err_before)
        return pd.DataFrame(
            {
                "user_id": out_u,
                "n_purchases": out_np,
                "n_errors": out_ne,
                "n_error_purchase_pairs": out_pairs,
            }
        )

    return (
        ordered_result(purchases.groupBy("bucket")
        .cogroup(errors.groupBy("bucket"))
        .applyInPandas(
            stats,
            "user_id bigint, n_purchases bigint, n_errors bigint, "
            "n_error_purchase_pairs bigint",
        )
        .filter((F.col("n_purchases") > 0) | (F.col("n_errors") > 0)), "user_id")
    )


_r(
    "r67_cogrouped_pandas",
    "cogrouped applyInPandas: per-user purchase/error timeline stats",
    _r67,
    """
WITH p AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
), e AS (
  SELECT user_id, ts FROM events WHERE event_type = 'error'
), users AS (
  SELECT user_id FROM p UNION SELECT user_id FROM e
), pairs AS (
  SELECT p.user_id, count(*) AS n
  FROM p JOIN e ON e.user_id = p.user_id
   AND e.ts >= p.ts - INTERVAL '30 minutes' AND e.ts <= p.ts
  GROUP BY p.user_id
)
SELECT u.user_id,
       CAST(coalesce((SELECT count(*) FROM p WHERE p.user_id = u.user_id), 0) AS BIGINT) AS n_purchases,
       CAST(coalesce((SELECT count(*) FROM e WHERE e.user_id = u.user_id), 0) AS BIGINT) AS n_errors,
       CAST(coalesce(pr.n, 0) AS BIGINT) AS n_error_purchase_pairs
FROM users u LEFT JOIN pairs pr ON pr.user_id = u.user_id
ORDER BY u.user_id
""",
)

# ---------------------------------------------------------------------------
# R68 — deterministic per-group mode (most frequent value): built-in
# mode() breaks ties arbitrarily, which can't be oracle-gated; the
# deterministic form ranks (count DESC, value) and keeps rank 1 —
# one count aggregate + one window over O(groups × distinct values).
# ---------------------------------------------------------------------------


def _r68(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        ordered_result(counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        ), "o_orderstatus")
    )


_r(
    "r68_deterministic_mode",
    "per-group mode with lexicographic tie-break",
    _r68,
    """
SELECT o_orderstatus, o_orderpriority AS mode_priority, CAST(n AS BIGINT) AS n
FROM (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY count(*) DESC, o_orderpriority) AS rk
  FROM orders GROUP BY o_orderstatus, o_orderpriority
)
WHERE rk = 1
ORDER BY o_orderstatus
""",
)

# ---------------------------------------------------------------------------
# R69 — schema-evolution union: unionByName(allowMissingColumns) over
# two generations of the same feed (a column added upstream), then one
# aggregate over the merged log. The missing column null-fills — the
# ingestion op every long-lived lake table needs when producers roll
# schemas at different times. Oracle: UNION ALL with explicit NULL
# padding (the SQL spelling of the same merge).
# ---------------------------------------------------------------------------


def _r69(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    merged = v1.unionByName(v2, allowMissingColumns=True)
    return (
        ordered_result(merged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("string")
            .alias("total"),
        ), F.col("o_orderpriority").asc_nulls_first())
    )


_r(
    "r69_union_by_name_evolution",
    "schema-evolution union with null-filled new column + aggregate",
    _r69,
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS total
FROM (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority NULLS FIRST
""",
)

# ---------------------------------------------------------------------------
# R70 — month-over-month growth: monthly aggregate + lag. Growth is
# integer basis points over BIGINT counts ((cur-prev)*10000 DIV prev)
# — bit-exact, no float division. The lag window is a single
# partition BY DESIGN over O(months) rows (the aggregate output),
# never the fact table — same bounded-single-partition rationale as
# l40's O(shards) offsets window.
# ---------------------------------------------------------------------------


def _r70(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("string")
        .alias("revenue"),
    )
    w = Window.orderBy("month")
    prev = F.lag("n_orders").over(w)
    return (
        ordered_result(monthly.withColumn(
            "growth_bp",
            F.when(
                prev.isNotNull() & (prev != 0),
                F.expr(
                    "(n_orders - lag(n_orders) OVER (ORDER BY month)) * 10000"
                    " DIV lag(n_orders) OVER (ORDER BY month)"
                ),
            ),
        )
        .select("month", "n_orders", "revenue", "growth_bp"), "month")
    )


_r(
    "r70_month_over_month_growth",
    "monthly rollup + lag growth in integer basis points",
    _r70,
    """
SELECT month, n_orders, revenue,
       CASE WHEN lag(n_orders) OVER (ORDER BY month) IS NOT NULL
             AND lag(n_orders) OVER (ORDER BY month) <> 0
            THEN CAST((n_orders - lag(n_orders) OVER (ORDER BY month)) * 10000
                      // lag(n_orders) OVER (ORDER BY month) AS BIGINT)
       END AS growth_bp
FROM (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS revenue
  FROM orders GROUP BY 1
)
ORDER BY month
""",
)

# ---------------------------------------------------------------------------
# R71 — top-N with OTHERS rollup: the reporting idiom that caps a
# categorical breakdown at N labeled rows plus one OTHERS bucket.
# The rank runs over the AGGREGATE (O(categories) rows), never the
# fact table; ties break deterministically on (count DESC, name).
# ---------------------------------------------------------------------------


def _r71(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    counts = p.groupBy("p_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("p_type"))
    labeled = counts.withColumn("rn", F.row_number().over(w)).withColumn(
        "bucket",
        F.when(F.col("rn") <= 5, F.col("p_type")).otherwise(F.lit("OTHERS")),
    )
    return (
        ordered_result(labeled.groupBy("bucket")
        .agg(
            F.sum("cnt").alias("n_parts"),
            F.count(F.lit(1)).alias("n_types"),
        ), F.col("n_parts").desc(), "bucket")
    )


_r(
    "r71_topn_with_others",
    "top-5 categories + OTHERS rollup bucket (capped breakdown)",
    _r71,
    """
SELECT bucket,
       CAST(SUM(cnt) AS BIGINT) AS n_parts,
       CAST(count(*) AS BIGINT) AS n_types
FROM (
  SELECT CASE WHEN row_number() OVER (ORDER BY cnt DESC, p_type) <= 5
              THEN p_type ELSE 'OTHERS' END AS bucket,
         cnt
  FROM (SELECT p_type, CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY p_type)
)
GROUP BY bucket ORDER BY n_parts DESC, bucket
""",
)

# ---------------------------------------------------------------------------
# R72 — mapInArrow: Arrow-native batch transform (zero pandas
# conversion — the lowest-overhead Python hook Spark has). Completes
# the declared Python-runtime surface (U1 family: udf, pandas_udf,
# UDTF, applyInPandas, cogrouped, mapInPandas, mapInArrow). The
# Python stage is a pure per-batch projection; the aggregate runs
# JVM-side after.
# ---------------------------------------------------------------------------


def _r72(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("disc"),
    )

    def discount_batch(batches):
        # integer basis: cents × (100 - discount_bp) — exact int64,
        # immune to float-rounding-mode drift between engines
        for batch in batches:
            flag = batch.column(batch.schema.get_field_index("l_returnflag"))
            price = batch.column(batch.schema.get_field_index("price"))
            disc = batch.column(batch.schema.get_field_index("disc"))
            cents = pc.cast(pc.round(pc.multiply(price, pa.scalar(100.0))), pa.int64())
            dbp = pc.cast(pc.round(pc.multiply(disc, pa.scalar(100.0))), pa.int64())
            e4 = pc.multiply(cents, pc.subtract(pa.scalar(100, pa.int64()), dbp))
            yield pa.record_batch(
                [flag, e4], names=["l_returnflag", "revenue_e4"]
            )

    out = li.mapInArrow(discount_batch, "l_returnflag string, revenue_e4 long")
    return (
        ordered_result(out.groupBy("l_returnflag")
        .agg(
            F.sum("revenue_e4").cast("long").alias("revenue_e4"),
            F.count(F.lit(1)).alias("n"),
        ), "l_returnflag")
    )


_r(
    "r72_map_in_arrow",
    "Arrow-native batch transform (mapInArrow) + JVM-side aggregate",
    _r72,
    """
SELECT l_returnflag,
       CAST(SUM(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)
                * (100 - CAST(round(CAST(l_discount AS DOUBLE) * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)

# ---------------------------------------------------------------------------
# R73 — VariantType semi-structured processing (Spark 4): parse the
# JSON props column ONCE into a variant (binary-encoded, no
# per-access reparse), extract typed paths, aggregate. The variant
# parse+extract stays whole-stage-codegen JVM-side — the idiomatic
# replacement for repeated get_json_object string parsing.
# ---------------------------------------------------------------------------


def _r73(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        ordered_result(ev.select(
            "event_type",
            F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        ), "event_type")
    )


_r(
    "r73_variant_json",
    "VariantType parse + typed path extraction + aggregate",
    _r73,
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS min_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k
FROM events
GROUP BY event_type ORDER BY event_type
""",
)


# ---------------------------------------------------------------------------
# R74 — time-weighted average: per event type, the mean of `value`
# weighted by how long it was current (micros until the user's next
# event) — the standard irregular-time-series aggregate (TSDB
# time_weight). Scale: the lead() window partitions on user_id
# (high-cardinality, even shuffle — bounded rows per user); weighted
# sums are integer/decimal-exact (value in floor-cents x BIGINT
# micros, summed as DECIMAL(38,0)), ratio floored at 4 decimals per
# the r32 protocol.
# ---------------------------------------------------------------------------


def _r74(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.select("user_id", "event_type", "value", "ts", "event_id")
        .withColumn(
            "dur_us",
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts"),
        )
        .filter(F.col("dur_us").isNotNull())
        .withColumn(
            "cents", F.floor(F.col("value") * 100).cast("decimal(38,0)")
        )
    )
    num = F.sum(F.col("cents") * F.col("dur_us"))
    den = F.sum(F.col("dur_us"))
    return (
        ordered_result(seg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            (
                F.floor(
                    num.cast("double") / den.cast("double") / 100.0 * 10000
                )
                / 10000
            ).alias("twa_value"),
        ), "event_type")
    )


_r(
    "r74_time_weighted_average",
    "per-event-type time-weighted mean value (held until the user's "
    "next event; TSDB time_weight semantics)",
    _r74,
    """
WITH seg AS (
  SELECT event_type,
         CAST(floor(value * 100) AS HUGEINT) AS cents,
         epoch_us(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id)) - epoch_us(ts)
           AS dur_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_segments,
       floor(CAST(SUM(cents * dur_us) AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE) / 100.0 * 10000) / 10000
         AS twa_value
FROM seg
WHERE dur_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
    ref="SURVEY.md §2.4 R13 family (event-time analytics)",
)


# ---------------------------------------------------------------------------
# R75 — referential-integrity audit: orphan counts for every FK edge
# of the star schema in ONE report (orders→customer, lineitem→orders,
# customer→nation, supplier→nation). The standing data-quality gate a
# lake pipeline runs after each load. Scale: each edge is a LEFT ANTI
# join — dims broadcast, fact-fact (lineitem→orders) shuffles on the
# join key once; counts union into a 4-row report.
# ---------------------------------------------------------------------------


def _r75(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")

    def edge(name, child, child_key, parent, parent_key, small_parent):
        par = parent.select(F.col(parent_key).alias(child_key)).distinct()
        if small_parent:
            par = F.broadcast(par)
        orphans = child.join(par, child_key, "left_anti")
        return (
            child.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(F.lit(name).alias("fk_edge"), "n_rows", "n_orphans")
        )

    return (
        ordered_result(edge("customer->nation", cust, "c_nationkey", nation, "n_nationkey", True)
        .unionByName(
            edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey", False)
        )
        .unionByName(
            edge("orders->customer", orders, "o_custkey", cust, "c_custkey", False)
        )
        .unionByName(
            edge("supplier->nation", supp, "s_nationkey", nation, "n_nationkey", True)
        ), "fk_edge")
    )


_r(
    "r75_fk_orphan_audit",
    "star-schema referential-integrity audit: per-FK-edge row and "
    "orphan counts (anti-join data-quality gate)",
    _r75,
    """
SELECT 'customer->nation' AS fk_edge,
       CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
            AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT)
UNION ALL
SELECT 'orders->customer',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT)
UNION ALL
SELECT 'supplier->nation',
       CAST((SELECT count(*) FROM supplier) AS BIGINT),
       CAST((SELECT count(*) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey))
            AS BIGINT)
ORDER BY fk_edge
""",
    ref="SURVEY.md §2.4 R07 family (anti-join surface)",
)


# ---------------------------------------------------------------------------
# R76 — exact DISCRETE percentiles (p25/p50/p75) of order value per
# customer: the value AT rank ceil(p*n), never interpolated — the
# per-entity spend profile. Scale: ONE window partitioned by
# o_custkey (high-cardinality key, bounded rows per customer — the
# safe window shape; contrast r64 where the 3-value key forced the
# binned plan). The oracle states the identical rank formulation
# rather than quantile_disc so both engines share one definition.
# ---------------------------------------------------------------------------


def _r76(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_custkey"))
        .alias("n"),
    )

    def pick(p_num: int, p_den: int, name: str):
        # value at rank ceil(p*n): smallest rn with rn*p_den >= n*p_num.
        # Output as canonical string: DECIMAL on the result surface is
        # not portable through the gate's value hash (round-5 lesson).
        return (
            F.min(
                F.when(
                    F.col("rn") * p_den >= F.col("n") * p_num, F.col("price")
                )
            )
            .cast("string")
            .alias(name)
        )

    return (
        ordered_result(ranked.groupBy("o_custkey")
        .agg(
            F.max("n").alias("n_orders"),
            pick(1, 4, "p25"),
            pick(2, 4, "p50"),
            pick(3, 4, "p75"),
        ), "o_custkey")
    )


_r(
    "r76_percentile_disc",
    "exact discrete p25/p50/p75 of order value per customer "
    "(rank-at-ceil(p*n), no interpolation)",
    _r76,
    """
WITH ranked AS (
  SELECT o_custkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS n
  FROM orders
)
SELECT o_custkey,
       CAST(max(n) AS BIGINT) AS n_orders,
       CAST(min(CASE WHEN rn * 4 >= n * 1 THEN price END) AS VARCHAR) AS p25,
       CAST(min(CASE WHEN rn * 4 >= n * 2 THEN price END) AS VARCHAR) AS p50,
       CAST(min(CASE WHEN rn * 4 >= n * 3 THEN price END) AS VARCHAR) AS p75
FROM ranked
GROUP BY o_custkey ORDER BY o_custkey
""",
    ref="SURVEY.md §2.4 R24 family (exact percentile surface)",
)


# ---------------------------------------------------------------------------
# R77 — percent-of-total analytics (ratio_to_report): each nation's
# share of its region's customer account balance, in integer basis
# points over floor-cents — the standard report-share window. Scale:
# one aggregate to nation grain (tiny), then the share window runs
# over O(nations) rows — the window NEVER sees the customer table
# (same pre-reduce discipline as c15/r64).
# ---------------------------------------------------------------------------


def _r77(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_nation = (
        cust.groupBy("c_nationkey")
        .agg(
            F.sum(
                F.floor(F.col("c_acctbal") * 100).cast("bigint")
            ).alias("bal_cents")
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("c_nationkey"),
                    "n_name",
                    "n_regionkey",
                )
            ),
            "c_nationkey",
        )
    )
    w = Window.partitionBy("n_regionkey")
    return (
        ordered_result(per_nation.withColumn(
            "region_cents", F.sum("bal_cents").over(w)
        )
        .select(
            "n_regionkey",
            "n_name",
            "bal_cents",
            F.expr("10000 * bal_cents div region_cents").alias("share_bp"),
        ), "n_regionkey", "n_name")
    )


_r(
    "r77_percent_of_total",
    "each nation's basis-point share of its region's account balance "
    "(ratio_to_report window over the pre-reduced grain)",
    _r77,
    """
WITH per_nation AS (
  SELECT c_nationkey,
         SUM(CAST(floor(c_acctbal * 100) AS BIGINT)) AS bal_cents
  FROM customer GROUP BY c_nationkey
)
SELECT n_regionkey, n_name, CAST(bal_cents AS BIGINT) AS bal_cents,
       CAST((10000 * bal_cents)
            // SUM(bal_cents) OVER (PARTITION BY n_regionkey)
            AS BIGINT) AS share_bp
FROM per_nation JOIN nation ON n_nationkey = c_nationkey
ORDER BY n_regionkey, n_name
""",
    ref="SURVEY.md §2.4 R31 family (distribution windows)",
)


# ---------------------------------------------------------------------------
# R78 — inline() generator over collected struct arrays: nest each
# order's lineitems into ARRAY<STRUCT>, then flatten back with
# `inline` and compute the per-order fill profile (first/last line
# quantities + total). Completes the generator surface (r26
# posexplode, r43 explode_outer, r47 UDTF): `inline` is the
# struct-array flattener a denormalized lake schema (orders with an
# embedded items array) reads through. Scale: ONE shuffle on
# l_orderkey builds bounded per-order arrays; inline is map-side.
# ---------------------------------------------------------------------------


def _r78(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("ln"),
                    F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
                )
            )
        ).alias("items")
    )
    # per-order stats computed ON the array (row-local) before the
    # inline() flattening — the generator is still exercised, but the
    # former count/sum window over the 600k flattened rows (a full
    # in-partition sort + window pass) collapses to size()/aggregate()
    flat = nested.select(
        "l_orderkey",
        F.size("items").cast("long").alias("n_items"),
        F.expr(
            "aggregate(items, CAST(0 AS DECIMAL(28,2)), "
            "(a, x) -> CAST(a + x.qty AS DECIMAL(28,2)))"
        ).cast("decimal(18,2)").alias("total_qty"),
        F.inline("items"),
    )
    return ordered_result(
        flat.filter(F.col("ln") == 1).select(
            "l_orderkey",
            "n_items",
            F.col("qty").cast("string").alias("first_line_qty"),
            F.col("total_qty").cast("string").alias("total_qty"),
        ),
        "l_orderkey",
    )


_r(
    "r78_inline_struct_array",
    "inline() flattening of per-order item struct arrays + first-line "
    "fill profile (generator-surface member)",
    _r78,
    """
WITH flat AS (
  SELECT l_orderkey, l_linenumber AS ln,
         CAST(l_quantity AS DECIMAL(18,2)) AS qty
  FROM lineitem
)
SELECT l_orderkey,
       CAST(count(*) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_items,
       CAST(qty AS VARCHAR) AS first_line_qty,
       CAST(SUM(qty) OVER (PARTITION BY l_orderkey) AS VARCHAR) AS total_qty
FROM flat
QUALIFY ln = 1
ORDER BY l_orderkey
""",
    ref="SURVEY.md §2.4 R26/R43 family (generator functions)",
)


# ---------------------------------------------------------------------------
# R79 — quantized PageRank, 2 unrolled iterations over the
# customer↔supplier trading graph (edges from orders ⋈ lineitem,
# symmetrized) — the second oracle-gated ITERATIVE algorithm after
# the l31 k-means family, and the same determinism trick: scores live
# on an integer micro-unit grid (init 1e6; update = 150000 +
# (85 * incoming) DIV 100 with per-edge contribution score DIV
# out-degree), so both engines do exact integer arithmetic and the
# hash gate is stable. Scale: each iteration is one join of the edge
# list against O(nodes) scores (shuffle on node key) + one aggregate;
# the loop builds the DAG in Python, moves nothing to the driver.
# ---------------------------------------------------------------------------


def _r79(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # integer node encoding (customer 2k, supplier 2k+1) — the joins,
    # dedup, and aggregations all hash these keys ~5× over the
    # million-row edge frame; bigint keys keep that JVM-cheap, and the
    # 'c…'/'s…' labels the oracle speaks are reconstructed at node
    # grain in the final projection
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_suppkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
    )
    # The invariant edge frame feeds BOTH unrolled iterations — the
    # canonical Spark iterative-graph pattern is to CACHE it,
    # partitioned by the join key: InMemoryRelation preserves the
    # hash partitioning (localCheckpoint does not), so neither
    # iteration re-exchanges the million-row edge table, and the
    # orders⋈lineitem dedup runs once instead of per-consumer.
    # Build-once: repeat executions reuse the two cached frames
    # instead of stacking new persisted copies (the ADVICE r9 cache
    # leak) or rebuilding per call.
    def build() -> tuple[DataFrame, DataFrame]:
        # Symmetrize with ONE in-row explode instead of the old
        # union-of-two-branches (r14; guide §2.4): a union's branches
        # are planned independently, so `pairs ⋈ pairs.swap` executed
        # the orders⋈lineitem join TWICE and paid two wide exchanges
        # (the (a,b) distinct, then repartition("a")). Exploding
        # [(a,b),(b,a)] per row runs the join once, and the dedup
        # rides the single HashPartitioning("a") exchange —
        # ClusteredDistribution((a,b)) is satisfied by any
        # partitioning on a subset of its keys, so dropDuplicates
        # plans no second exchange. Same edge set: dedup-then-swap ≡
        # swap-then-dedup (swapping is a bijection, and the two
        # direction sets are disjoint by node parity).
        edges = (
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a"), F.col("b")),
                        F.struct(
                            F.col("b").alias("a"), F.col("a").alias("b")
                        ),
                    )
                ).alias("__e")
            )
            .select("__e.a", "__e.b")
            .repartition("a")
            .dropDuplicates(["a", "b"])
            .persist()
        )
        # deg reuses the edge partitioning (groupBy on the partition
        # key needs no exchange); it is node-grain — tiny next to the
        # edges, and cached because both iterations' rate builds
        # consume it
        deg = (
            edges.groupBy("a")
            .agg(F.count(F.lit(1)).alias("outdeg"))
            .persist()
        )
        return edges, deg

    edges, deg = build_once(spark, "r79_graph", (pairs,), build)
    scores = deg.select("a", F.lit(1_000_000).cast("bigint").alias("score"))
    for _ in range(2):
        # pre-join the two node-grain frames (scores ⋈ deg — both
        # bounded by node count) so the edge table is joined ONCE
        # per iteration, not twice; AQE broadcasts the node-grain
        # side
        rates = scores.join(deg, "a").select(
            "a", F.expr("score DIV outdeg").alias("rate")
        )
        contrib = edges.join(rates, "a").select(
            F.col("b").alias("node"), F.col("rate").alias("c")
        )
        scores = (
            contrib.groupBy("node")
            .agg(F.sum("c").alias("inc"))
            .select(
                F.col("node").alias("a"),
                (F.lit(150_000) + F.expr("(85 * inc) DIV 100"))
                .cast("bigint")
                .alias("score"),
            )
        )
    return (
        scores.select(
            F.when(
                F.col("a") % 2 == 0,
                F.concat(F.lit("c"), (F.col("a") / 2).cast("bigint")),
            )
            .otherwise(
                F.concat(
                    F.lit("s"), ((F.col("a") - 1) / 2).cast("bigint")
                )
            )
            .alias("node"),
            "score",
        )
        .orderBy(F.col("score").desc(), "node")
        .limit(20)
    )


_r(
    "r79_pagerank_quantized",
    "2-iteration integer-quantized PageRank over the symmetrized "
    "customer-supplier trading graph (top-20 nodes)",
    _r79,
    """
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
), deg AS (
  SELECT a, count(*) AS outdeg FROM edges GROUP BY a
), s0 AS (
  SELECT a, CAST(1000000 AS BIGINT) AS score FROM deg
), s1 AS (
  SELECT e.b AS a,
         CAST(150000 + (85 * SUM(s0.score // d.outdeg)) // 100 AS BIGINT)
           AS score
  FROM edges e JOIN s0 ON e.a = s0.a JOIN deg d ON e.a = d.a
  GROUP BY e.b
), s2 AS (
  SELECT e.b AS a,
         CAST(150000 + (85 * SUM(s1.score // d.outdeg)) // 100 AS BIGINT)
           AS score
  FROM edges e JOIN s1 ON e.a = s1.a JOIN deg d ON e.a = d.a
  GROUP BY e.b
)
SELECT a AS node, score FROM s2
ORDER BY score DESC, node LIMIT 20
""",
    ref="SURVEY.md §2.4 L31 family (oracle-gated iterative algorithms)",
)


# ---------------------------------------------------------------------------
# R80 — sessionized conversion rate: 30-minute-gap sessions per user
# (gaps-and-islands), a session converts if it contains a purchase;
# daily session count + conversion in basis points. Composes the r55
# islands machinery into the product-metric every funnel dashboard
# starts with. Scale: both windows partition on user_id
# (high-cardinality); the rollup input is session grain.
# ---------------------------------------------------------------------------


def _r80(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.unix_micros("ts")
            - F.unix_micros(F.lag("ts").over(w))
            > 30 * 60 * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    ).withColumn(
        "session_id",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sessions = flagged.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("start_ts"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return (
        ordered_result(sessions.groupBy(F.to_date("start_ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").alias("n_converted"),
        )
        .withColumn("conv_bp", F.expr("10000 * n_converted div n_sessions")), "day")
    )


_r(
    "r80_session_conversion",
    "30-min-gap sessionization + daily conversion rate in basis "
    "points (islands machinery into the funnel product metric)",
    _r80,
    """
WITH flagged AS (
  SELECT user_id, ts, event_type,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id))
              > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM events
), numbered AS (
  SELECT user_id, ts, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, session_id,
         min(ts) AS start_ts,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM numbered GROUP BY user_id, session_id
)
SELECT CAST(CAST(start_ts AS DATE) AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST((10000 * SUM(converted)) // count(*) AS BIGINT) AS conv_bp
FROM sessions
GROUP BY 1 ORDER BY day
""",
    ref="SURVEY.md §2.4 R53/R55 family (funnel/session analytics)",
)

# ---------------------------------------------------------------------------
# R81 — robust outlier gate: exact median + MAD per group, both through
# the reusable binned two-pass operator (operators/robust.py), so the
# profile stays scale-safe on a 3-value group key where a cumulative
# window would sort the whole table inside 3 tasks (the r64 lesson,
# factored into a reusable operator and applied twice: the MAD is a
# median of deviations from the median). Output floor-scaled to cents
# — integer-exact across engines.
# ---------------------------------------------------------------------------


def _r81(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.robust import mad_outlier_profile

    o = load_table(spark, sf_dir, "orders")
    prof = mad_outlier_profile(
        o, "o_orderstatus", "o_totalprice", k=3.0, bin_width=64.0
    )
    return ordered_result(prof.select(
        "o_orderstatus",
        F.floor(F.col("median") * 100).cast("long").alias("median_cents"),
        F.floor(F.col("mad") * 100).cast("long").alias("mad_cents"),
        "n",
        "n_outliers",
    ), "o_orderstatus")


_r(
    "r81_mad_outliers",
    "exact median + MAD + robust 3-sigma-equivalent outlier counts per "
    "group (two-pass binned medians, no full-group sort)",
    _r81,
    """
WITH ranked AS (
  SELECT o_orderstatus AS g, o_totalprice AS v,
         COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                        ROWS UNBOUNDED PRECEDING) AS c,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS t
  FROM orders
), med AS (
  SELECT g, min(v) AS median FROM ranked WHERE c * 2 >= t GROUP BY g
), dev AS (
  SELECT o.o_orderstatus AS g, m.median,
         abs(o.o_totalprice - m.median) AS d
  FROM orders o JOIN med m ON m.g = o.o_orderstatus
), rdev AS (
  SELECT g, d,
         COUNT(*) OVER (PARTITION BY g ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS c,
         COUNT(*) OVER (PARTITION BY g) AS t
  FROM dev
), mad AS (
  SELECT g, min(d) AS mad FROM rdev WHERE c * 2 >= t GROUP BY g
)
SELECT dev.g AS o_orderstatus,
       CAST(floor(any_value(dev.median) * 100) AS BIGINT) AS median_cents,
       CAST(floor(any_value(mad.mad) * 100) AS BIGINT) AS mad_cents,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad ON mad.g = dev.g
GROUP BY dev.g
ORDER BY o_orderstatus
""",
    ref="SURVEY.md §2.2 aggregate checklist; VERDICT r4 #3 (binned "
    "two-pass quantile, now a reusable operator)",
)

# ---------------------------------------------------------------------------
# R82 — strict consecutive sequence match (MATCH_RECOGNIZE shape):
# view -> click -> purchase with NO intervening event, per user in
# event-time order. lead() over the per-user ordered stream — the
# window partitions on the high-cardinality user key, so state per
# task is one user's events; the pattern test is row-local after the
# single shuffle.
# ---------------------------------------------------------------------------


def _r82(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        ordered_result(seq.filter(
            (F.col("event_type") == "view")
            & (F.col("e2") == "click")
            & (F.col("e3") == "purchase")
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matches")), "user_id")
    )


_r(
    "r82_strict_sequence_match",
    "strictly-consecutive view->click->purchase pattern count per user "
    "(MATCH_RECOGNIZE emulation via lead windows)",
    _r82,
    """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches
FROM seq
WHERE event_type = 'view' AND e2 = 'click' AND e3 = 'purchase'
GROUP BY user_id
ORDER BY user_id
""",
    ref="SURVEY.md §2.4 R60 family (ordered-stream pattern ops)",
)

# ---------------------------------------------------------------------------
# R83 — interval-union length per user: each event opens a 30-minute
# interval; overlapping intervals merge (classic islands via running
# max of interval end), and the covered time is the sum of island
# spans. Integer microseconds end to end — bit-exact. One shuffle on
# the high-cardinality user key.
# ---------------------------------------------------------------------------


def _r83(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = 1_800_000_000  # 30 min in microseconds
    base = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(span)).alias("e"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = base.withColumn(
        "new_island",
        F.when(
            F.col("s") >= F.coalesce(F.max("e").over(w), F.lit(-1)), 1
        ).otherwise(0),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(wrun)
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("len_us")
    )
    return (
        ordered_result(per_island.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("len_us").alias("covered_us"),
        ), "user_id")
    )


_r(
    "r83_interval_union_length",
    "per-user union length of overlapping 30-min event intervals "
    "(islands via running max-end, integer microseconds)",
    _r83,
    """
WITH base AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts) + 1800000000 AS e, event_id
  FROM events
), flagged AS (
  SELECT user_id, s, e, event_id,
         CASE WHEN s >= coalesce(max(e) OVER (
                PARTITION BY user_id ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM base
), islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), per_island AS (
  SELECT user_id, island, max(e) - min(s) AS len_us
  FROM islands GROUP BY user_id, island
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
       CAST(SUM(len_us) AS BIGINT) AS covered_us
FROM per_island
GROUP BY user_id ORDER BY user_id
""",
    ref="SURVEY.md §2.4 R55/R56 family (interval analytics)",
)

# ---------------------------------------------------------------------------
# R84 — largest-remainder proportional allocation (Hamilton
# apportionment): distribute a 10000-unit budget across each order's
# lineitems proportionally to extended price, integer floor shares
# plus +1 for the largest remainders so every order reconciles to
# EXACTLY 10000. Pure integer arithmetic; the remainder rank windows
# on the high-cardinality order key. Output is the global
# reconciliation audit (one row), so the gate checks every order's
# allocation arithmetic at once.
# ---------------------------------------------------------------------------


def _r84(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("w"),
    )
    wtot = Window.partitionBy("l_orderkey")
    t = li.withColumn("tot", F.sum("w").over(wtot)).withColumn(
        "base", F.expr("(10000 * w) div tot")
    ).withColumn("rem", F.expr("(10000 * w) % tot"))
    t = t.withColumn("deficit", F.lit(10000) - F.sum("base").over(wtot))
    wrank = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), F.col("l_linenumber").asc()
    )
    alloc = t.withColumn("rn", F.row_number().over(wrank)).withColumn(
        "alloc",
        F.col("base") + F.when(F.col("rn") <= F.col("deficit"), 1).otherwise(0),
    )
    per_order = alloc.groupBy("l_orderkey").agg(
        F.sum("alloc").alias("order_alloc"),
        F.max("alloc").alias("max_alloc"),
        F.min("alloc").alias("min_alloc"),
        F.sum(F.when(F.col("alloc") == 0, 1).otherwise(0)).alias("n_zero"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return per_order.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_lines").alias("n_lines"),
        F.sum("order_alloc").alias("total_alloc"),
        F.sum(F.when(F.col("order_alloc") == 10000, 1).otherwise(0)).alias(
            "n_reconciled"
        ),
        F.max("max_alloc").alias("max_alloc"),
        F.min("min_alloc").alias("min_alloc"),
        F.sum("n_zero").alias("n_zero_alloc"),
    )


_r(
    "r84_largest_remainder_allocation",
    "10000-unit largest-remainder allocation across each order's "
    "lineitems; global integer reconciliation audit",
    _r84,
    """
WITH w AS (
  SELECT l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS w
  FROM lineitem
), t AS (
  SELECT l_orderkey, l_linenumber, w,
         SUM(w) OVER (PARTITION BY l_orderkey) AS tot
  FROM w
), shares AS (
  SELECT l_orderkey, l_linenumber,
         (10000 * w) // tot AS base,
         (10000 * w) % tot AS rem,
         10000 - SUM((10000 * w) // tot)
           OVER (PARTITION BY l_orderkey) AS deficit
  FROM t
), alloc AS (
  SELECT l_orderkey,
         base + CASE WHEN row_number() OVER (
             PARTITION BY l_orderkey
             ORDER BY rem DESC, l_linenumber) <= deficit
           THEN 1 ELSE 0 END AS alloc
  FROM shares
), per_order AS (
  SELECT l_orderkey, SUM(alloc) AS order_alloc, MAX(alloc) AS max_alloc,
         MIN(alloc) AS min_alloc,
         SUM(CASE WHEN alloc = 0 THEN 1 ELSE 0 END) AS n_zero,
         COUNT(*) AS n_lines
  FROM alloc GROUP BY l_orderkey
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(order_alloc) AS BIGINT) AS total_alloc,
       CAST(SUM(CASE WHEN order_alloc = 10000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reconciled,
       CAST(MAX(max_alloc) AS BIGINT) AS max_alloc,
       CAST(MIN(min_alloc) AS BIGINT) AS min_alloc,
       CAST(SUM(n_zero) AS BIGINT) AS n_zero_alloc
FROM per_order
""",
    ref="SURVEY.md §2.2 (integer window arithmetic); Hamilton "
    "largest-remainder method",
)

# ---------------------------------------------------------------------------
# R85 — chi-square independence audit (event_type x day-of-week):
# per-cell contribution (O*N - r*c)^2 * 1e6 / (r*c*N) in EXACT integer
# micro-units via DECIMAL(38,0) integral division — no floating point
# anywhere, so the statistic is bit-identical across engines. The
# contingency table is O(types x 7) rows; every window below runs over
# that tiny frame, with the raw counts reduced by one map-side
# partial aggregate.
# ---------------------------------------------------------------------------


def _r85(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cell = ev.select(
        "event_type", (F.dayofweek("ts") - 1).cast("int").alias("dow")
    ).groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wn = Window.partitionBy()
    t = (
        cell.withColumn("r", F.sum("o").over(wr))
        .withColumn("c", F.sum("o").over(wc))
        .withColumn("n", F.sum("o").over(wn))
    )
    contrib = F.expr(
        "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
        " * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
        " * 1000000 div (CAST(r AS DECIMAL(38,0)) * c * n) AS BIGINT)"
    )
    return (
        ordered_result(t.select("event_type", "dow", "o", contrib.alias("contrib_micro")), "event_type", "dow")
    )


_r(
    "r85_chi2_independence",
    "chi-square independence contributions (event_type x weekday) in "
    "exact integer micro-units",
    _r85,
    """
WITH cell AS (
  SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow, count(*) AS o
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, dow, o,
         SUM(o) OVER (PARTITION BY event_type) AS r,
         SUM(o) OVER (PARTITION BY dow) AS c,
         SUM(o) OVER () AS n
  FROM cell
)
SELECT event_type, dow, CAST(o AS BIGINT) AS o,
       CAST((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
            * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
            * 1000000 // (CAST(r AS HUGEINT) * c * n) AS BIGINT)
         AS contrib_micro
FROM t
ORDER BY event_type, dow
""",
    ref="SURVEY.md §2.2 statistics checklist (R35/R62 family)",
)

# ---------------------------------------------------------------------------
# R86 — exact-distinct re-aggregation: daily distinct users per event
# type, rolled up to per-type totals from the SAME pre-deduplicated
# frame. Distinct counts do not add across days (sum(daily) >= total),
# so the only correct rollup deduplicates at the finest grain once and
# re-counts at each coarser grain — the canonical pattern for exact
# distinct hierarchies at scale (one dedup shuffle feeds every grain).
# ---------------------------------------------------------------------------


def _r86(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    triples = ev.select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    daily = triples.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("du")
    )
    per_type_daily = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("du").alias("sum_daily_distinct"),
        F.max("du").alias("peak_daily_distinct"),
    )
    per_type_total = (
        triples.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("total_distinct"))
    )
    return (
        ordered_result(per_type_daily.join(per_type_total, "event_type")
        .select(
            "event_type",
            "n_days",
            "sum_daily_distinct",
            "peak_daily_distinct",
            "total_distinct",
        ), "event_type")
    )


_r(
    "r86_distinct_rollup",
    "exact distinct-user rollup across grains from one deduplicated "
    "frame (daily sum vs true total — distincts do not add)",
    _r86,
    """
WITH triples AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS d, user_id FROM events
), daily AS (
  SELECT event_type, d, count(*) AS du FROM triples GROUP BY 1, 2
), per_type_daily AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(SUM(du) AS BIGINT) AS sum_daily_distinct,
         CAST(MAX(du) AS BIGINT) AS peak_daily_distinct
  FROM daily GROUP BY event_type
), per_type_total AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS total_distinct
  FROM (SELECT DISTINCT event_type, user_id FROM triples)
  GROUP BY event_type
)
SELECT event_type, n_days, sum_daily_distinct, peak_daily_distinct,
       total_distinct
FROM per_type_daily JOIN per_type_total USING (event_type)
ORDER BY event_type
""",
    ref="SURVEY.md §2.4 R11/R57 family (exact distinct at scale)",
)

# ---------------------------------------------------------------------------
# R87 — first-touch attribution: for every purchase, the user's FIRST
# view in the prior 7 days (r09 finds the LAST prior event, r63 the
# NEXT — this is the bounded-window FIRST, the marketing-attribution
# op). The (ts, event_id) pair is encoded as a zero-padded string so
# one MIN over a RANGE frame yields the earliest view with a
# deterministic tiebreak — portable to any engine without struct-min.
# One range window on the high-cardinality user key.
# ---------------------------------------------------------------------------


def _r87(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("s"),
    )
    from graal_cdc_spark.operators.asof import (
        decode_id,
        decode_ts,
        encode_ts_id,
    )

    enc = F.when(
        F.col("event_type") == "view",
        encode_ts_id(F.col("s"), F.col("event_id")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-7 * 24 * 3600 * 1_000_000, 0)
    )
    tagged = ev.withColumn("first_view", F.min(enc).over(w))
    return (
        ordered_result(tagged.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            decode_id(F.col("first_view")).alias("first_view_event_id"),
            F.floor(
                (F.col("s") - decode_ts(F.col("first_view")))
                / F.lit(1_000_000)
            ).cast("bigint").alias("wait_s"),
        ), "event_id")
    )


_r(
    "r87_first_touch_attribution",
    "first view within 7 days before each purchase per user "
    "(bounded-window as-of-first via encoded min over a range frame)",
    _r87,
    """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS s FROM events
), tagged AS (
  SELECT user_id, event_type, event_id, s,
         min(CASE WHEN event_type = 'view'
                  THEN lpad(CAST(s AS VARCHAR), 20, '0') || '-' ||
                       lpad(CAST(event_id AS VARCHAR), 12, '0') END)
           OVER (PARTITION BY user_id ORDER BY s
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
           AS first_view
  FROM ev
)
SELECT event_id, user_id,
       CAST(substring(first_view, 22, 12) AS BIGINT)
         AS first_view_event_id,
       (s - CAST(substring(first_view, 1, 20) AS BIGINT)) // 1000000
         AS wait_s
FROM tagged
WHERE event_type = 'purchase'
ORDER BY event_id
""",
    ref="SURVEY.md §2.4 R09/R63 family (as-of joins); first-touch "
    "attribution",
)

# ---------------------------------------------------------------------------
# R88 — exact equi-depth (quartile) boundaries per group through the
# generalized binned two-pass quantile operator: ONE histogram build
# locates p25/p50/p75 together; pass 2 touches only the needed bins.
# The scale-safe form of global/low-cardinality-group percentiles —
# a plain ntile/percentile window would sort the whole table in one
# task per group (r24/r76 window the HIGH-cardinality customer key;
# this is the other, harder case).
# ---------------------------------------------------------------------------


def _r88(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.robust import binned_group_quantiles

    o = load_table(spark, sf_dir, "orders")
    q = binned_group_quantiles(
        o, "o_orderstatus", "o_totalprice",
        probabilities=(0.25, 0.5, 0.75), bin_width=64.0,
    )
    return ordered_result(q.select(
        "o_orderstatus",
        (F.col("p") * 100).cast("int").alias("pct"),
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    ), "o_orderstatus", "pct")


_r(
    "r88_equi_depth_quantiles",
    "exact discrete p25/p50/p75 per 3-value group via the binned "
    "two-pass quantile operator (no full-group sort)",
    _r88,
    """
WITH ranked AS (
  SELECT o_orderstatus AS g, o_totalprice AS v,
         COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                        ROWS UNBOUNDED PRECEDING) AS c,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS t
  FROM orders
), ps AS (SELECT unnest([0.25, 0.5, 0.75]) AS p)
SELECT g AS o_orderstatus, CAST(p * 100 AS INT) AS pct,
       CAST(floor(min(v) FILTER (WHERE c >= ceil(p * t)) * 100) AS BIGINT)
         AS value_cents
FROM ranked CROSS JOIN ps
GROUP BY g, p
ORDER BY o_orderstatus, pct
""",
    ref="SURVEY.md §2.4 R24/R76 family; operators/robust.py "
    "binned_group_quantiles",
)

# ---------------------------------------------------------------------------
# R89 — time-series gap interpolation: daily value totals per event
# type with missing days LINEARLY interpolated between the nearest
# observed neighbors (r37/r54 fill gaps with zero; interpolation is
# the TSDB `interpolate()` op). All integer cents: interp = prev +
# (next-prev) * (d-pd) / (nd-pd) under integer floor division. The
# spine is O(types x days); every window runs on that tiny frame
# after one map-side daily aggregate.
# ---------------------------------------------------------------------------


def _r89(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(F.sum(F.floor(F.col("value") * 100)).alias("cents"))
    bounds = daily.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi")).alias("d"),
    )
    g = spine.join(daily, ["event_type", "d"], "left")
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wnext = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    pd_ = F.last(
        F.when(F.col("cents").isNotNull(), F.col("d")), ignorenulls=True
    ).over(wprev)
    pv = F.last("cents", ignorenulls=True).over(wprev)
    nd = F.first(
        F.when(F.col("cents").isNotNull(), F.col("d")), ignorenulls=True
    ).over(wnext)
    nv = F.first("cents", ignorenulls=True).over(wnext)
    filled = g.select(
        "event_type",
        "d",
        "cents",
        pd_.alias("pd"),
        pv.alias("pv"),
        nd.alias("nd"),
        nv.alias("nv"),
    ).withColumn(
        "filled_cents",
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + F.expr(
                "(nv - pv) * datediff(d, pd) div datediff(nd, pd)"
            ),
        )
        .otherwise(F.coalesce("pv", "nv")),
    )
    return ordered_result(filled.select(
        "event_type",
        F.col("d").cast("string").alias("day"),
        F.when(F.col("cents").isNull(), 1).otherwise(0).alias("interpolated"),
        "filled_cents",
    ), "event_type", "day")


_r(
    "r89_linear_interpolation",
    "daily per-type totals with missing days linearly interpolated "
    "between observed neighbors (integer cents)",
    _r89,
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         SUM(CAST(floor(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2
), bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
spine AS (
  SELECT t.event_type, CAST(s.d AS DATE) AS d
  FROM (SELECT DISTINCT event_type FROM daily) t
  CROSS JOIN (SELECT unnest(generate_series(
      (SELECT lo FROM bounds), (SELECT hi FROM bounds),
      INTERVAL 1 DAY)) AS d) s
), g AS (
  SELECT s.event_type, s.d, daily.cents
  FROM spine s LEFT JOIN daily USING (event_type, d)
), ctx AS (
  SELECT event_type, d, cents,
         max(CASE WHEN cents IS NOT NULL THEN d END)
           OVER (PARTITION BY event_type ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS pd,
         last_value(cents IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS pv,
         min(CASE WHEN cents IS NOT NULL THEN d END)
           OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
         first_value(cents IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM g
)
SELECT event_type, CAST(d AS VARCHAR) AS day,
       CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS interpolated,
       CAST(CASE WHEN cents IS NOT NULL THEN cents
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN pv + (nv - pv) * date_diff('day', pd, d)
                      // date_diff('day', pd, nd)
            ELSE coalesce(pv, nv) END AS BIGINT) AS filled_cents
FROM ctx
ORDER BY event_type, day
""",
    ref="SURVEY.md §2.4 R37/R38 family (gap fill); TSDB interpolate()",
)

# ---------------------------------------------------------------------------
# R90 — per-group trend detection: integer-exact least-squares slope
# NUMERATOR and denominator (n*Σxy − Σx·Σy, n*Σxx − (Σx)²) of daily
# event volume over day index, per event type — sign and magnitude
# comparisons between groups without a single float (the l71 moment
# trick applied to time series). One daily aggregate, one tiny
# per-type reduction.
# ---------------------------------------------------------------------------


def _r90(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.dayofmonth("ts").alias("x")
    ).agg(F.count(F.lit(1)).alias("y"))
    return (
        ordered_result(daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .select(
            "event_type",
            "n",
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
                "slope_num"
            ),
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
                "slope_den"
            ),
            F.when(
                F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy") > 0, 1
            )
            .when(
                F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy") < 0, -1
            )
            .otherwise(0)
            .alias("trend_sign"),
        ), "event_type")
    )


_r(
    "r90_trend_regression",
    "integer-exact least-squares slope numerator/denominator of daily "
    "volume per event type (trend detection without floats)",
    _r90,
    """
WITH daily AS (
  SELECT event_type, CAST(dayofmonth(ts) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) * SUM(x*y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
       CAST(count(*) * SUM(x*x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den,
       CASE WHEN count(*) * SUM(x*y) - SUM(x) * SUM(y) > 0 THEN 1
            WHEN count(*) * SUM(x*y) - SUM(x) * SUM(y) < 0 THEN -1
            ELSE 0 END AS trend_sign
FROM daily
GROUP BY event_type
ORDER BY event_type
""",
    ref="SURVEY.md §2.4 R35 family (moment statistics, exact form)",
)

# ---------------------------------------------------------------------------
# R91 — as-of join with STALENESS TOLERANCE: last prior error per
# purchase (r09), but matches older than 10 minutes are rejected to
# NULL — the TSDB `ASOF JOIN ... TOLERANCE` parameter. The match and
# its age ride the same encoded min/max trick as r87 (single window,
# no second join); rejection is a post-filter on the decoded age.
# ---------------------------------------------------------------------------


def _r91(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("s"),
    )
    from graal_cdc_spark.operators.asof import (
        decode_id,
        decode_ts,
        encode_ts_id,
    )

    enc = F.when(
        F.col("event_type") == "error",
        encode_ts_id(F.col("s"), F.col("event_id")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tol_us = 10 * 60 * 1_000_000
    tagged = ev.withColumn("last_err", F.max(enc).over(w))
    age = F.col("s") - decode_ts(F.col("last_err"))
    return (
        ordered_result(tagged.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.when(age <= tol_us, decode_id(F.col("last_err"))).alias(
                "err_event_id"
            ),
            F.when(
                age <= tol_us,
                F.floor(age / F.lit(1_000_000)).cast("bigint"),
            ).alias("age_s"),
        ), "event_id")
    )


_r(
    "r91_asof_tolerance_join",
    "as-of backward join with 10-min staleness tolerance: stale "
    "matches reject to NULL (TSDB ASOF ... TOLERANCE)",
    _r91,
    """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS s FROM events
), tagged AS (
  SELECT user_id, event_type, event_id, s,
         max(CASE WHEN event_type = 'error'
                  THEN lpad(CAST(s AS VARCHAR), 20, '0') || '-' ||
                       lpad(CAST(event_id AS VARCHAR), 12, '0') END)
           OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_err
  FROM ev
)
SELECT event_id, user_id,
       CASE WHEN s - CAST(substring(last_err, 1, 20) AS BIGINT) <= 600000000
            THEN CAST(substring(last_err, 22, 12) AS BIGINT) END
         AS err_event_id,
       CASE WHEN s - CAST(substring(last_err, 1, 20) AS BIGINT) <= 600000000
            THEN (s - CAST(substring(last_err, 1, 20) AS BIGINT)) // 1000000
            END AS age_s
FROM tagged
WHERE event_type = 'purchase'
ORDER BY event_id
""",
    ref="SURVEY.md §2.4 R09 family; TSDB ASOF JOIN TOLERANCE",
)

# ---------------------------------------------------------------------------
# R92 — graph triangle census over the co-purchase graph: parts are
# nodes, an edge is two parts co-occurring in >= 2 distinct orders
# (the support filter keeps the graph sparse — raw co-occurrence on a
# 100 TB order log is quadratic per order but bounded by order width,
# and the support>=2 cut drops the long random tail). Triangles via
# the ordered-edge (a<b<c) two-join plan — the standard distributed
# algorithm: every triangle counted exactly once, no directed double
# counting, and the edge relation materialized once (lazy
# localCheckpoint) for its five differently-partitioned consumers.
# Wedges are SUM(C(deg,2)) off a tiny degree aggregate; the closure
# ratio 3*tri/wedges is the global clustering coefficient in bp.
# ---------------------------------------------------------------------------


def _r92(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )

    # The support-filtered co-purchase edge set is a build-once graph
    # artifact (the r79 pattern): repeat censuses reuse the
    # materialized edges instead of re-running the lineitem pair
    # generation, and also skip re-CONSTRUCTING the nested
    # pair-expression subtree (~0.9 s of driver-side Py4J build per
    # call, measured round 11).
    def build() -> DataFrame:
        # pair generation WITHOUT the self-join: group the order's
        # parts into a sorted distinct array, then emit the upper
        # triangle map-side (the l71 pattern). One exchange on the
        # grouping key replaces [join exchange + 1M-row countDistinct
        # expand]: each (pa, pb, order) appears exactly once by
        # construction (distinct parts, pa < pb via the sort), so
        # support is a plain count
        per_order = (
            li.groupBy("l_orderkey")
            .agg(
                F.array_sort(F.array_distinct(F.collect_list("l_partkey")))
                .alias("ps")
            )
            .filter(F.size("ps") >= 2)
        )
        pairs = per_order.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ps") - 1),
                        lambda i: F.transform(
                            F.sequence(i + 1, F.size("ps")),
                            lambda j: F.struct(
                                F.element_at(F.col("ps"), i).alias("pa"),
                                F.element_at(F.col("ps"), j).alias("pb"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.pa", "p.pb")
        return (
            pairs.groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= 2)
            .select("pa", "pb")
            # the edge relation feeds 5 consumers (count, both degree
            # scans, and all three triangle-join legs) under DIFFERENT
            # partitionings, so Catalyst cannot ReusedExchange it — a
            # lazy localCheckpoint materializes the (small,
            # support-filtered) edge set once instead of recomputing
            # the lineitem pair join per consumer
            .localCheckpoint(eager=False)
        )

    edges = build_once(spark, "r92_edges", (li,), build)
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    ends = edges.select(F.col("pa").alias("node")).unionAll(
        edges.select(F.col("pb").alias("node"))
    )
    degs = ends.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    node_wedge = degs.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # C(deg,2) summed under integer arithmetic end-to-end — the
        # double-division form loses exactness past 2^53 (ADVICE r5).
        F.sum(F.expr("(deg * (deg - 1)) div 2")).alias("n_wedges"),
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        node_wedge.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.floor(
                    F.col("n_triangles") * 30000 / F.col("n_wedges")
                ).cast("long"),
            ).alias("closure_bp"),
        )
    )


_r(
    "r92_triangle_census",
    "triangle / wedge census of the part co-purchase graph "
    "(support>=2 edges, ordered-edge join, clustering coefficient)",
    _r92,
    """
WITH pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, a.l_orderkey AS ok
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS (
  SELECT pa, pb FROM pairs
  GROUP BY pa, pb HAVING count(DISTINCT ok) >= 2
), degs AS (
  SELECT node, count(*) AS deg FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges
  ) t GROUP BY node
), nw AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
  FROM degs
), ne AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.pb = e2.pa
  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN CAST(floor(n_triangles * 30000.0 / n_wedges) AS BIGINT)
       END AS closure_bp
FROM nw, ne, tri
""",
    ref="SURVEY.md §2.4 R79/L22 graph family; ordered-edge triangle "
    "counting (Suri & Vassilvitskii)",
)

# ---------------------------------------------------------------------------
# R93 — capped running balance: per-user ledger scan where the balance
# CLAMPS at [0, cap] after every event (signup/view/click credit,
# purchase/error debit). The clamp makes the recurrence non-associative
# — no window/prefix-sum can express it — so it runs as the canonical
# custom stateful operator: one shuffle on user_id, then an O(group)
# Arrow-batched scan per user (bounded state, same contract as greedy
# packing / l27). The DuckDB twin unrolls the same recurrence as a
# recursive CTE stepping row_number-wise — oracle-gated even though
# the operator itself is imperative.
# All arithmetic is integer cents: amt = floor(value*100), JVM-side
# before the pandas stage so both engines floor the same double.
# ---------------------------------------------------------------------------

_R93_CAP = 50_000


def _r93(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.ledger import capped_running_balance

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        "event_id",
        (
            F.floor(F.col("value") * 100).cast("long")
            * F.when(
                F.col("event_type").isin("purchase", "error"), -1
            ).otherwise(1)
        ).alias("amt"),
    )
    return ordered_result(capped_running_balance(
        ev, "user_id", ["s", "event_id"], "amt", cap=_R93_CAP
    ), "user_id")


_r(
    "r93_capped_running_balance",
    "per-user clamped ledger scan (balance saturates at [0, cap]) — "
    "non-associative recurrence as a stateful pandas scan; recursive-"
    "CTE oracle",
    _r93,
    f"""
WITH RECURSIVE ev AS (
  SELECT user_id,
         CAST(floor(value * 100) AS BIGINT)
           * (CASE WHEN event_type IN ('purchase', 'error')
                   THEN -1 ELSE 1 END) AS amt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), scan AS (
  SELECT user_id, rn,
         least(greatest(amt, 0), {_R93_CAP}) AS bal,
         CASE WHEN amt > {_R93_CAP} THEN 1 ELSE 0 END AS n_capped,
         CASE WHEN amt < 0 THEN 1 ELSE 0 END AS n_floored
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT s.user_id, e.rn,
         least(greatest(s.bal + e.amt, 0), {_R93_CAP}),
         s.n_capped + CASE WHEN s.bal + e.amt > {_R93_CAP} THEN 1 ELSE 0 END,
         s.n_floored + CASE WHEN s.bal + e.amt < 0 THEN 1 ELSE 0 END
  FROM scan s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
), last AS (
  SELECT user_id, max(rn) AS rn FROM ev GROUP BY user_id
)
SELECT s.user_id, s.bal AS final_balance,
       CAST(s.n_capped AS BIGINT) AS n_capped,
       CAST(s.n_floored AS BIGINT) AS n_floored
FROM scan s JOIN last USING (user_id, rn)
ORDER BY user_id
""",
    ref="SURVEY.md §2.4 L27/R67 family (sequential per-group scans); "
    "clamped prefix sum is the textbook non-associative recurrence",
)

# ---------------------------------------------------------------------------
# R94 — winsorized mean: clamp each event's amount into its type's
# exact [p05, p95] band, then average — the standard robust
# aggregation for heavy-tailed metrics. The percentile bounds come
# from the binned two-pass quantile operator (r88), so NO full-group
# sort happens even though event_type has only 5 values; the bounds
# frame is 5 rows and broadcast back onto the fact scan.
# wmean_centi is floor(sum/n) on integer cents (< 2^53, so the double
# floor is exact and identical in both engines, negative-safe).
# ---------------------------------------------------------------------------


def _r94(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.robust import binned_group_quantiles

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.floor(F.col("value") * 100).cast("long")
            * F.when(
                F.col("event_type").isin("purchase", "error"), -1
            ).otherwise(1)
        ).alias("amt"),
    )
    q = binned_group_quantiles(
        ev, "event_type", "amt", probabilities=(0.05, 0.95), bin_width=64.0
    )
    bounds = q.groupBy("event_type").agg(
        F.min(F.when(F.col("p") == 0.05, F.col("value"))).alias("lo"),
        F.min(F.when(F.col("p") == 0.95, F.col("value"))).alias("hi"),
    )
    clamped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.least(F.greatest(F.col("amt"), F.col("lo")), F.col("hi")).alias(
            "w"
        ),
    )
    return (
        ordered_result(clamped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lo").cast("long").alias("p05"),
            F.min("hi").cast("long").alias("p95"),
            F.sum("w").alias("sum_winsorized"),
        )
        .select(
            "event_type",
            "n",
            "p05",
            "p95",
            "sum_winsorized",
            F.floor(F.col("sum_winsorized") / F.col("n"))
            .cast("long")
            .alias("wmean_centi"),
        ), "event_type")
    )


_r(
    "r94_winsorized_mean",
    "winsorized mean per event type: clamp to exact discrete "
    "[p05, p95] (binned two-pass quantiles), then integer-cents mean",
    _r94,
    """
WITH ev AS (
  SELECT event_type,
         CAST(floor(value * 100) AS BIGINT)
           * (CASE WHEN event_type IN ('purchase', 'error')
                   THEN -1 ELSE 1 END) AS amt
  FROM events
), ranked AS (
  SELECT event_type, amt,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY amt
                        ROWS UNBOUNDED PRECEDING) AS c,
         COUNT(*) OVER (PARTITION BY event_type) AS t
  FROM ev
), bounds AS (
  SELECT event_type,
         min(amt) FILTER (WHERE c * 20 >= t) AS lo,
         min(amt) FILTER (WHERE c * 20 >= 19 * t) AS hi
  FROM ranked GROUP BY event_type
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(min(b.lo) AS BIGINT) AS p05,
       CAST(min(b.hi) AS BIGINT) AS p95,
       CAST(SUM(least(greatest(e.amt, b.lo), b.hi)) AS BIGINT)
         AS sum_winsorized,
       CAST(floor(SUM(least(greatest(e.amt, b.lo), b.hi)) * 1.0
                  / count(*)) AS BIGINT) AS wmean_centi
FROM ev e JOIN bounds b USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
""",
    ref="SURVEY.md §2.4 R88/R81 family; winsorization is the standard "
    "robust-mean clamp",
)

# ---------------------------------------------------------------------------
# R95 — behavioral path mining: top-10 order-3 event paths (the
# "what do users do in 3 steps" product-analytics op; r60 is its
# order-1 Markov form). TWO lead windows over ONE per-user exchange
# build the trigram, then a global count + TakeOrdered — the heavy
# frame is shuffled exactly once on user_id, and the ranked set is
# the tiny (#type^3)-key aggregate, never the event table.
# Deterministic top-10: ties broken by path string.
# ---------------------------------------------------------------------------


def _r95(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select(
            F.col("event_type").alias("s1"),
            F.lead("event_type", 1).over(w).alias("s2"),
            F.lead("event_type", 2).over(w).alias("s3"),
        )
        .filter(F.col("s3").isNotNull())
        .select(
            F.concat_ws(">", "s1", "s2", "s3").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


_r(
    "r95_top_event_paths",
    "top-10 order-3 behavioral paths (double lead window, one user "
    "exchange, tiny ranked aggregate)",
    _r95,
    """
SELECT path, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT event_type || '>' ||
         lead(event_type, 1) OVER w || '>' ||
         lead(event_type, 2) OVER w AS path,
         lead(event_type, 2) OVER w AS s3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE s3 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 10
""",
    ref="SURVEY.md §2.4 R60/R53 family; order-3 path mining",
)

# ---------------------------------------------------------------------------
# R96 — SLO dashboard percentiles: exact p50/p95 of event value per
# (day, event_type) — the latency-percentile time series every ops
# dashboard draws. Same binned two-pass quantile operator as r88/r94,
# here over a COMPOSITE ~150-group key (30 days x 5 types): the
# histogram stays O(groups x bins) and no task ever sorts more than
# one bin of one group, whether the key has 3 values or 3 million —
# the property that makes this the only exact-percentile plan that
# survives 100 TB.
# ---------------------------------------------------------------------------


def _r96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.robust import binned_group_quantiles

    ev = load_table(spark, sf_dir, "events").select(
        F.concat_ws(
            "/", F.to_date("ts").cast("string"), "event_type"
        ).alias("grp"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    q = binned_group_quantiles(
        ev, "grp", "cents", probabilities=(0.5, 0.95), bin_width=64.0
    )
    return (
        ordered_result(q.groupBy("grp")
        .agg(
            F.min(F.when(F.col("p") == 0.5, F.col("value")))
            .cast("long")
            .alias("p50_cents"),
            F.min(F.when(F.col("p") == 0.95, F.col("value")))
            .cast("long")
            .alias("p95_cents"),
        )
        .select(
            F.substring_index("grp", "/", 1).alias("day"),
            F.substring_index("grp", "/", -1).alias("event_type"),
            "p50_cents",
            "p95_cents",
        ), "day", "event_type")
    )


_r(
    "r96_daily_percentile_bands",
    "exact daily p50/p95 value bands per event type via the binned "
    "two-pass quantile operator over a composite (day, type) key",
    _r96,
    """
WITH ev AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), ranked AS (
  SELECT day, event_type, cents,
         COUNT(*) OVER (PARTITION BY day, event_type ORDER BY cents
                        ROWS UNBOUNDED PRECEDING) AS c,
         COUNT(*) OVER (PARTITION BY day, event_type) AS t
  FROM ev
)
SELECT day, event_type,
       CAST(min(cents) FILTER (WHERE c * 2 >= t) AS BIGINT)
         AS p50_cents,
       CAST(min(cents) FILTER (WHERE c * 20 >= 19 * t) AS BIGINT)
         AS p95_cents
FROM ranked
GROUP BY day, event_type
ORDER BY day, event_type
""",
    ref="SURVEY.md §2.4 R88/R94 family; SLO percentile time series",
)


# ---------------------------------------------------------------------------
# R97 — exact global top-k via TREE merge (operators/topk.py): the
# large-k leg of R14. R14's TakeOrdered merges n_partitions × k rows
# on the DRIVER — right for small k, an OOM at k=1M over 100k
# partitions. tree_topk hash-buckets rows, keeps top-k per bucket,
# and shrinks the bucket count by `fanout` per round: every shuffle
# carries ≤ buckets × k rows and the final merge sorts ≤ fanout × k,
# so executor and driver memory are bounded regardless of input size.
# The oracle states the naive ORDER BY … LIMIT semantics; the gate
# proves the tree decomposition is exact, ties and all.
# ---------------------------------------------------------------------------


def _r97(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.topk import tree_topk

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    top = tree_topk(
        li,
        [
            F.col("price_cents").desc(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        k=100,
        bucket_cols=["l_orderkey", "l_linenumber"],
        fanout=8,
        initial_buckets=64,
    )
    return top.select(
        "l_orderkey",
        "l_linenumber",
        "price_cents",
        F.col("rank").cast("long").alias("rank"),
    )


_r(
    "r97_tree_topk",
    "exact global top-100 by price via fanout-8 tree merge "
    "(bounded-memory large-k top-k; per-bucket truncation never "
    "drops a global winner)",
    _r97,
    """
SELECT l_orderkey, l_linenumber,
       CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents,
       CAST(ROW_NUMBER() OVER (
         ORDER BY floor(l_extendedprice * 100) DESC,
                  l_orderkey, l_linenumber) AS BIGINT) AS rank
FROM lineitem
ORDER BY price_cents DESC, l_orderkey, l_linenumber
LIMIT 100
""",
    ref="SURVEY.md §2.4 R14 family; treeAggregate-shaped merge",
)


# ---------------------------------------------------------------------------
# R98 — sorted-layout audit (the linear complement of R66's z-order):
# assign every lineitem row its file in a shipdate-sorted layout
# (fixed rows-per-file) and audit the layout's range metadata — file
# row counts, per-file min/max day, and whether any file's range
# overlaps its predecessor (0 everywhere iff the layout really is
# sorted; this is exactly the min/max footer pruning a reader relies
# on). The global file position is the l40 two-level prefix sum:
# per-month ranks in parallel + a cumsum over the O(months) totals —
# the naive global ROW_NUMBER the oracle states would be a
# single-partition sort of the whole table. The audit output is
# O(n_files) = O(metadata), so the final ordering window is over
# footer-sized data by construction.
# ---------------------------------------------------------------------------


def _r98(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows_per_file = 4096
    li = load_table(spark, sf_dir, "lineitem").select(
        F.to_date("l_shipdate").cast("string").alias("day"),
        "l_orderkey",
        "l_linenumber",
    )
    li = li.withColumn("month", F.substring("day", 1, 7))
    w = Window.partitionBy("month").orderBy(
        "day", "l_orderkey", "l_linenumber"
    )
    pos = li.withColumn("pos", F.row_number().over(w))
    totals = li.groupBy("month").agg(F.count(F.lit(1)).alias("n"))
    wt = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # O(months) rows — the only pre-aggregation single-partition window
    offsets = totals.withColumn(
        "base", F.sum("n").over(wt) - F.col("n")
    ).select("month", "base")
    filed = pos.join(F.broadcast(offsets), "month").select(
        "day",
        F.expr(f"(base + pos - 1) DIV {rows_per_file}").alias("file_id"),
    )
    audit = filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )
    wf = Window.orderBy("file_id")  # O(n_files) metadata rows
    return (
        ordered_result(audit.withColumn(
            "overlaps_prev",
            F.coalesce(
                (F.lag("max_day").over(wf) > F.col("min_day")).cast("int"),
                F.lit(0),
            ),
        ), "file_id")
    )


_r(
    "r98_sorted_layout_audit",
    "shipdate-sorted file layout audit: two-level prefix-sum file "
    "assignment, per-file range metadata, zero predecessor overlaps",
    _r98,
    """
WITH pos AS (
  SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS day,
         ROW_NUMBER() OVER (
           ORDER BY CAST(CAST(l_shipdate AS DATE) AS VARCHAR),
                    l_orderkey, l_linenumber) - 1 AS gpos
  FROM lineitem
), filed AS (
  SELECT day, CAST(gpos // 4096 AS BIGINT) AS file_id FROM pos
), audit AS (
  SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
         min(day) AS min_day, max(day) AS max_day
  FROM filed GROUP BY file_id
)
SELECT file_id, n_rows, min_day, max_day,
       CAST(COALESCE(
         LAG(max_day) OVER (ORDER BY file_id) > min_day, FALSE
       ) AS INT) AS overlaps_prev
FROM audit
ORDER BY file_id
""",
    ref="SURVEY.md §2.4 R66 complement; parquet min/max footer pruning",
)


# ---------------------------------------------------------------------------
# R99 — bucketed CO-LOCATED join (r12): orders and lineitem written
# ONCE as 8-bucket tables hashed on the order key (Spark native
# bucketing: per-bucket files + sorted-within-bucket), then the fact
# join runs with ZERO shuffle exchanges — both scans already satisfy
# the join's required distribution, so the SortMergeJoin reads
# co-located buckets directly (the unbucketed twin shuffles BOTH
# sides). The only exchange left in the plan is the 5-row
# order-priority census after the map-side partial aggregate. This is
# THE layout lever for a repeatedly-joined 100 TB fact table: pay the
# bucket shuffle once at write time, never again per query; plan
# pinned by tests/test_plans.py::test_r99_bucketed_join_no_shuffle.
#
# Build-once discipline: the bucketed tables are session-memoized
# (like the l80 IVF index) and declared in benchset.BUILD_ONCE so the
# bench prices the build symmetrically.
# ---------------------------------------------------------------------------



def _r99_tables(spark: SparkSession, sf_dir: str) -> str:
    """Write the two bucketed tables once per (session, sf_dir) into a
    tempdir-backed database (never the working directory)."""
    return build_once(
        spark, "r99_tables", (sf_dir,), lambda: _write_r99_tables(spark, sf_dir)
    )


def _write_r99_tables(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    loc = tempfile.mkdtemp(prefix="r99_")
    db = os.path.basename(loc)  # unique per build: [a-z0-9_] after r99_
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    # Bound the write fan-out (r14; guide §6, VERDICT r13 #5): an
    # unbounded bucketed write emits one file per (task x bucket) —
    # scan_partitions x 8 ≈ 128 files here, and the driver's r13 run
    # measured the build FS-bound and SLOWER at 32 cores than at 8.
    # Hash-repartitioning each input by the bucket key into the bucket
    # count first makes every task hold exactly one bucket's rows
    # (repartition and bucketBy share the Murmur3 pmod placement), so
    # the build writes exactly 8 files per table — file count ∝ data
    # layout, not cores. Rows, bucket contents and the downstream
    # zero-shuffle join plan are unchanged (test_plans pins it).
    # The two builds are independent jobs: run them as one wave.
    tables = {
        "orders_b": load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        "lineitem_b": load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.col("l_quantity").cast("long").alias("qty"),
            (F.floor(F.col("l_extendedprice") * 100)).cast("long").alias(
                "price_cents"
            ),
        ),
    }

    def write(name: str) -> None:
        tables[name].repartition(8, "o_orderkey").write.bucketBy(
            8, "o_orderkey"
        ).sortBy("o_orderkey").mode("overwrite").saveAsTable(f"{db}.{name}")

    run_concurrently(spark, write, tables)
    return db


def r99_plan_frame(spark: SparkSession, sf_dir: str):
    """The joined frame (shared by the query and the plan test)."""
    db = _r99_tables(spark, sf_dir)
    bo = spark.table(f"{db}.orders_b")
    bl = spark.table(f"{db}.lineitem_b")
    # MERGE hint: the point is the shuffle-free sort-merge path, not
    # a broadcast that only exists because the test scale is small
    return (
        bo.hint("MERGE")
        .join(bl, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("qty").alias("sum_qty"),
            F.sum("price_cents").alias("revenue_cents"),
        )
    )


def _r99(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ordered_result(r99_plan_frame(spark, sf_dir), "o_orderpriority")


_r(
    "r99_bucketed_colocated_join",
    "bucketed co-located fact join: orders and lineitem bucketed on "
    "the order key at write time, the join plans ZERO shuffle "
    "exchanges (both scans satisfy the distribution) — per-priority "
    "census",
    _r99,
    """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
    ref="SURVEY.md §2.4 R03 family; Spark native bucketing "
    "(bucketBy/sortBy saveAsTable) — the write-once co-location "
    "lever for repeated fact joins",
)


# ---------------------------------------------------------------------------
# R100 — N-way Morton z-order key (VERDICT r12 #9: the generalized
# form of r66's two-column interleave, the layout key commit_optimize
# now accepts for any N >= 2). Three dimensions (user, value bucket,
# event-day) interleave round-robin — bit i of dim d at bit i*3+d —
# and the census pins per-z-file min/max of ALL THREE dims: every
# dimension's per-file range must stay tight for the layout to prune
# on it, which is the whole point of the curve. bits=8/dim (24-bit
# key) exercises the real bit placement; the identical expression
# runs in DuckDB via zorder_key_sql (integer-only, engine-portable).
#
# Scale shape: the key is pure shift/mask/or inside whole-stage
# codegen; ntile models the range-partition + sort file assignment
# of the actual layout pass (one shuffle, paid once per rewrite).
# ---------------------------------------------------------------------------


def _r100(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.layout import zorder_key

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("x"),
        F.floor(F.col("value")).cast("bigint").alias("y"),
        F.expr("unix_micros(ts) DIV 86400000000").alias("d"),
    ).withColumn(
        "zkey",
        zorder_key([F.col("x"), F.col("y"), F.col("d")], bits=8),
    )
    w = Window.orderBy("zkey", "event_id")
    return ordered_result(
        keyed.withColumn("file_id", F.ntile(8).over(w))
        .groupBy("file_id")
        .agg(
            F.min("zkey").alias("z_lo"),
            F.max("zkey").alias("z_hi"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
            F.min("d").alias("d_lo"),
            F.max("d").alias("d_hi"),
            F.count(F.lit(1)).alias("n"),
        ),
        "file_id",
    )


from graal_cdc_spark.operators.layout import zorder_key_sql as _zsqln  # noqa: E402

_r(
    "r100_zorder_nd_layout",
    "N-way Morton z-order key (3 dims, round-robin bit interleave) + "
    "per-file min/max coverage of every dimension",
    _r100,
    f"""
WITH keyed AS (
  SELECT event_id,
         CAST(user_id AS BIGINT) AS x,
         CAST(floor(value) AS BIGINT) AS y,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
  FROM events
), z AS (
  SELECT event_id, x, y, d,
         {_zsqln(["x", "y", "d"], bits=8)} AS zkey
  FROM keyed
)
SELECT file_id,
       CAST(min(zkey) AS BIGINT) AS z_lo,
       CAST(max(zkey) AS BIGINT) AS z_hi,
       CAST(min(x) AS BIGINT) AS x_lo,
       CAST(max(x) AS BIGINT) AS x_hi,
       CAST(min(y) AS BIGINT) AS y_lo,
       CAST(max(y) AS BIGINT) AS y_hi,
       CAST(min(d) AS BIGINT) AS d_lo,
       CAST(max(d) AS BIGINT) AS d_hi,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT x, y, d, zkey,
         ntile(8) OVER (ORDER BY zkey, event_id) AS file_id
  FROM z
)
GROUP BY file_id ORDER BY file_id
""",
    ref="SURVEY.md §2.4 R66 family; Delta/Iceberg OPTIMIZE ZORDER BY "
    "over N columns, the interleave as a plain integer expression",
)


# ---------------------------------------------------------------------------
# R101 — HILBERT-curve clustering key (r13; the locality-better
# alternative to r66/r100's Morton key — consecutive Hilbert cells
# are always Manhattan-distance-1 neighbors, no quadrant jumps, so
# equal-size file ranges cover tighter (x, y) rectangles and per-file
# min/max stats prune harder). The walk's per-bit rotation state has
# no closed form: it unrolls as 8 chained integer projections
# (hilbert_key2_frame), restated verbatim as chained CTEs in DuckDB
# (hilbert_key2_sql_ctes — xor() there, ^ here, the one dialect
# difference). Census pins per-Hilbert-file min/max of the key and
# BOTH dimensions. The curve itself is property-tested (bijective,
# unit-step adjacent) in tests/test_scale_ops.py.
#
# Scale shape: 8 narrow whole-stage-codegen projections; ntile
# models the range-partition + sort file assignment of the layout
# pass (one shuffle, paid once per rewrite).
# ---------------------------------------------------------------------------


def _r101(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.layout import hilbert_key2_frame

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id",
        (F.abs(F.col("user_id")) % 256).alias("x"),
        (F.abs(F.floor(F.col("value")).cast("bigint")) % 256).alias("y"),
    )
    hk = hilbert_key2_frame(keyed, "x", "y", bits=8)
    w = Window.orderBy("hkey", "event_id")
    return ordered_result(
        hk.withColumn("file_id", F.ntile(8).over(w))
        .groupBy("file_id")
        .agg(
            F.min("hkey").alias("h_lo"),
            F.max("hkey").alias("h_hi"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
            F.count(F.lit(1)).alias("n"),
        ),
        "file_id",
    )


from graal_cdc_spark.operators.layout import (  # noqa: E402
    hilbert_key2_sql_ctes as _hsql,
)

_H_CTES, _H_LAST = _hsql(
    "keyed", "x", "y", ["event_id", "x", "y"], bits=8
)

_r(
    "r101_hilbert_layout",
    "Hilbert-curve clustering key (8-bit, chained rotation steps) + "
    "per-file min/max coverage of both dimensions",
    _r101,
    f"""
WITH keyed AS (
  SELECT event_id,
         abs(user_id) % 256 AS x,
         abs(CAST(floor(value) AS BIGINT)) % 256 AS y
  FROM events
),
{_H_CTES}
SELECT file_id,
       CAST(min(hkey) AS BIGINT) AS h_lo,
       CAST(max(hkey) AS BIGINT) AS h_hi,
       CAST(min(x) AS BIGINT) AS x_lo,
       CAST(max(x) AS BIGINT) AS x_hi,
       CAST(min(y) AS BIGINT) AS y_lo,
       CAST(max(y) AS BIGINT) AS y_hi,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT x, y, hkey,
         ntile(8) OVER (ORDER BY hkey, event_id) AS file_id
  FROM {_H_LAST}
)
GROUP BY file_id ORDER BY file_id
""",
    ref="SURVEY.md §2.4 R66/R100 family; Hilbert 1891 space-filling "
    "curve, the standard locality upgrade over Morton",
)
