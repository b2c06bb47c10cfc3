"""Scan / project / filter / sort / limit / distinct — SURVEY.md §2.1,
§2.2, §2.5.

Each query is the Spark-first re-expression of a reference operator:
the reference evaluated these with a row-at-a-time Volcano interpreter
(Project at Microbase.scala:500-522, Filter at 621-645, the
tree-index range path at 530-561, Sort at 246-287, Limit at 296-301);
here they are single declarative plans where Catalyst pushes every
predicate and projection into the Parquet scan and
TakeOrderedAndProject fuses top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.registry import register


@register(
    "scan_project",
    oracle="""
    SELECT p_partkey,
           p_name,
           round(p_retailprice * 1.1, 2) AS marked_up,
           p_size * 15                   AS size_x15
    FROM part
    """,
    tags=("P1", "P5", "scan"),
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with scalar arithmetic + aliases — the reference
    REPL's own example shape (``SELECT bar, bar * 15 as biz ...``,
    Microbase.scala:943). Column pruning reaches the scan: only 4 of
    part's 6 columns are read."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        "p_name",
        F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
        (F.col("p_size") * 15).alias("size_x15"),
    )


@register(
    "scan_point_lookup",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           count(*) AS n_lines,
           round(sum(l_extendedprice), 2) AS lines_total
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey = 42
    GROUP BY o_orderkey, o_orderpriority
    """,
    tags=("P4", "scan", "point-lookup"),
)
def scan_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-key fetch — the reference's hash-index point lookup
    (Microbase.scala:994-1006: probe the in-heap hash index, emit the
    matching rows). Spark-first analog: the key predicate is applied
    to BOTH sides explicitly and pushes into both Parquet scans as an
    EqualTo (asserted in tests/test_plans.py — the explicit per-side
    filters are what the test certifies; Catalyst can also derive the
    lineitem filter from the join key by constant propagation, but
    this query does not rely on that), so each side reads only the
    row groups whose min/max straddle the key — the layout-level hash
    probe. On a bucketed/sorted layout (write_bucketed_table /
    write_sorted_table) the same plan touches exactly one
    bucket/file."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") == 42)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") == 42)
    return (
        li.join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("lines_total"),
        )
    )


@register(
    "filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-07-01 00:00:00'
      AND l_returnflag IN ('A', 'R')
      AND l_quantity BETWEEN 10 AND 20
      AND l_discount > 0.02
    """,
    tags=("P2", "P3", "P5"),
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive filter mixing range, IN, BETWEEN and comparison
    predicates — the surface the reference served via splitAnds +
    tree-index ranges (Microbase.scala:812-817, 530-561). All five
    conjuncts push down to Parquet row-group stats."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(10, 20)
        & (F.col("l_discount") > 0.02)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "project_expressions",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                         AS name_upper,
           length(c_name)                        AS name_len,
           substr(c_name, 1, 8)                  AS name_prefix,
           concat(c_mktsegment, ':', c_name)     AS seg_name,
           round(abs(c_acctbal), 2)              AS abs_bal,
           round(sqrt(abs(c_acctbal)), 4)        AS sqrt_bal,
           CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_bucket
    FROM customer
    WHERE c_custkey <= 500
    """,
    tags=("P5", "R2", "functions"),
)
def project_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface: string/math/conditional builtins. The
    reference routed these through Catalyst's FunctionRegistry in
    interpreted mode (Microbase.scala:197-207); here the same
    expressions run codegen'd."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws(":", "c_mktsegment", "c_name").alias("seg_name"),
        F.round(F.abs("c_acctbal"), 2).alias("abs_bal"),
        F.round(F.sqrt(F.abs("c_acctbal")), 4).alias("sqrt_bal"),
        F.floor(F.col("c_acctbal") / 100).alias("bal_bucket"),
    )


@register(
    "date_expressions",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                        AS order_year,
           month(o_orderdate)                       AS order_month,
           dayofmonth(o_orderdate)                  AS order_day,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
    FROM orders
    WHERE o_orderkey <= 1000
    """,
    tags=("P5", "dates"),
)
def date_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic + extraction — the reference stored dates as
    epoch-day ints (Microbase.scala:937-940) and got date functions
    from the Catalyst registry; we use the same functions natively."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias(
            "due_date"
        ),
    )


@register(
    "case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000  THEN 'small'
                WHEN o_totalprice < 200000 THEN 'medium'
                ELSE 'large' END AS price_band,
           o_orderstatus,
           count(*) AS n
    FROM orders
    GROUP BY price_band, o_orderstatus
    """,
    tags=("P5", "conditional"),
)
def case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN banding + group count."""
    orders = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
        .alias("price_band")
    )
    return orders.groupBy(band, "o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@register(
    "sort_limit_topk",
    oracle="""
    SELECT p_partkey, p_name, p_size, round(p_retailprice, 2) AS p_retailprice
    FROM part
    ORDER BY p_size ASC, round(p_retailprice, 2) DESC, p_partkey ASC
    LIMIT 50
    """,
    tags=("O1", "O2", "topk"),
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key asc/desc sort + limit (Microbase.scala:246-301). The
    order-by includes the unique p_partkey tiebreaker so LIMIT is
    deterministic. Spark plans TakeOrderedAndProject — per-partition
    top-k then a k-row merge, no global sort (the reference fully
    materialized and sorted, Microbase.scala:281)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select("p_partkey", "p_name", "p_size", F.round("p_retailprice", 2).alias("p_retailprice"))
        .orderBy(F.col("p_size").asc(), F.col("p_retailprice").desc(), F.col("p_partkey").asc())
        .limit(50)
    )


@register(
    "distinct_values",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    tags=("distinct",),
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — unsupported in the reference (bare UNION/Distinct hit
    MatchError, SURVEY.md §8 quirk 6); native here via hash aggregate
    with map-side partial dedup."""
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
