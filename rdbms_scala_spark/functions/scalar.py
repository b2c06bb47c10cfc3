"""Scalar function surface (SURVEY.md §2.9).

The reference implements no function by hand — every call routes to
Catalyst's builtin FunctionRegistry (Microbase.scala:197-207), so its
declared surface is Spark's builtin scalar library evaluated
interpreted. Here that surface is native `pyspark.sql.functions`,
whole-stage-codegen'd; these queries pin the string / datetime / math
/ conditional families against DuckDB so semantic drift (e.g. a
rounding or truncation difference) is caught per-round.

Functions are chosen to have identical names+semantics in both
engines; where dialects diverge (datediff argument order, dayofweek
numbering) the oracle spells the DuckDB equivalent explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.pipeline.dedup import tokens_sql
from rdbms_scala_spark.registry import register


@register(
    "functions_string",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                                   AS up_name,
           lower(p_brand)                                  AS lo_brand,
           length(p_name)                                  AS name_len,
           substring(p_name, 1, 5)                         AS name_pfx,
           concat(p_brand, ':', p_type)                    AS brand_type,
           replace(p_type, 'A', '@')                       AS repl_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_padded,
           trim('  ' || p_brand || ' ')                    AS trimmed,
           contains(p_name, 'a')                           AS has_a,
           CAST(strpos(p_name, '_') AS BIGINT)             AS uscore_pos
    FROM part
    WHERE p_partkey <= 200
    ORDER BY p_partkey
    """,
    tags=("functions", "string", "R2"),
)
def functions_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String builtins: upper/lower/length/substring/concat/replace/
    lpad/trim/contains/position — all JVM-side codegen'd expressions
    (the reference evaluated the same Catalyst expressions interpreted,
    row-at-a-time)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("lo_brand"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("@")).alias("repl_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))).alias("trimmed"),
        F.contains(F.col("p_name"), F.lit("a")).alias("has_a"),
        F.instr(F.col("p_name"), "_").cast("long").alias("uscore_pos"),
    ).orderBy("p_partkey")


@register(
    "functions_datetime",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)        AS o_year,
           CAST(month(o_orderdate) AS BIGINT)       AS o_month,
           CAST(day(o_orderdate) AS BIGINT)         AS o_day,
           CAST(quarter(o_orderdate) AS BIGINT)     AS o_quarter,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d')    AS due_date,
           strftime(last_day(o_orderdate), '%Y-%m-%d')            AS month_end,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY o_orderkey
    """,
    tags=("functions", "datetime", "R2"),
)
def functions_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime builtins: year/month/day/quarter extraction, month
    truncation, interval arithmetic, last_day, day difference. The
    reference stored dates as epoch-day ints (Microbase.scala:937-940)
    — Spark's DateType uses the same physical rep, and these stay
    entirely in codegen."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), "yyyy-MM-dd"
        ).alias("due_date"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).cast("long").alias("days_since_epoch_start"),
    ).orderBy("o_orderkey")


@register(
    "functions_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - 1000.0), 2)     AS abs_diff,
           CAST(floor(l_quantity) AS BIGINT)           AS qty_floor,
           CAST(ceil(l_extendedprice) AS BIGINT)       AS price_ceil,
           round(sqrt(l_quantity), 4)                  AS qty_sqrt,
           round(ln(l_extendedprice), 4)               AS price_ln,
           round(log10(l_extendedprice), 4)            AS price_log10,
           round(pow(1.0 + l_discount, 2), 4)          AS disc_sq,
           CAST(l_quantity AS BIGINT) % 7              AS qty_mod7,
           CAST(sign(l_discount - 0.05) AS DOUBLE)     AS disc_sign,
           round(greatest(l_discount, l_tax), 2)       AS max_rate,
           round(least(l_discount, l_tax), 2)          AS min_rate
    FROM lineitem
    WHERE l_orderkey <= 300
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("functions", "math", "R2"),
)
def functions_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math builtins: abs/floor/ceil/sqrt/ln/log10/pow/mod/sign/
    greatest/least — identical IEEE-754 double semantics in both
    engines, rounded to pin cross-engine float formatting."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 300)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 1000.0), 2).alias("abs_diff"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.round(F.sqrt("l_quantity"), 4).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 4).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 4).alias("price_log10"),
        F.round(F.pow(1.0 + F.col("l_discount"), 2), 4).alias("disc_sq"),
        (F.col("l_quantity").cast("long") % 7).alias("qty_mod7"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.round(F.greatest("l_discount", "l_tax"), 2).alias("max_rate"),
        F.round(F.least("l_discount", "l_tax"), 2).alias("min_rate"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "functions_conditional",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER')  AS seg_or_other,
           CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                WHEN c_acctbal < 1000 THEN 'low'
                ELSE 'healthy' END                              AS bal_bucket,
           CASE WHEN c_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS nation_parity,
           nullif(c_nationkey, 0)                               AS nation_nonzero,
           ifnull(nullif(c_name, c_name), 'anon')               AS always_anon
    FROM customer
    WHERE c_custkey <= 400
    ORDER BY c_custkey
    """,
    tags=("functions", "conditional", "R2"),
)
def functions_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional builtins: coalesce/nullif/case/if/ifnull. The
    testdata carries no NULLs (like the reference's loader,
    Microbase.scala:966-982), so NULLs are manufactured with nullif to
    exercise three-valued logic on both engines."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 400)
    return cust.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 1000, "low")
        .otherwise("healthy")
        .alias("bal_bucket"),
        F.when(F.col("c_nationkey") % 2 == 0, "even").otherwise("odd").alias("nation_parity"),
        F.nullif(F.col("c_nationkey"), F.lit(0)).alias("nation_nonzero"),
        F.ifnull(F.nullif(F.col("c_name"), F.col("c_name")), F.lit("anon")).alias("always_anon"),
    ).orderBy("c_custkey")


@register(
    "functions_array",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS t
        FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           len(t)                                                   AS n_tokens,
           len(list_distinct(t))                                    AS n_unique,
           array_to_string(list_slice(list_sort(list_distinct(t)), 1, 3), ',')
                                                                    AS first3_sorted,
           list_contains(t, 'the')                                  AS has_the,
           list_max(list_transform(t, x -> length(x)))              AS longest_token,
           t[-1]                                                    AS last_token,
           COALESCE(array_to_string(list_filter(t, x -> length(x) >= 6), ','), '') AS long_tokens
    FROM toks
    ORDER BY doc_id
    """,
    tags=("functions", "array", "R2"),
)
def functions_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order builtin surface over token arrays: size,
    distinct, sort+slice, contains, transform+max, element_at(-1),
    filter — the Catalyst collection functions the reference's scalar
    layer has no analog for (SURVEY §1.2: no array type at all). All
    JVM-side expressions; array-valued outputs are stringified with the
    repo's concat_ws convention because numpy-vs-list physical forms
    differ across engines. Note DuckDB's list_slice(l, b, e) takes an
    END INDEX while Spark's slice(a, b, n) takes a LENGTH — the (1, 3)
    literals happen to mean the same prefix here; any other window must
    be translated, not copied."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = docs.select("doc_id", t.alias("t"))
    return toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_unique"),
        F.concat_ws(",", F.slice(F.array_sort(F.array_distinct("t")), 1, 3)).alias(
            "first3_sorted"
        ),
        F.array_contains("t", "the").alias("has_the"),
        F.array_max(F.expr("transform(t, x -> length(x))")).alias("longest_token"),
        F.element_at("t", -1).alias("last_token"),
        F.concat_ws(",", F.expr("filter(t, x -> length(x) >= 6)")).alias("long_tokens"),
    ).orderBy("doc_id")
