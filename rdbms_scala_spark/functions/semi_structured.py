"""Semi-structured & reshaping surface: JSON extraction, pivot,
explode/lateral — Spark-superset operators (the reference's type
system is 5 scalar types, SURVEY.md §1.2; no JSON/array/map exists
there). All JVM-side builtins; no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.pipeline.dedup import tokens_sql
from rdbms_scala_spark.registry import register

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "functions_json",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("functions", "json", "semi-structured"),
)
def functions_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events ``props`` column
    (``get_json_object`` — codegen'd Jackson parse, no UDF), then a
    grouped aggregate over the extracted value. At 100 TB, prefer
    ``from_json`` with an explicit schema once per column over
    repeated path extraction; both stay JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "pivot_event_type",
    oracle="""
    SELECT user_id,
           count(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view'     THEN 1 END) AS view
    FROM events
    WHERE user_id <= 200
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("pivot", "reshape", "aggregate"),
)
def pivot_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event-type counts. The value list
    is passed explicitly — at scale an unlisted pivot forces an extra
    distinct pass over the data to discover columns; listing keeps it
    a single grouped conditional aggregate."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 200)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(_EVENT_TYPES))
        .orderBy("user_id")
    )


@register(
    "explode_token_counts",
    oracle=f"""
    SELECT token, count(*) AS n
    FROM (
        SELECT unnest({tokens_sql('text')}) AS token
        FROM documents
    )
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 50
    """,
    tags=("explode", "lateral", "array", "text"),
)
def explode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode (lateral view): corpus-wide token frequencies, top 50.
    The 1→N row expansion happens inside whole-stage codegen
    (GenerateExec); the count is a standard two-phase hash aggregate.
    The classic vocabulary-building pass of a text pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


@register(
    "unpivot_order_measures",
    oracle="""
    SELECT o_orderkey, measure, round(val, 4) AS val
    FROM (
        SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS val FROM orders
        UNION ALL
        SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
    )
    WHERE o_orderkey <= 200
    ORDER BY o_orderkey, measure
    """,
    tags=("unpivot", "reshape"),
)
def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, the inverse of pivot_event_type) via the
    native `unpivot`/stack operator — a map-only 1→N expansion, no
    shuffle. The long form is what ML feature pipelines and metric
    stores ingest."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "measure", "val")
        .select("o_orderkey", "measure", F.round("val", 4).alias("val"))
        .orderBy("o_orderkey", "measure")
    )


@register(
    "functions_variant",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(count(CAST(props->>'missing' AS BIGINT)) AS BIGINT) AS n_missing
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("functions", "variant", "semi-structured"),
)
def functions_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT semi-structured type (Spark 4.0+): ``parse_json``
    once into a binary variant value, then typed path extraction with
    ``variant_get`` / ``try_variant_get`` — the schema-on-read column
    class Snowflake/Delta call VARIANT. Versus per-path
    ``get_json_object`` (see `functions_json`), the parse happens ONCE
    per row and every extraction reads the pre-shredded binary — the
    right trade at 100 TB where props carries many consumed fields.
    ``try_variant_get`` on an absent path yields NULL (counted here to
    pin the missing-path semantics) instead of erroring under ANSI.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    return (
        v.select(
            "event_type",
            F.variant_get("v", "$.k", "bigint").alias("k"),
            F.try_variant_get("v", "$.missing", "bigint").alias("missing"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.count("missing").alias("n_missing"),
        )
        .orderBy("event_type")
    )
