"""Behavioral / product-analytics queries over the events and orders
tables, round 7: active-user stickiness, conversion latency, activity
seasonality, inter-event cadence, lifetime-value deciles, and
market-basket association — the analytics layer an event warehouse
serves on top of the relational core (the reference engine stops at
GROUP BY; Microbase.scala has no window or behavioral surface at
all).

Scale discipline shared by every query here: corpus-sized passes are
map-side-combinable aggregates or per-key windows; anything global
(decile cut points, corpus totals) is ONE tiny aggregate broadcast
back (the `events_rfm_segments` / `sample_quality_top_fraction`
pattern) — no global windows, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.registry import register
from rdbms_scala_spark.session import session_relation


@register(
    "events_dau_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    dau AS (
        SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d
    ),
    contrib AS (
        SELECT user_id, unnest(generate_series(d, d + 6, INTERVAL 1 DAY)) AS wd
        FROM ud
    ),
    wau AS (
        SELECT CAST(wd AS DATE) AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM contrib GROUP BY 1
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day,
           dau.dau AS dau,
           wau.wau AS wau,
           round(dau.dau * 1.0 / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY day
    """,
    tags=("events", "engagement", "scale"),
)
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per day — the
    canonical engagement dashboard triple. Rolling DISTINCT counts
    don't decompose over window frames, so WAU is computed by the
    contribution trick: each (user, active-day) row fans out to the 7
    window-days it contributes to (a map-side explode, x7), then ONE
    distinct-count per window day — two shuffles total, both keyed by
    day, no per-day re-scan. At 100 TB swap the exact distinct for
    `agg_hll_mergeable`'s sketch union and the shape is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("wd"),
    )
    wau = contrib.groupBy(F.col("wd").alias("d")).agg(
        F.count_distinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "events_time_to_conversion",
    oracle="""
    WITH signups AS (
        SELECT user_id, min(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conversions AS (
        SELECT e.user_id, min(e.ts) AS purchase_ts
        FROM events e JOIN signups s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
        GROUP BY e.user_id
    )
    SELECT s.user_id,
           CAST(date_diff('second', s.signup_ts, c.purchase_ts) AS BIGINT)
               AS secs_to_convert,
           CAST(date_diff('hour', s.signup_ts, c.purchase_ts) AS BIGINT)
               AS hours_to_convert
    FROM signups s JOIN conversions c ON s.user_id = c.user_id
    ORDER BY s.user_id
    """,
    tags=("events", "conversion", "funnel"),
)
def events_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, the latency from first signup to
    first subsequent purchase — the funnel-latency metric product
    teams track next to the step-conversion rates of `events_funnel`.
    Two per-user min-aggregates and one key-co-partitioned join; the
    signup relation is per-user (small) and reused across both sides
    of the same user_id exchange. Latencies are whole seconds/hours
    (boundary-crossing counts, identical truncation semantics in both
    engines)."""
    ev = load_table(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    conversions = (
        ev.filter(F.col("event_type") == "purchase")
        .join(signups, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    secs = F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
    return (
        signups.join(conversions, "user_id")
        .select(
            "user_id",
            secs.alias("secs_to_convert"),
            F.floor(
                (
                    F.unix_timestamp(F.date_trunc("hour", "purchase_ts"))
                    - F.unix_timestamp(F.date_trunc("hour", "signup_ts"))
                )
                / F.lit(3600)
            )
            .cast("long")
            .alias("hours_to_convert"),
        )
        .orderBy("user_id")
    )


@register(
    "events_hourly_profile",
    oracle="""
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(round(value, 2)), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY dow, hour
    """,
    tags=("events", "seasonality"),
)
def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity profile — the seasonality
    heatmap behind load forecasting and anomaly baselines (pair with
    `events_anomaly_zscore`, whose residuals should be read against
    exactly this expected-load surface). One map-side-combinable
    aggregate over at most 7x24 groups; ISO dow convention pinned as
    in `date_dim_generate`."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.weekday("ts") + 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum(F.round("value", 2)), 2).alias("total_value"),
        )
        .orderBy("dow", "hour")
    )


@register(
    "events_interevent_gaps",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               CAST(date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) AS BIGINT) AS gap_s
        FROM events
    )
    SELECT user_id,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round(CAST(sum(gap_s) AS BIGINT) * 1.0 / count(gap_s), 4) AS avg_gap_s,
           round(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("events", "cadence", "window"),
)
def events_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event cadence: lag() gaps in whole seconds,
    aggregated to count / mean / p90 / max — the signal behind
    session-timeout calibration (`events_sessionize`'s 30-minute gap
    is exactly a p-high of this distribution) and bot detection
    (inhumanly uniform cadence). Per-user window + per-user exact
    percentile: both keyed by user_id, one exchange total; the gap
    values are integers so the p90 interpolation is the engine-stable
    integer-lattice case."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias(
            "gap_s"
        ),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(F.sum("gap_s") / F.count("gap_s"), 4).alias("avg_gap_s"),
            F.round(F.expr("percentile(gap_s, 0.9D)"), 4).alias("p90_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


@register(
    "customer_ltv_deciles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey AS custkey,
               round(sum(round(o_totalprice, 2)), 2) AS ltv
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_cont(ltv, 0.1) AS c1, quantile_cont(ltv, 0.2) AS c2,
               quantile_cont(ltv, 0.3) AS c3, quantile_cont(ltv, 0.4) AS c4,
               quantile_cont(ltv, 0.5) AS c5, quantile_cont(ltv, 0.6) AS c6,
               quantile_cont(ltv, 0.7) AS c7, quantile_cont(ltv, 0.8) AS c8,
               quantile_cont(ltv, 0.9) AS c9
        FROM spend
    ),
    scored AS (
        SELECT custkey, ltv,
               CAST(1 + (CASE WHEN ltv > c1 THEN 1 ELSE 0 END)
                      + (CASE WHEN ltv > c2 THEN 1 ELSE 0 END)
                      + (CASE WHEN ltv > c3 THEN 1 ELSE 0 END)
                      + (CASE WHEN ltv > c4 THEN 1 ELSE 0 END)
                      + (CASE WHEN ltv > c5 THEN 1 ELSE 0 END)
                      + (CASE WHEN ltv > c6 THEN 1 ELSE 0 END)
                      + (CASE WHEN ltv > c7 THEN 1 ELSE 0 END)
                      + (CASE WHEN ltv > c8 THEN 1 ELSE 0 END)
                      + (CASE WHEN ltv > c9 THEN 1 ELSE 0 END)
                    AS BIGINT) AS decile
        FROM spend CROSS JOIN cuts
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(min(ltv), 2) AS min_ltv,
           round(max(ltv), 2) AS max_ltv,
           round(sum(ltv), 2) AS total_ltv
    FROM scored
    GROUP BY decile
    ORDER BY decile
    """,
    tags=("customer", "ltv", "quantile", "scale"),
)
def customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value deciles: per-customer order spend
    bucketed by 9 decile cut points, reported as per-decile
    population and value mass (the concentration curve behind
    "top decile drives X% of revenue"). Cut points are ONE exact
    `percentile` aggregate broadcast back — the scale-safe quantile
    bucketing this repo standardized on in `events_rfm_segments`; no
    row ever passes through a global window. Cut-point comparisons
    sit strictly between adjacent sorted spend values, so both
    engines agree (see the RFM docstring for the argument)."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.round(F.sum(F.round("o_totalprice", 2)), 2).alias("ltv")
    )
    qs = ", ".join(f"0.{i}D" for i in range(1, 10))
    cuts = spend.agg(F.expr(f"percentile(ltv, array({qs}))").alias("cuts"))
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + F.when(
            F.col("ltv") > F.element_at(F.col("cuts"), i), 1
        ).otherwise(0)
    scored = spend.crossJoin(F.broadcast(cuts)).select(
        "custkey", "ltv", decile.cast("long").alias("decile")
    )
    return (
        scored.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("ltv"), 2).alias("min_ltv"),
            F.round(F.max("ltv"), 2).alias("max_ltv"),
            F.round(F.sum("ltv"), 2).alias("total_ltv"),
        )
        .orderBy("decile")
    )


@register(
    "basket_brand_pairs",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    tot AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM ob),
    per_brand AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS n FROM ob GROUP BY brand
    ),
    pairs AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_both,
           round(n_both * 1.0 / t.n_orders, 4) AS support,
           round((n_both * t.n_orders) * 1.0 / (x.n * y.n), 4) AS lift
    FROM pairs
    JOIN per_brand x ON x.brand = brand_a
    JOIN per_brand y ON y.brand = brand_b
    CROSS JOIN tot t
    WHERE n_both >= 20
    ORDER BY brand_a, brand_b
    """,
    tags=("basket", "association", "scale"),
)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over order contents: brand pairs
    co-purchased in the same order, with support and lift — the
    A-priori first pass (frequent 2-itemsets) every recommender
    bootstrap runs. Scale shape: the pair join is keyed on orderkey
    with fan-out bounded by basket size (TPC-H: ≤7 lines), never
    all-pairs across orders; the brand dimension is broadcast; lift's
    numerator/denominator are pure integer products with ONE final
    division, so no float-association divergence. The n_both floor
    prunes the noise tail (and at 100 TB is what keeps the output
    itemset-sized)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    tot = ob.agg(F.count_distinct("okey").alias("n_orders"))
    per_brand = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n"))
    a = ob.select(F.col("okey"), F.col("brand").alias("brand_a"))
    b = ob.select(F.col("okey"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "okey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 20)
    )
    x = per_brand.select(F.col("brand").alias("brand_a"), F.col("n").alias("na"))
    y = per_brand.select(F.col("brand").alias("brand_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(x), "brand_a")
        .join(F.broadcast(y), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            F.round(F.col("n_both") / F.col("n_orders"), 4).alias("support"),
            F.round(
                (F.col("n_both") * F.col("n_orders"))
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


# ---------------------------------------------------------------------------
# round 7, batch B: attribution + log-scale value histogram


@register(
    "events_attribution_first_touch",
    oracle="""
    WITH keyed AS (
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
                   lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               arg_min(event_type, k) AS first_touch,
               bool_or(event_type = 'purchase') AS converted
        FROM keyed GROUP BY user_id
    )
    SELECT first_touch,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE converted) AS BIGINT) AS n_converted,
           round(count(*) FILTER (WHERE converted) * 1.0 / count(*), 4)
               AS conversion_rate
    FROM per_user
    GROUP BY first_touch
    ORDER BY first_touch
    """,
    tags=("events", "attribution", "funnel"),
)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each user's FIRST event type claims
    credit for whether they ever purchased — the simplest of the
    attribution models (last-touch / linear / time-decay all reduce
    to variations of this per-user extreme-or-weighted aggregate).
    One min_by + bool_or pass per user, then a channel-sized rollup.
    Determinism: the ordering key is a fixed-width timestamp string
    plus zero-padded event_id — lexicographic order == (ts, event_id)
    order, giving composite-key arg_min to engines (DuckDB) whose
    arg_min takes only scalar keys."""
    ev = load_table(spark, sf_dir, "events")
    k = F.concat_ws(
        "|",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min_by("event_type", k).alias("first_touch"),
        F.bool_or(F.col("event_type") == "purchase").alias("converted"),
    )
    return (
        per_user.groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count_if(F.col("converted")).alias("n_converted"),
            F.round(F.count_if(F.col("converted")) / F.count(F.lit(1)), 4).alias(
                "conversion_rate"
            ),
        )
        .orderBy("first_touch")
    )


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH keyed AS (
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
                   lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               arg_max(event_type, k) AS last_touch,
               bool_or(event_type = 'purchase') AS converted
        FROM keyed GROUP BY user_id
    )
    SELECT last_touch,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE converted) AS BIGINT) AS n_converted,
           round(count(*) FILTER (WHERE converted) * 1.0 / count(*), 4)
               AS conversion_rate
    FROM per_user
    GROUP BY last_touch
    ORDER BY last_touch
    """,
    tags=("events", "attribution", "funnel"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: the max_by mirror of
    `events_attribution_first_touch` — each user's LAST event type
    claims the conversion. Same one-aggregate-per-user shape and the
    same fixed-width composite ordering key."""
    ev = load_table(spark, sf_dir, "events")
    k = F.concat_ws(
        "|",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.max_by("event_type", k).alias("last_touch"),
        F.bool_or(F.col("event_type") == "purchase").alias("converted"),
    )
    return (
        per_user.groupBy("last_touch")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count_if(F.col("converted")).alias("n_converted"),
            F.round(F.count_if(F.col("converted")) / F.count(F.lit(1)), 4).alias(
                "conversion_rate"
            ),
        )
        .orderBy("last_touch")
    )


# Multi-touch attribution: credit for each conversion is SPLIT across
# the converting user's journey (all events up to and including the
# first purchase). Per-touch weights are integer-quantized at 1e6
# before summing — integer DIV and integer sums are exact on both
# engines, so the per-channel totals hash-match; the quantization
# remainder (< 1e-6 per journey) is dropped identically on both
# sides.
_ATTRIB_JOURNEY_SQL = """
    keyed AS (
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
                   lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
        FROM events
    ),
    conv AS (
        SELECT user_id,
               min(k) FILTER (WHERE event_type = 'purchase') AS conv_k
        FROM keyed GROUP BY user_id
    ),
    journey AS (
        SELECT kk.user_id, kk.event_type, kk.k
        FROM keyed kk JOIN conv c USING (user_id)
        WHERE c.conv_k IS NOT NULL AND kk.k <= c.conv_k
    )
"""


@register(
    "events_attribution_linear",
    oracle=f"""
    WITH {_ATTRIB_JOURNEY_SQL},
    sized AS (
        SELECT user_id, event_type,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        FROM journey
    )
    SELECT event_type AS channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(CAST(sum(1000000 // n) AS BIGINT) / 1e6, 4) AS credit
    FROM sized
    GROUP BY event_type
    ORDER BY channel
    """,
    tags=("events", "attribution", "funnel"),
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every touch in a converting
    journey gets an equal 1/n share of the conversion. One shuffle on
    user_id serves both window passes (the unordered min-over-user
    conversion key and the journey-size count), then a channel-sized
    rollup; per-channel credit sums converge to the converted-user
    count. Credits are 1e6-quantized integers (see the block
    comment), so the floats both engines emit are identical."""
    ev = load_table(spark, sf_dir, "events")
    k = F.concat_ws(
        "|",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    wu = W.partitionBy("user_id")
    keyed = ev.select("user_id", "event_type", k.alias("k"))
    journey = (
        keyed.withColumn(
            "conv_k",
            F.min(F.when(F.col("event_type") == "purchase", F.col("k"))).over(wu),
        )
        .filter(F.col("conv_k").isNotNull() & (F.col("k") <= F.col("conv_k")))
        .withColumn("n", F.count(F.lit(1)).over(wu))
    )
    return (
        journey.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum(F.expr("1000000 DIV n")) / F.lit(1e6), 4).alias(
                "credit"
            ),
        )
        .orderBy("channel")
    )


@register(
    "events_attribution_positional",
    oracle=f"""
    WITH {_ATTRIB_JOURNEY_SQL},
    sized AS (
        SELECT user_id, event_type,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY k)
                    AS BIGINT) AS rn
        FROM journey
    ),
    credited AS (
        SELECT event_type,
               CASE WHEN n = 1 THEN 1000000
                    WHEN n = 2 THEN 500000
                    WHEN rn = 1 OR rn = n THEN 400000
                    ELSE 200000 // (n - 2) END AS credit_q
        FROM sized
    )
    SELECT event_type AS channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(CAST(sum(credit_q) AS BIGINT) / 1e6, 4) AS credit
    FROM credited
    GROUP BY event_type
    ORDER BY channel
    """,
    tags=("events", "attribution", "funnel"),
)
def events_attribution_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shape 40/20/40) attribution: the first and
    last touch of a converting journey take 40% each, the middles
    split the remaining 20% evenly. One ORDERED window pass per user
    (row_number + count share the shuffle and sort); weights are the
    same 1e6-quantized integers as the linear model, with the n=1 /
    n=2 degenerate journeys taking 100% / 50-50."""
    ev = load_table(spark, sf_dir, "events")
    k = F.concat_ws(
        "|",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    wu = W.partitionBy("user_id")
    wo = wu.orderBy("k")
    keyed = ev.select("user_id", "event_type", k.alias("k"))
    sized = (
        keyed.withColumn(
            "conv_k",
            F.min(F.when(F.col("event_type") == "purchase", F.col("k"))).over(wu),
        )
        .filter(F.col("conv_k").isNotNull() & (F.col("k") <= F.col("conv_k")))
        .select(
            "user_id",
            "event_type",
            F.count(F.lit(1)).over(wu).alias("n"),
            F.row_number().over(wo).alias("rn"),
        )
    )
    credit_q = (
        F.when(F.col("n") == 1, 1000000)
        .when(F.col("n") == 2, 500000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 400000)
        .otherwise(F.expr("200000 DIV (n - 2)"))
    )
    return (
        sized.select(F.col("event_type").alias("channel"), credit_q.alias("credit_q"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum("credit_q") / F.lit(1e6), 4).alias("credit"),
        )
        .orderBy("channel")
    )


@register(
    "events_value_log_histogram",
    oracle="""
    WITH cents AS (
        SELECT event_type,
               CAST(round(value * 1e2, 0) AS BIGINT) AS c
        FROM events
    )
    SELECT event_type,
           CAST(length(bin(c)) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(c) AS BIGINT) AS min_cents,
           CAST(max(c) AS BIGINT) AS max_cents
    FROM cents
    GROUP BY event_type, length(bin(c))
    ORDER BY event_type, bucket
    """,
    tags=("events", "histogram", "log-scale"),
)
def events_value_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-scale value histogram: bucket = bit length of the value
    in integer cents (length(bin(c)) == floor(log2(c)) + 1) — the
    doubling-bucket histogram for long-tailed monetary/latency
    distributions, where `maintenance_column_histogram`'s equi-width
    bins put 99% of rows in bin one. The bit-length trick keeps the
    bucket function in EXACT integer arithmetic: floor(log2(x)) via
    floating log flips at exact powers of two per libm, bin-string
    length cannot."""
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.round(F.col("value") * F.lit(1e2), 0).cast("long").alias("c"),
    )
    return (
        cents.groupBy(
            "event_type", F.length(F.bin("c")).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
        .orderBy("event_type", "bucket")
    )


_CONCURRENCY_WINDOW_US = 5 * 60 * 1000000  # each event counts as 5 min active


# Shared by the day sweep and its segmented two-pass variant: both
# compute the SAME relation (peak concurrency per day), so both
# certify against the one canonical sweep-line SQL.
_CONCURRENCY_ORACLE = f"""
    WITH deltas AS (
        SELECT CAST(ts AS DATE) AS day, epoch_us(ts) AS t,
               CAST(1 AS BIGINT) AS delta, event_id
        FROM events
        UNION ALL
        SELECT CAST(ts AS DATE) AS day,
               epoch_us(ts) + {_CONCURRENCY_WINDOW_US} AS t,
               CAST(-1 AS BIGINT) AS delta, event_id
        FROM events
    ),
    swept AS (
        SELECT day, delta,
               sum(delta) OVER (
                   PARTITION BY day ORDER BY t, delta, event_id
               ) AS live
        FROM deltas
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_events,
           CAST(max(live) AS BIGINT) AS peak_concurrent
    FROM swept
    GROUP BY day
    ORDER BY day
    """


@register(
    "events_concurrent_sessions",
    oracle=_CONCURRENCY_ORACLE,
    tags=("events", "concurrency", "sweep-line"),
)
def events_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the classic sweep line: every
    event opens a 5-minute activity interval, intervals become
    +1/-1 deltas, and the running sum's maximum is the day's peak
    concurrent load — the capacity-planning number behind connection
    pools and autoscaling thresholds, and the interval-overlap
    pattern that no plain GROUP BY can express.

    Determinism: the sweep orders by (t, delta, event_id) — a unique
    composite, with ends (-1) processed before starts (+1) at equal
    timestamps so touching intervals don't double-count. Scale: the
    window is PARTITIONED by day (intervals are attributed to their
    start day), so per-reducer state is one day's deltas; at higher
    volume partition by (day, hour) and stitch boundary offsets with
    a second pass — the standard segmented-sweep refinement."""
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("t"),
        F.lit(1).cast("long").alias("delta"),
        "event_id",
    )
    ends = ev.select(
        F.to_date("ts").alias("day"),
        (F.unix_micros("ts") + F.lit(_CONCURRENCY_WINDOW_US)).alias("t"),
        F.lit(-1).cast("long").alias("delta"),
        "event_id",
    )
    # ROWS frame == the oracle's default RANGE frame because the
    # composite ordering key is unique (no peers to merge).
    w = (
        W.partitionBy("day")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    swept = starts.unionByName(ends).select(
        "day", "delta", F.sum("delta").over(w).alias("live")
    )
    return (
        swept.groupBy("day")
        .agg(
            F.count_if(F.col("delta") == 1).alias("n_events"),
            F.max("live").alias("peak_concurrent"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "peak_concurrent",
        )
        .orderBy("day")
    )


_HOUR_US = 3_600_000_000


@register(
    "events_concurrent_sessions_segmented",
    oracle=_CONCURRENCY_ORACLE,
    tags=("events", "concurrency", "sweep-line", "scale"),
)
def events_concurrent_sessions_segmented(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The day sweep's segmented refinement: identical output to
    `events_concurrent_sessions` (same oracle certifies both), but no
    reducer ever holds more than ONE HOUR of a day's deltas. The
    day-partitioned window puts a whole hot day on one reducer — the
    single-reducer cliff at 100 TB event volume; here the sweep runs
    in two passes:

    1. per-(day, hour) segment: local running sum of the +1/-1
       deltas, plus each segment's total (same shuffle — the two
       window frames share one partitioning+sort);
    2. per-day carried offsets: the prefix sum of SEGMENT TOTALS over
       the tiny (days x 24) relation, broadcast-joined back, so
       live = carried offset + local running sum.

    Correctness of the stitch: hour = t DIV 3600e6 is monotone in t
    and equal t implies equal hour, so ordering by (t, delta,
    event_id) within segments + segment order by hour reproduces the
    day sweep's global order exactly, and running sums are
    prefix-decomposable. Interval ends keep their START day (as in
    the day sweep) but take their segment from their own END
    timestamp — attribution and ordering stay decoupled."""
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("t"),
        F.lit(1).cast("long").alias("delta"),
        "event_id",
    )
    ends = ev.select(
        F.to_date("ts").alias("day"),
        (F.unix_micros("ts") + F.lit(_CONCURRENCY_WINDOW_US)).alias("t"),
        F.lit(-1).cast("long").alias("delta"),
        "event_id",
    )
    deltas = starts.unionByName(ends).withColumn(
        "hour", F.expr(f"t DIV {_HOUR_US}")
    )
    wrun = (
        W.partitionBy("day", "hour")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = deltas.select(
        "day",
        "hour",
        "delta",
        F.sum("delta").over(wrun).alias("local_live"),
    )
    # segment totals as a plain aggregate: map-side combine collapses
    # the deltas to (days x 24) rows before any exchange — cheaper
    # than carrying a second whole-segment window frame through the
    # sort and re-shuffling its output
    segs = deltas.groupBy("day", "hour").agg(F.sum("delta").alias("seg_sum"))
    woff = (
        W.partitionBy("day")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = segs.select(
        "day",
        "hour",
        F.coalesce(F.sum("seg_sum").over(woff), F.lit(0)).alias("carried"),
    )
    swept = local.join(F.broadcast(offs), ["day", "hour"]).select(
        "day", "delta", (F.col("carried") + F.col("local_live")).alias("live")
    )
    return (
        swept.groupBy("day")
        .agg(
            F.count_if(F.col("delta") == 1).alias("n_events"),
            F.max("live").alias("peak_concurrent"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "peak_concurrent",
        )
        .orderBy("day")
    )


@register(
    "events_pareto_activity",
    oracle="""
    WITH per_user AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ),
    buckets AS (
        SELECT CAST(length(bin(n)) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n) AS BIGINT) AS n_events
        FROM per_user GROUP BY 1
    ),
    cum AS (
        SELECT bucket, n_users, n_events,
               CAST(sum(n_events) OVER (ORDER BY bucket DESC) AS BIGINT) AS ce,
               CAST(sum(n_users) OVER (ORDER BY bucket DESC) AS BIGINT) AS cu,
               CAST(sum(n_events) OVER () AS BIGINT) AS te,
               CAST(sum(n_users) OVER () AS BIGINT) AS tu
        FROM buckets
    )
    SELECT bucket, n_users, n_events,
           round(ce / te, 4) AS cum_share_events,
           round(cu / tu, 4) AS cum_share_users
    FROM cum
    ORDER BY bucket DESC
    """,
    tags=("events", "pareto", "concentration", "scale"),
)
def events_pareto_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration (Pareto) report: users bucketed by the
    log2 of their event count (the `events_value_log_histogram` bit-
    length trick — exact integer bucketing), with cumulative event
    and user shares read from the most-active bucket down — the
    "top X% of users produce Y% of events" curve behind power-user
    analysis and abuse throttling.

    Scale shape: the exact curve needs a corpus-wide sorted cumsum
    (the global-window trap); bucketing first makes the windowed
    relation DOMAIN-bounded — at most 63 rows regardless of corpus
    size, an even stronger smallness guarantee than the
    post-aggregation argument — so the cumulative window is free and
    every corpus-sized pass is one map-side-combinable aggregate."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    buckets = per_user.groupBy(
        F.length(F.bin("n")).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("n_events"),
    )
    w_cum = W.orderBy(F.col("bucket").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy()
    return (
        buckets.select(
            "bucket",
            "n_users",
            "n_events",
            F.round(
                F.sum("n_events").over(w_cum) / F.sum("n_events").over(w_all), 4
            ).alias("cum_share_events"),
            F.round(
                F.sum("n_users").over(w_cum) / F.sum("n_users").over(w_all), 4
            ).alias("cum_share_users"),
        )
        .orderBy(F.col("bucket").desc())
    )


@register(
    "events_cohort_ltv",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type,
               (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS week_idx,
               CAST(round(value * 1e2, 0) AS BIGINT) AS cents
        FROM events
    ),
    firsts AS (
        SELECT user_id, min(week_idx) AS cohort_week FROM ev GROUP BY user_id
    ),
    cells AS (
        SELECT f.cohort_week,
               e.week_idx - f.cohort_week AS age_weeks,
               e.user_id, e.event_type, e.cents
        FROM ev e JOIN firsts f USING (user_id)
    )
    SELECT strftime(DATE '1970-01-05' + CAST(cohort_week * 7 AS INTEGER),
                    '%Y-%m-%d') AS cohort_start,
           CAST(age_weeks AS BIGINT) AS age_weeks,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases,
           round(CAST(sum(CASE WHEN event_type = 'purchase' THEN cents
                               ELSE 0 END) AS BIGINT) / 1e2, 2) AS revenue
    FROM cells
    GROUP BY cohort_week, age_weeks
    ORDER BY cohort_start, age_weeks
    """,
    tags=("events", "cohort", "ltv", "scale"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-LTV matrix — `events_retention_cohorts` composed with
    the LTV lens: users grouped by first-activity week, with each
    later week's active users, purchase count, and revenue reported
    as an age offset from the cohort — the standard growth-accounting
    triangle ("does week-3 revenue per cohort hold up across
    cohorts?"). Week granularity because the fixture spans ~30 days
    (month cells would collapse to one); at production span swap the
    Monday-anchored integer week index for a month index unchanged.

    Scale shape: one user-keyed aggregate for cohorts, one user-keyed
    join back (the retention pattern), then ONE shuffle keyed on the
    (cohort, age) cell. Revenue sums integer cents; the week math is
    epoch-anchored integer division — both cross-engine exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        # floor division, not DIV: Spark's DIV truncates toward zero
        # while DuckDB's // floors, diverging for pre-1970-01-05 dates
        # (negative week index). Floor matches the oracle at any date.
        F.expr(
            "CAST(floor(datediff(CAST(ts AS DATE), DATE '1970-01-05') / 7) AS BIGINT)"
        ).alias("week_idx"),
        F.round(F.col("value") * F.lit(1e2), 0).cast("long").alias("cents"),
    )
    firsts = ev.groupBy("user_id").agg(F.min("week_idx").alias("cohort_week"))
    cells = ev.join(firsts, "user_id").select(
        "cohort_week",
        (F.col("week_idx") - F.col("cohort_week")).alias("age_weeks"),
        "user_id",
        "event_type",
        "cents",
    )
    return (
        cells.groupBy("cohort_week", "age_weeks")
        .agg(
            F.count_distinct("user_id").alias("n_active_users"),
            F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("cents"))
                    .otherwise(0)
                )
                / F.lit(1e2),
                2,
            ).alias("revenue"),
        )
        .select(
            F.date_format(
                F.date_add(
                    F.lit("1970-01-05").cast("date"),
                    (F.col("cohort_week") * 7).cast("int"),
                ),
                "yyyy-MM-dd",
            ).alias("cohort_start"),
            F.col("age_weeks").cast("long").alias("age_weeks"),
            "n_active_users",
            "n_purchases",
            "revenue",
        )
        .orderBy("cohort_start", "age_weeks")
    )


@register(
    "events_ab_lift",
    oracle="""
    WITH assigned AS (
        SELECT user_id,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 'A' ELSE 'B' END AS variant,
               coalesce(
                   epoch_us(min(ts) FILTER (WHERE event_type = 'purchase'))
                       <= epoch_us(min(ts)) + 86400000000, FALSE)
                   AS converted
        FROM events GROUP BY user_id
    ),
    agg AS (
        SELECT
            CAST(count(*) FILTER (WHERE variant = 'A') AS BIGINT) AS na,
            CAST(count(*) FILTER (WHERE variant = 'B') AS BIGINT) AS nb,
            CAST(count(*) FILTER (WHERE variant = 'A' AND converted)
                 AS BIGINT) AS ca,
            CAST(count(*) FILTER (WHERE variant = 'B' AND converted)
                 AS BIGINT) AS cb
        FROM assigned
    )
    SELECT na, nb, ca, cb,
           round(ca * 1.0 / na, 4) AS rate_a,
           round(cb * 1.0 / nb, 4) AS rate_b,
           round((ca * 1.0 / na) / (cb * 1.0 / nb) - 1.0, 4) AS lift,
           round((ca * 1.0 / na - cb * 1.0 / nb)
                 / sqrt(((ca + cb) * 1.0 / (na + nb))
                        * (1.0 - (ca + cb) * 1.0 / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 4) AS z_score
    FROM agg
    """,
    tags=("events", "experiment", "ab-test", "scale"),
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with deterministic assignment: variant
    is a pure function of the user id's md5 hex prefix (8/16 -> A,
    the `sample_train_val_test` discipline — re-runs and appends can
    never migrate a user), outcome is purchased-within-24h-of-first-
    activity (integer microsecond comparison; ever-purchased
    saturates to 100% on this fixture), and the result
    row carries per-variant rates, relative lift, and the pooled
    two-proportion z statistic. Shape: one per-user aggregate, then a
    4-counter global rollup — the entire experiment costs two
    map-side-combinable passes regardless of corpus size.

    Cross-engine floats: every ratio derives from the four int64
    counters through token-identical expression trees, and IEEE-754
    division/sqrt are correctly rounded — both engines emit the same
    doubles, rounded at 4dp."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.coalesce(
            F.unix_micros(
                F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            )
            <= F.unix_micros(F.min("ts")) + F.lit(86_400_000_000),
            F.lit(False),
        ).alias("converted")
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                *"01234567"
            ),
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "converted",
    )
    agg = assigned.agg(
        F.count_if(F.col("variant") == "A").alias("na"),
        F.count_if(F.col("variant") == "B").alias("nb"),
        F.count_if((F.col("variant") == "A") & F.col("converted")).alias("ca"),
        F.count_if((F.col("variant") == "B") & F.col("converted")).alias("cb"),
    )
    # 1.0D: Spark parses a bare 1.0 as DECIMAL, which would change
    # every downstream type (and rounding) away from the oracle's
    # IEEE doubles
    return agg.selectExpr(
        "na",
        "nb",
        "ca",
        "cb",
        "round(ca * 1.0D / na, 4) AS rate_a",
        "round(cb * 1.0D / nb, 4) AS rate_b",
        "round((ca * 1.0D / na) / (cb * 1.0D / nb) - 1.0D, 4) AS lift",
        "round((ca * 1.0D / na - cb * 1.0D / nb)"
        " / sqrt(((ca + cb) * 1.0D / (na + nb))"
        " * (1.0D - (ca + cb) * 1.0D / (na + nb))"
        " * (1.0D / na + 1.0D / nb)), 4) AS z_score",
    )


def _ewma_terms_sql() -> str:
    """Sum of 14 geometric lag terms, each integer-floored: EWMA with
    alpha = 1/2 expands to sum_k x_(t-k) / 2^(k+1); halving weights
    make every term an integer right-shift, so the smoothed series is
    EXACT integer arithmetic on both engines (a float alpha would
    accumulate engine-specific rounding across the recursion). Terms
    beyond lag 13 weigh < 2^-14 — below one cent on this series."""
    return " + ".join(
        f"(coalesce(lag(c, {k}) OVER "
        "(PARTITION BY event_type ORDER BY day)"
        f", 0) // {1 << (k + 1)})"
        for k in range(14)
    )


@register(
    "events_ewma_smoothing",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 1e2, 0) AS BIGINT)) AS BIGINT) AS c
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    smoothed AS (
        SELECT event_type, day, c,
               CAST({_ewma_terms_sql()} AS BIGINT) AS ewma_cents
        FROM daily
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(c / 1e2, 2) AS daily_value,
           round(ewma_cents / 1e2, 2) AS ewma_value
    FROM smoothed
    ORDER BY event_type, day
    """,
    tags=("events", "smoothing", "forecast", "window"),
)
def events_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted daily value per event type (alpha=1/2)
    — the smoothed baseline under anomaly thresholds and short-range
    forecasts (`events_anomaly_zscore`'s residuals read against this
    trend instead of a flat mean). The heavy pass is the map-side
    daily rollup; the window then runs over a types x days relation.
    Lags are row-lags over observed days (gap-fill first — see
    `events_gap_fill` — if the series can skip days); weights halve
    so every term is an exact integer shift (see `_ewma_terms_sql`)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * F.lit(1e2), 0).cast("long")).alias("c")
    )
    w = W.partitionBy("event_type").orderBy("day")
    ewma_q = None
    for k in range(14):
        term = F.shiftright(F.coalesce(F.lag("c", k).over(w), F.lit(0)), k + 1)
        ewma_q = term if ewma_q is None else ewma_q + term
    return (
        daily.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.col("c") / F.lit(1e2), 2).alias("daily_value"),
            F.round(ewma_q.cast("long") / F.lit(1e2), 2).alias("ewma_value"),
        )
        .orderBy("event_type", "day")
    )


# --- per-series linear trend ------------------------------------------


@register(
    "events_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               sum(x)     AS sx,
               sum(y)     AS sy,
               sum(x * y) AS sxy,
               sum(x * x) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days,
           round(CAST(n_days * sxy - sx * sy AS DOUBLE)
                 / CAST(n_days * sxx - sx * sx AS DOUBLE), 4) AS slope_per_day,
           round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / CAST(n_days * sxx - sx * sx AS DOUBLE), 4) AS intercept
    FROM stats
    ORDER BY event_type
    """,
    tags=("events", "trend", "regression", "scale"),
)
def events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ordinary-least-squares trend over the daily
    count series — the growth/decay slope behind "is checkout volume
    trending down?" alerting. Closed-form OLS on exact integer
    moments instead of `regr_slope`: x (day index) and y (daily
    count) are integers, so n, Σx, Σy, Σxy, Σx² accumulate exactly
    (commutative integer addition — no float-order divergence across
    engines), and slope = (nΣxy − ΣxΣy)/(nΣxx − ΣxΣx) and intercept
    = (ΣyΣxx − ΣxΣxy)/(same denominator) are each ONE double
    division of exact integers, rounded identically on both sides.

    Scale shape: daily series via one map-side-combinable aggregate
    (events → ~types × days cells), moments via a second tiny
    aggregate — both shuffles keyed, no window, no driver math.
    int64 headroom: |Σxy| ≤ days² × daily-count ~ 1e3 × y; at 100 TB
    (y ~ 1e9/day, 10-year x ~ 3.6e3) nΣxy ~ 4e16 < 2^63."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return stats.select(
        "event_type",
        "n_days",
        F.round(
            (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / den,
            4,
        ).alias("slope_per_day"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(
                "double"
            )
            / den,
            4,
        ).alias("intercept"),
    ).orderBy("event_type")


# --- top session entry paths ------------------------------------------

_PATH_STEPS = 5  # entry path = first N events of the session
_TOP_PATHS = 20


@register(
    "events_session_paths",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    numbered AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS session_id
        FROM flagged
    ),
    sessions AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                     ORDER BY ts, event_id) AS step
        FROM numbered
    ),
    paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sessions
        WHERE step <= {_PATH_STEPS}
        GROUP BY user_id, session_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {_TOP_PATHS}
    """,
    tags=("events", "session", "paths", "scale"),
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session ENTRY paths: the first 5 (_PATH_STEPS) events of each
    30-min-gap session joined into a '>' path string, ranked by how
    many sessions follow it — the navigation-flow readout behind
    onboarding-funnel and IA dashboards. Shares `events_sessionize`'s
    session definition exactly (same gap, same (ts, event_id) order).

    Scale shape: one shuffle on user_id serves both window passes
    (lag + running-sum sessionize share the sort; the step
    row_number reuses it), the path assembly is a sort_array over a
    per-session collect bounded at _PATH_STEPS structs (slice
    BEFORE join — long sessions can't bloat the string), and the
    final path ranking is a keyed aggregate + TakeOrderedAndProject
    (top-{_TOP_PATHS}, never a full sort). Ties at the cut are
    broken (n_sessions DESC, path ASC) so the LIMIT is
    deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    paths = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(
                        F.sort_array(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        1,
                        _PATH_STEPS,
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_TOP_PATHS)
    )


# --- day-of-week seasonality ------------------------------------------


@register(
    "events_dow_seasonality",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               isodow(CAST(ts AS DATE)) - 1 AS dow,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2, 3
    ),
    per_dow AS (
        SELECT event_type, dow,
               CAST(sum(y) AS BIGINT)  AS n_events,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY event_type, dow
    ),
    totals AS (
        SELECT event_type,
               CAST(sum(n_events) AS BIGINT) AS tot_events,
               CAST(sum(n_days) AS BIGINT)   AS tot_days
        FROM per_dow GROUP BY event_type
    )
    SELECT p.event_type, CAST(p.dow AS BIGINT) AS dow,
           p.n_events, p.n_days,
           round(CAST(p.n_events * t.tot_days AS DOUBLE)
                 / CAST(p.n_days * t.tot_events AS DOUBLE), 4)
               AS seasonality_index
    FROM per_dow p JOIN totals t USING (event_type)
    ORDER BY event_type, dow
    """,
    tags=("events", "seasonality", "scale"),
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per event type: average daily
    volume on each weekday relative to the type's overall daily
    average (1.0 = no weekly effect; checkout at 1.4 on Mondays means
    Mondays run 40% hot) — the normalization layer under staffing
    forecasts and anomaly baselines (`events_anomaly_zscore` flags
    deviations; this explains the expected weekly shape). dow is
    0=Monday (Spark `weekday` == DuckDB `isodow - 1`).

    Float discipline: the index is (n_events x tot_days) /
    (n_days x tot_events) — exact int64 numerator and denominator,
    ONE double division rounded identically on both sides.

    Scale shape: two map-side-combinable aggregates (events ->
    type x day cells -> type x dow cells) and a 7-rows-per-type
    self-aggregate joined back — broadcast-sized at any corpus;
    int64 headroom: numerator <= total events x total days ~ 1e13 x
    3.6e3 at a 10-year 100 TB corpus ~ 4e16 < 2^63."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.weekday(F.to_date("ts")).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("y"))
    per_dow = daily.groupBy("event_type", "dow").agg(
        F.sum("y").alias("n_events"), F.count(F.lit(1)).alias("n_days")
    )
    totals = per_dow.groupBy("event_type").agg(
        F.sum("n_events").alias("tot_events"), F.sum("n_days").alias("tot_days")
    )
    return (
        per_dow.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "dow",
            "n_events",
            "n_days",
            F.round(
                (F.col("n_events") * F.col("tot_days")).cast("double")
                / (F.col("n_days") * F.col("tot_events")).cast("double"),
                4,
            ).alias("seasonality_index"),
        )
        .orderBy("event_type", "dow")
    )


# --- open-order backlog sweep -----------------------------------------


@register(
    "orders_open_backlog",
    oracle="""
    WITH last_ship AS (
        SELECT l_orderkey, max(l_shipdate) AS ship_done FROM lineitem
        GROUP BY l_orderkey
    ),
    deltas AS (
        SELECT o_orderdate AS day, CAST(1 AS BIGINT) AS delta FROM orders
        UNION ALL
        SELECT ship_done + INTERVAL 1 DAY, CAST(-1 AS BIGINT)
        FROM orders JOIN last_ship ON o_orderkey = l_orderkey
    ),
    daily AS (
        SELECT CAST(day AS DATE) AS day, CAST(sum(delta) AS BIGINT) AS net_change
        FROM deltas GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, net_change,
           CAST(sum(net_change) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS open_orders
    FROM daily
    ORDER BY day
    """,
    tags=("orders", "backlog", "sweep-line", "scale"),
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: +1 the day an order is placed, −1
    the day after its LAST lineitem ships (an order is open until
    fully shipped) — the operations-health curve (is fulfillment
    keeping up with intake?) behind SLA dashboards; the
    `events_concurrent_sessions` sweep-line generalized from
    sessions to a fact-fact lifecycle.

    Scale shape: the last-ship reduction and the delta union are
    map-side-combinable aggregates (corpus -> day cells); the
    cumulative sum then runs over the CALENDAR-bounded daily
    relation — a few thousand rows at ANY corpus size (the
    `events_pareto_activity` domain-bounded-window discipline), so
    the single-partition window is a constant, not a corpus
    bottleneck. Counts are exact int64; no floats anywhere."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("ship_done"))
    starts = orders.select(
        F.col("o_orderdate").alias("day"), F.lit(1).cast("long").alias("delta")
    )
    ends = (
        orders.join(last_ship, orders.o_orderkey == last_ship.l_orderkey)
        .select(
            F.date_add("ship_done", 1).alias("day"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    daily = (
        starts.unionByName(ends)
        .groupBy("day")
        .agg(F.sum("delta").alias("net_change"))
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "net_change",
            F.sum("net_change").over(w).alias("open_orders"),
        )
        .orderBy("day")
    )


# --- new vs returning users -------------------------------------------


@register(
    "events_new_vs_returning",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    first_seen AS (
        SELECT user_id, min(d) AS d0 FROM ud GROUP BY user_id
    )
    SELECT strftime(ud.d, '%Y-%m-%d') AS day,
           CAST(count(*) FILTER (WHERE ud.d = f.d0) AS BIGINT) AS new_users,
           CAST(count(*) FILTER (WHERE ud.d > f.d0) AS BIGINT)
               AS returning_users,
           round(count(*) FILTER (WHERE ud.d = f.d0) * 1.0 / count(*), 4)
               AS new_share
    FROM ud JOIN first_seen f USING (user_id)
    GROUP BY ud.d
    ORDER BY day
    """,
    tags=("events", "growth", "engagement", "scale"),
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever-seen that day)
    vs RETURNING — the growth-accounting headline above the retention
    triangle (`events_retention_cohorts` tells you who comes back;
    this tells you, per day, how much of today's activity is
    acquisition vs retention). A product whose new_share creeps up
    while DAU is flat is churning its base — invisible in DAU alone.

    Scale shape: one distinct-reduction to (user, active-day), one
    per-user min (both map-side-combinable on user_id, sharing the
    exchange), then a day-keyed FILTER-clause aggregate — the
    first-seen relation is per-user-sized and joins back on the
    already-partitioned key. Ratios are int64 count ratios rounded
    once."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first_seen = ud.groupBy("user_id").agg(F.min("d").alias("d0"))
    return (
        ud.join(first_seen, "user_id")
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.when(F.col("d") == F.col("d0"), 1)).alias("new_users"),
            F.count(F.when(F.col("d") > F.col("d0"), 1)).alias("returning_users"),
        )
        .select(
            "day",
            "new_users",
            "returning_users",
            F.round(
                F.col("new_users")
                / (F.col("new_users") + F.col("returning_users")),
                4,
            ).alias("new_share"),
        )
        .orderBy("day")
    )


# --- power-law exponent fit -------------------------------------------


@register(
    "events_power_law_alpha",
    oracle="""
    WITH activity AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY user_id
    ),
    terms AS (
        SELECT x,
               CAST(round(ln(CAST(x AS DOUBLE)) * 1e6, 0) AS BIGINT) AS lnx_q
        FROM activity
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(x) AS BIGINT) AS x_min,
           CAST(max(x) AS BIGINT) AS x_max,
           CAST(sum(lnx_q) AS BIGINT) AS sum_ln_q,
           round(1.0 + CAST(count(*) AS DOUBLE)
                       / (CAST(sum(lnx_q) AS DOUBLE) / 1e6), 4) AS alpha_mle
    FROM terms
    """,
    tags=("events", "distribution", "power-law", "scale"),
)
def events_power_law_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-likelihood power-law exponent of the per-user activity
    distribution (Clauset/Shalizi/Newman continuous-MLE form with
    x_min = 1: alpha = 1 + n / Σ ln(x)) — the single number that says
    HOW heavy the heavy tail is. `events_pareto_activity` draws the
    concentration curve; this fits it: alpha ~ 2 means the top users
    dominate (plan for skew salting and per-key caps), alpha >> 3
    means activity is effectively homogeneous.

    Float discipline: each ln(x) is integer-quantized at 1e6 BEFORE
    the sum (the unigram-LM idiom) so the moment is an exact int64
    sum; alpha is one division chain evaluated in token-identical
    order. Scale shape: one per-user count aggregate, one global
    4-column reduction — two map-side-combinable passes, nothing
    else."""
    ev = load_table(spark, sf_dir, "events")
    activity = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    lnx_q = F.round(F.log(F.col("x").cast("double")) * F.lit(1e6), 0).cast(
        "long"
    )
    t = activity.select("x", lnx_q.alias("lnx_q"))
    return t.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.sum("lnx_q").alias("sum_ln_q"),
        F.round(
            F.lit(1.0)
            + F.count(F.lit(1)).cast("double")
            / (F.sum("lnx_q").cast("double") / F.lit(1e6)),
            4,
        ).alias("alpha_mle"),
    )


@register(
    "events_bitmap_retention",
    oracle="""
    WITH anchor AS (
        SELECT min(CAST(ts AS DATE)) AS d0,
               date_diff('day', min(CAST(ts AS DATE)),
                         max(CAST(ts AS DATE))) + 1 AS n_days
        FROM events
    ),
    masks AS (
        SELECT user_id,
               bit_or(CAST(1 AS BIGINT)
                      << date_diff('day', a.d0, CAST(ts AS DATE))) AS mask
        FROM events, anchor a
        GROUP BY user_id
    ),
    lagged AS (
        SELECT m.user_id, m.mask, a.n_days, unnest(range(1, 8)) AS lag
        FROM masks m, anchor a
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(sum(bit_count(mask & (mask >> lag))) AS BIGINT)
               AS active_day_pairs,
           CAST(sum(bit_count(mask & ((CAST(1 AS BIGINT) << (n_days - lag)) - 1)))
               AS BIGINT) AS eligible_active_days,
           round(sum(bit_count(mask & (mask >> lag))) * 1.0
                 / sum(bit_count(mask & ((CAST(1 AS BIGINT) << (n_days - lag)) - 1))),
                 4) AS retention_rate
    FROM lagged
    GROUP BY lag
    ORDER BY lag
    """,
    tags=("events", "retention", "bitmap", "scale"),
)
def events_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled day-N retention from per-user activity BITMASKS — the
    bitmap-index pattern for engagement analytics: one ``bit_or``
    aggregate folds each user's activity history into a single
    BIGINT (bit d = active on day d), and every retention lag is then
    pure bitwise arithmetic over that one row per user:
    ``bit_count(mask & (mask >> L))`` counts the (day, day+L)
    active pairs, ``bit_count(mask & ((1 << (D-L)) - 1))`` the
    eligible anchor days. No self-join of activity against itself,
    no per-lag re-scan — the classic retention query's day-vs-day
    join collapses into popcounts.

    Scale shape: one groupBy(user) with a map-side-combinable
    ``bit_or``, then a x7 lag explode over USER rows (not events) and
    one final 7-group aggregate. The calendar anchor and day count
    are ONE tiny broadcast aggregate. At calendars past 64 days the
    same shape runs on a bitmap type (array<long> words / roaring
    bitmaps) with identical popcount algebra; the demo corpus spans
    30 days so a single BIGINT word is exact."""
    ev = load_table(spark, sf_dir, "events")
    anchor = F.broadcast(
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"),
            (F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1).alias(
                "n_days"
            ),
        )
    )
    masks = (
        ev.crossJoin(anchor)
        .select(
            "user_id",
            "n_days",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), datediff(to_date(ts), d0))"
            ).alias("day_bit"),
        )
        .groupBy("user_id", "n_days")
        .agg(F.bit_or("day_bit").alias("mask"))
    )
    lagged = masks.select(
        "mask",
        "n_days",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
    )
    pairs = F.bit_count(F.expr("mask & shiftright(mask, lag)"))
    eligible = F.bit_count(
        F.expr("mask & (shiftleft(CAST(1 AS BIGINT), n_days - lag) - 1)")
    )
    return (
        lagged.groupBy(F.col("lag").cast("long").alias("lag"))
        .agg(
            F.sum(pairs).alias("active_day_pairs"),
            F.sum(eligible).alias("eligible_active_days"),
        )
        .select(
            "lag",
            "active_day_pairs",
            "eligible_active_days",
            F.round(
                F.col("active_day_pairs") / F.col("eligible_active_days"), 4
            ).alias("retention_rate"),
        )
        .orderBy("lag")
    )


@register(
    "events_survival_curve",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
                   AS lifespan
        FROM events GROUP BY user_id
    ),
    total AS (SELECT count(*) AS n_users FROM spans),
    contrib AS (
        SELECT user_id, unnest(range(lifespan + 1)) AS t FROM spans
    )
    SELECT CAST(c.t AS BIGINT) AS t,
           CAST(count(*) AS BIGINT) AS n_surviving,
           round(count(*) * 1.0 / max(tt.n_users), 4) AS survival
    FROM contrib c, total tt
    GROUP BY c.t
    ORDER BY t
    """,
    tags=("events", "survival", "scale"),
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifespan survival curve S(t) = fraction of users whose
    observed activity span (days between first and last event)
    reaches at least t days — the churn-analysis readout.

    Built without a global window: the naive form sorts lifespans and
    takes a reverse running count (one all-rows window — the
    single-reducer shape the plan audit bans); instead each user's
    span row fans out to the t values it survives (bounded by the
    calendar, <=31 here), and ONE day-keyed aggregate counts
    survivors per t — the same contribution-explode trick as
    `events_dau_stickiness`'s WAU. The denominator is a tiny
    broadcast aggregate."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias("lifespan")
    )
    total = F.broadcast(spans.agg(F.count(F.lit(1)).alias("n_users")))
    contrib = spans.select(
        F.explode(F.sequence(F.lit(0), F.col("lifespan"))).alias("t")
    )
    return (
        contrib.groupBy(F.col("t").cast("long").alias("t"))
        .agg(F.count(F.lit(1)).alias("n_surviving"))
        .crossJoin(total)
        .select(
            "t",
            "n_surviving",
            F.round(F.col("n_surviving") / F.col("n_users"), 4).alias("survival"),
        )
        .orderBy("t")
    )


@register(
    "events_decay_score",
    oracle="""
    WITH t AS (SELECT max(epoch_us(ts)) AS t_max FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * exp(-(t.t_max - epoch_us(ts))
                                 / (7.0 * 86400 * 1000000))), 4)
               AS decay_score
    FROM events, t
    GROUP BY user_id, t.t_max
    ORDER BY user_id
    """,
    tags=("events", "feature", "scale"),
)
def events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user
    (half-life-style weighting, tau = 7 days anchored at the corpus
    max timestamp) — the recency-weighted feature a ranking or churn
    model consumes instead of a raw count, computed as ONE
    map-side-combinable aggregate: the decay weight is a per-row
    scalar expression (no window, no self-join against 'now' rows),
    so the whole pass is a single user-keyed shuffle. The anchor is
    one tiny broadcast max aggregate. At 100 TB, scores refresh
    incrementally: exp decay factorizes (score(T2) =
    score(T1) * exp(-(T2-T1)/tau) + new events), so yesterday's
    scores fold forward without rescanning history."""
    ev = load_table(spark, sf_dir, "events")
    t = F.broadcast(ev.agg(F.max(F.unix_micros("ts")).alias("t_max")))
    tau_us = 7.0 * 86400 * 1_000_000
    w = F.col("value") * F.exp(
        -(F.col("t_max") - F.unix_micros("ts")) / F.lit(tau_us)
    )
    return (
        ev.crossJoin(t)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(w), 4).alias("decay_score"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Round 9: time-series diagnostics — change-point, autocorrelation,
# forecast backtest. The reference has no time-series surface at all
# (Microbase.scala stops at GROUP BY); these are the monitoring
# readouts an event warehouse layers on the daily-aggregate relation
# that events_daily_trend / events_dow_seasonality already reduce to.


@register(
    "events_change_point_cusum",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(y) AS BIGINT) AS total
        FROM daily
    ),
    cusum AS (
        SELECT d, y,
               CAST(t.n_days * sum(y) OVER (ORDER BY d) AS BIGINT)
                   - CAST(row_number() OVER (ORDER BY d) * t.total AS BIGINT)
                   AS s_scaled,
               t.n_days
        FROM daily, tot t
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, y AS n_events,
           round(CAST(s_scaled AS DOUBLE) / n_days, 4) AS cusum,
           abs(s_scaled) = (SELECT max(abs(s_scaled)) FROM cusum)
               AS is_change_point
    FROM cusum
    ORDER BY day
    """,
    tags=("events", "timeseries", "changepoint", "scale"),
)
def events_change_point_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily event-count series:
    the cumulative sum of deviations from the corpus mean peaks (in
    absolute value) at the most likely level-shift day — the standard
    single-change-point estimator, and the drift alarm a pipeline puts
    on its ingest volume.

    Integer-exact cross-engine: instead of accumulating float
    deviations (y_i - mean), accumulate the N-scaled integer form
    N * prefix_sum(y) - t * total (identical telescoping, zero float
    drift) and divide by N only in the final rounded projection.

    Scale shape: the corpus-sized pass is one map-side-combinable
    daily count; the running sum is a global window over the
    CALENDAR-bounded daily relation (~30 rows per fixture month,
    ~thousands at any horizon) — allowlisted in
    scripts/plan_audit.py with the bound named. The (n_days, total)
    pair is one broadcast aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    tot = F.broadcast(
        daily.agg(
            F.count(F.lit(1)).alias("n_days"), F.sum("y").alias("total")
        )
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    cusum = (
        daily.crossJoin(tot)
        .withColumn(
            "s_scaled",
            F.col("n_days") * F.sum("y").over(w)
            - F.row_number().over(W.orderBy("d")) * F.col("total"),
        )
    )
    peak = F.broadcast(
        cusum.agg(F.max(F.abs(F.col("s_scaled"))).alias("s_peak"))
    )
    return (
        cusum.crossJoin(peak)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("y").alias("n_events"),
            F.round(
                F.col("s_scaled").cast("double") / F.col("n_days"), 4
            ).alias("cusum"),
            (F.abs(F.col("s_scaled")) == F.col("s_peak")).alias(
                "is_change_point"
            ),
        )
        .orderBy("day")
    )


@register(
    "events_autocorr_weekly",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type, a.y AS x, b.y AS y
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.d = a.d + 7
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 4)
               AS lag7_autocorr
    FROM sums
    ORDER BY event_type
    """,
    tags=("events", "timeseries", "autocorrelation", "scale"),
)
def events_autocorr_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-7 autocorrelation of the per-type daily count series — the
    one-number weekly-seasonality strength readout (Pearson r between
    each day and the same weekday one week later), complementing
    events_dow_seasonality's per-weekday index with a significance-
    style scalar per event type.

    Integer-exact moment accumulation: daily counts are integers, so
    n/sx/sy/sxy/sxx/syy are exact BIGINTs in both engines and the only
    float op is the final rounded quotient — no running-float corr
    aggregate (Spark's F.corr and DuckDB's corr() accumulate doubles
    in engine-specific orders; the moment form sidesteps that).

    Scale shape: one map-side-combinable daily aggregate, a
    calendar-bounded self-join on (type, d+7), and a per-type
    reduction. Nothing corpus-sized survives past the first pass."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.d") == F.date_add(F.col("a.d"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.y").alias("x"),
        F.col("b.y").alias("y"),
    )
    sums = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return (
        sums.select(
            "event_type",
            F.col("n").alias("n_pairs"),
            F.round(num.cast("double") / den, 4).alias("lag7_autocorr"),
        )
        .orderBy("event_type")
    )


@register(
    "events_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               isodow(CAST(ts AS DATE)) - 1 AS dow,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2, 3
    ),
    split AS (
        SELECT CAST(max(d) - 6 AS DATE) AS test_start FROM daily
    ),
    model AS (
        SELECT event_type, dow,
               CAST(sum(y) AS BIGINT) AS train_events,
               CAST(count(*) AS BIGINT) AS train_days
        FROM daily, split
        WHERE d < test_start
        GROUP BY event_type, dow
    ),
    gmodel AS (
        SELECT event_type,
               CAST(sum(train_events) AS BIGINT) AS g_events,
               CAST(sum(train_days) AS BIGINT) AS g_days
        FROM model GROUP BY event_type
    ),
    scored AS (
        SELECT t.event_type,
               abs(CAST(t.y * coalesce(m.train_days, g.g_days)
                        - coalesce(m.train_events, g.g_events) AS DOUBLE)
                   / coalesce(m.train_days, g.g_days)) AS abs_err
        FROM daily t
        CROSS JOIN split
        LEFT JOIN model m ON m.event_type = t.event_type AND m.dow = t.dow
        LEFT JOIN gmodel g ON g.event_type = t.event_type
        WHERE t.d >= test_start
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_test_days,
           CASE WHEN count(abs_err) > 0
                THEN round(sum(abs_err) / count(abs_err), 4) END AS mae
    FROM scored
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("events", "timeseries", "forecast", "scale"),
)
def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each of the last 7
    days' per-type counts as the training-period mean for that weekday
    (0=Monday; Spark `weekday` == DuckDB `isodow - 1`), and report the
    per-type mean absolute error — the baseline every volume-forecast
    model must beat, and the cheapest capacity-planning sanity check.

    The per-day error |y - train_events/train_days| is computed in the
    integer-scaled form |y * train_days - train_events| / train_days —
    one float division per scored row, no float accumulation of
    intermediate means. The final MAE sum is over <=7 rows per type
    (vs thousands of raw events), shrinking the reordered-float
    surface to the established round-4 margin.

    Coverage (round-9 advice): the model join is a LEFT join, so a
    test day whose (type, weekday) cell never occurs in training is
    NOT silently dropped — it falls back to the per-type GLOBAL
    training mean (the non-seasonal naive, the honest prior when the
    weekday cell is empty), and a type with no training history at
    all still reports its n_test_days with a NULL mae. n_test_days
    therefore counts every test day.

    Scale shape: the corpus-sized pass is the daily aggregate; the
    model is a (type x 7)-row broadcast (the global fallback a
    type-count-sized rollup of it); the backtest left-joins 7 days
    per type against both. The split date is one broadcast max."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.weekday(F.to_date("ts")).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("y"))
    split = F.broadcast(
        daily.agg(F.date_add(F.max("d"), -6).alias("test_start"))
    )
    with_split = daily.crossJoin(split)
    model = (
        with_split.filter(F.col("d") < F.col("test_start"))
        .groupBy("event_type", "dow")
        .agg(
            F.sum("y").alias("train_events"),
            F.count(F.lit(1)).alias("train_days"),
        )
    )
    gmodel = model.groupBy("event_type").agg(
        F.sum("train_events").alias("g_events"),
        F.sum("train_days").alias("g_days"),
    )
    test = with_split.filter(F.col("d") >= F.col("test_start"))
    days = F.coalesce("train_days", "g_days")
    evs = F.coalesce("train_events", "g_events")
    scored = (
        test.join(F.broadcast(model), ["event_type", "dow"], "left")
        .join(F.broadcast(gmodel), "event_type", "left")
        .select(
            "event_type",
            (F.abs((F.col("y") * days - evs).cast("double")) / days).alias(
                "abs_err"
            ),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test_days"),
            F.when(
                F.count("abs_err") > 0,
                F.round(F.sum("abs_err") / F.count("abs_err"), 4),
            ).alias("mae"),
        )
        .orderBy("event_type")
    )


@register(
    "events_user_burstiness",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               date_diff('second',
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) AS g
        FROM events
    ),
    mom AS (
        SELECT user_id,
               CAST(count(g) AS BIGINT) AS n,
               CAST(sum(g) AS BIGINT) AS sg,
               CAST(sum(g * g) AS BIGINT) AS sgg
        FROM gaps WHERE g IS NOT NULL
        GROUP BY user_id
        HAVING count(g) >= 2
    )
    SELECT user_id, n AS n_gaps,
           round(CAST(sg AS DOUBLE) / n, 4) AS mean_gap_s,
           round((sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) - sg)
                 / (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) + sg), 4)
               AS burstiness
    FROM mom
    ORDER BY user_id
    """,
    tags=("events", "timeseries", "burstiness", "scale"),
)
def events_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness index per user over inter-event gaps:
    B = (sigma - mu) / (sigma + mu) in [-1, 1) — B ~ 0 is Poisson
    (human-organic), B -> -1 is metronome-regular (the BOT signature:
    scripted clients fire on fixed timers), B -> 1 is heavy-tailed
    bursts (scrapers between rate-limit windows). The standard
    automation-detection readout, emitted as a score rather than an
    arbitrary flag threshold.

    Integer-exact moments: gaps are floored SECONDS (exact BIGINTs in
    both engines; squares stay far from the 2^63 line at any realistic
    gap), so n/sg/sgg are exact and B = (sqrt(n*sgg - sg^2) - sg) /
    (sqrt(n*sgg - sg^2) + sg) — the n-scaled algebraic form with ONE
    sqrt and one division, both computed identically from identical
    integers in either engine.

    Scale shape: one user-partitioned lag window (single user_id
    exchange, the events_session_paths discipline) feeding a
    map-side-combinable moment aggregate. Tie-break (ts, event_id) in
    the lag ordering makes the gap sequence deterministic under
    equal timestamps."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    mom = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("g").alias("sg"),
            F.sum(F.col("g") * F.col("g")).alias("sgg"),
        )
        .filter(F.col("n") >= 2)
    )
    disc = F.sqrt(
        (F.col("n") * F.col("sgg") - F.col("sg") * F.col("sg")).cast("double")
    )
    return (
        mom.select(
            "user_id",
            F.col("n").alias("n_gaps"),
            F.round(F.col("sg").cast("double") / F.col("n"), 4).alias(
                "mean_gap_s"
            ),
            F.round((disc - F.col("sg")) / (disc + F.col("sg")), 4).alias(
                "burstiness"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "events_user_type_entropy",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, event_type
    ),
    terms AS (
        SELECT user_id, c,
               CAST(round(c * ln(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT)
                   AS clnc_q
        FROM counts
    ),
    per_user AS (
        SELECT user_id,
               CAST(sum(c) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(clnc_q) AS BIGINT) AS s_q
        FROM terms GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           round(ln(CAST(n_events AS DOUBLE))
                 - (CAST(s_q AS DOUBLE) / 1e6) / n_events, 4) AS entropy
    FROM per_user
    ORDER BY user_id
    """,
    tags=("events", "entropy", "diversity", "scale"),
)
def events_user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type Shannon entropy (nats): how spread a
    user's activity is across event types — 0 is a single-action
    account (scripted pattern; read beside events_user_burstiness'
    timing signature), ln(n_types) is uniformly diverse usage. The
    behavioral-diversity feature in engagement scoring stacks.

    Same integer-quantized c*ln(c) discipline as
    text_token_entropy / events_power_law_alpha: the corpus-sized sum
    is exact BIGINT; per-output-row floats are computed once on
    identical inputs in both engines.

    Scale shape: one (user, type) count (map-side combinable), one
    per-user reduction — two aggregations, no windows, no joins."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    terms = counts.select(
        "user_id",
        "c",
        F.round(F.col("c") * F.log(F.col("c").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("clnc_q"),
    )
    per_user = terms.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum("clnc_q").alias("s_q"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "n_types",
        F.round(
            F.log(F.col("n_events").cast("double"))
            - (F.col("s_q").cast("double") / 1e6) / F.col("n_events"),
            4,
        ).alias("entropy"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Round 11: common-neighbor link prediction over the part co-purchase
# graph — the collaborative-filtering readout next to
# `basket_brand_pairs`: two parts never co-ordered but sharing many
# co-purchase neighbors are the cross-sell candidates an association
# pass at pair grain cannot see (Liben-Nowell & Kleinberg 2003).


def _copurchase_cte() -> str:
    """The WITH-body (op -> sup -> pairs -> edges -> deg) of the
    support-floored part co-purchase graph — shared by the
    link-prediction and Adamic-Adar oracles so both score the SAME
    graph (the simhash_candidate_pairs discipline).

    The support floor is DENSITY-SCALED, not a constant:
    max(2, ceil(4/15 x orders-per-part)) in exact integer arithmetic.
    TPC-H's orders:parts ratio is ~7.5 at EVERY scale factor (both
    grow with SF), so the floor sits at 2 from sf0.001 to sf100 —
    but under a corpus that genuinely densifies (more orders over a
    FIXED part inventory, e.g. the x64 amplified smoke tier, or any
    real catalog whose traffic grows faster than its assortment)
    every pair's co-order count inflates with the density and a
    fixed floor stops separating signal from noise: the x64 tier
    saturated a floor of 2 (all ~116k pairs qualified, degree ~116,
    13.8M wedges, 47 s). The scaled floor keeps the edge list at
    'co-ordered more than density predicts' — the same
    per-reducer-budget reasoning as join_skew_salted's auto
    threshold."""
    return """op AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem
    ),
    sup AS (
        SELECT greatest(
                   CAST(2 AS BIGINT),
                   (4 * count(DISTINCT okey) + 15 * count(DISTINCT pk) - 1)
                       // (15 * count(DISTINCT pk))) AS floor_n
        FROM op
    ),
    pairs AS (
        SELECT a.pk AS pa, b.pk AS pb
        FROM op a JOIN op b ON a.okey = b.okey AND a.pk < b.pk
        GROUP BY 1, 2 HAVING count(*) >= (SELECT floor_n FROM sup)
    ),
    edges AS (
        SELECT pa AS u, pb AS v FROM pairs
        UNION ALL
        SELECT pb AS u, pa AS v FROM pairs
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u)"""


def copurchase_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pairs, edges, deg) of the support-floored part co-purchase
    graph — the shared Spark-side derivation of `_copurchase_cte`.
    pairs = (pa, pb) with pa < pb whose co-order count clears the
    density-scaled support floor (see `_copurchase_cte`);
    edges = both directions; deg = per-part degree. See
    `graph_link_prediction` for the scale argument.

    The pair relation is a session relation (keyed on lineitem): the
    derivation — a lineitem DISTINCT, the co-order self-join + count,
    and the two-distinct floor aggregate — is 3 passes over the fact
    table and dwarfs the wedge stage both graph queries actually vary
    on, so a session running the link-prediction family pays it once.
    edges/deg re-derive from the cached (support-floored, tiny) pair
    relation at negligible cost."""

    def build() -> DataFrame:
        op = (
            load_table(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
            )
            .distinct()
        )
        sup = op.agg(
            F.greatest(
                F.lit(2).cast("long"),
                F.expr(
                    "(4 * count(DISTINCT okey) + 15 * count(DISTINCT pk) - 1)"
                    " div (15 * count(DISTINCT pk))"
                ),
            ).alias("floor_n")
        )
        a = op.select("okey", F.col("pk").alias("pa"))
        b = op.select("okey", F.col("pk").alias("pb"))
        return (
            a.join(b, "okey")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("n_both"))
            .crossJoin(F.broadcast(sup))
            .filter(F.col("n_both") >= F.col("floor_n"))
            .select("pa", "pb")
        )

    pairs = session_relation(spark, "copurchase_pairs", sf_dir, "lineitem", build)
    edges = pairs.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    return pairs, edges, deg


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH {_copurchase_cte()},
    wedges AS (
        SELECT e1.v AS a, e2.v AS b, CAST(count(*) AS BIGINT) AS common
        FROM edges e1 JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
        GROUP BY e1.v, e2.v
    ),
    cand AS (
        SELECT w.a, w.b, w.common
        FROM wedges w
        WHERE NOT EXISTS (
            SELECT 1 FROM pairs p WHERE p.pa = w.a AND p.pb = w.b
        )
    )
    SELECT c.a AS part_a, c.b AS part_b, c.common AS common_neighbors,
           round(CAST(c.common AS DOUBLE)
                 / CAST(da.d + db.d - c.common AS DOUBLE), 4)
               AS neighbor_jaccard
    FROM cand c JOIN deg da ON da.u = c.a JOIN deg db ON db.u = c.b
    ORDER BY neighbor_jaccard DESC, part_a, part_b
    LIMIT 20
    """,
    tags=("graph", "link-prediction", "basket", "scale"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted missing edges of the part co-purchase graph
    by common-neighbor Jaccard: for every NON-adjacent 2-hop pair,
    |N(a) & N(b)| / |N(a) | N(b)| (exact integers until the one
    rounded division; ties broken by part keys so the cut is
    deterministic). Edges are part pairs whose co-order count clears
    the DENSITY-SCALED support floor (`_copurchase_cte`: max(2,
    ceil(4/15 x orders-per-part)), floor 2 at every real TPC-H SF) —
    the floor is what separates signal edges from one-off
    co-occurrence noise AND what bounds the graph (and every
    downstream wedge) under densification, the same role the shingle
    df-cap plays in the dedup graph family.

    Scale shape: the co-order pair join is keyed on orderkey with
    fan-out bounded by basket size (TPC-H: <=7 lines/order), never
    all-pairs across parts; wedge enumeration is the triangle-count
    self-join over the support-floored edge list (degree-bounded);
    the non-adjacency check is one anti-join against the edge list;
    degrees are a combinable count; the cut a TakeOrderedAndProject
    top-20."""
    pairs, edges, deg = copurchase_graph(spark, sf_dir)
    e1 = edges.select(F.col("u").alias("hub"), F.col("v").alias("a"))
    e2 = edges.select(F.col("u").alias("hub"), F.col("v").alias("b"))
    wedges = (
        e1.join(e2, "hub")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wedges.join(
        pairs,
        (wedges["a"] == pairs["pa"]) & (wedges["b"] == pairs["pb"]),
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("u").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("common").alias("common_neighbors"),
            F.round(
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")).cast("double"),
                4,
            ).alias("neighbor_jaccard"),
        )
        .orderBy(F.desc("neighbor_jaccard"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round 11: the experiment-QA trio around `events_ab_lift` /
# `events_cuped` — the checks an experimentation platform runs before
# trusting a lift number: sample-ratio-mismatch (is the split the one
# the assignment promised?), difference-in-differences (was the
# movement there before the treatment?), and the Poisson bootstrap
# (how wide is the estimate, without ever materializing a resample).


@register(
    "events_srm_check",
    oracle="""
    WITH assigned AS (
        SELECT DISTINCT user_id,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 'A' ELSE 'B' END AS variant
        FROM events
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE variant = 'A') AS BIGINT) AS na,
               CAST(count(*) FILTER (WHERE variant = 'B') AS BIGINT) AS nb
        FROM assigned
    )
    SELECT n AS n_users, na, nb,
           round(na * 1.0 / n, 4) AS share_a,
           round(CAST((na - nb) * (na - nb) AS DOUBLE) / n, 4) AS chi2,
           CAST((na - nb) * (na - nb) AS DOUBLE) / n > 10.8276 AS srm_alarm
    FROM agg
    """,
    tags=("events", "experiment", "srm", "scale"),
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the 50/50 md5 assignment that
    `events_ab_lift` / `events_cuped` report on: the chi-square
    statistic for an even split reduces algebraically to
    (na - nb)^2 / n (exact int64 until the one division), alarmed at
    the conventional p < 0.001 critical value 10.8276 — an SRM alarm
    means the assignment or logging is broken and every downstream
    lift number is void (Fabijan et al. 2019's first diagnostic).

    Scale shape: one distinct-user pass (combinable partial distinct
    per partition), one 3-counter rollup — nothing wider than the
    user key, constant output."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.select("user_id").distinct().select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                *"01234567"
            ),
            "A",
        )
        .otherwise("B")
        .alias("variant")
    )
    agg = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("variant") == "A").alias("na"),
        F.count_if(F.col("variant") == "B").alias("nb"),
    )
    return agg.selectExpr(
        "n AS n_users",
        "na",
        "nb",
        "round(na * 1.0D / n, 4) AS share_a",
        "round(CAST((na - nb) * (na - nb) AS DOUBLE) / n, 4) AS chi2",
        "CAST((na - nb) * (na - nb) AS DOUBLE) / n > 10.8276D AS srm_alarm",
    )


@register(
    "events_diff_in_diff",
    oracle="""
    WITH bounds AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 'A' ELSE 'B' END AS variant,
               CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                                       AND epoch_us(ts) <= (SELECT mid FROM bounds)
                                      THEN CAST(round(value * 100, 0) AS BIGINT)
                                 END), 0) AS BIGINT) AS pre_q,
               CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                                       AND epoch_us(ts) > (SELECT mid FROM bounds)
                                      THEN CAST(round(value * 100, 0) AS BIGINT)
                                 END), 0) AS BIGINT) AS post_q
        FROM events GROUP BY user_id
    ),
    agg AS (
        SELECT
            CAST(count(*) FILTER (WHERE variant = 'A') AS BIGINT) AS na,
            CAST(count(*) FILTER (WHERE variant = 'B') AS BIGINT) AS nb,
            CAST(COALESCE(sum(pre_q)  FILTER (WHERE variant = 'A'), 0) AS BIGINT) AS sa_pre,
            CAST(COALESCE(sum(post_q) FILTER (WHERE variant = 'A'), 0) AS BIGINT) AS sa_post,
            CAST(COALESCE(sum(pre_q)  FILTER (WHERE variant = 'B'), 0) AS BIGINT) AS sb_pre,
            CAST(COALESCE(sum(post_q) FILTER (WHERE variant = 'B'), 0) AS BIGINT) AS sb_post
        FROM per_user
    )
    SELECT na, nb,
           round(sa_pre  / (100.0 * na), 4) AS mean_a_pre,
           round(sa_post / (100.0 * na), 4) AS mean_a_post,
           round(sb_pre  / (100.0 * nb), 4) AS mean_b_pre,
           round(sb_post / (100.0 * nb), 4) AS mean_b_post,
           round((sb_post / (100.0 * nb) - sb_pre / (100.0 * nb))
                 - (sa_post / (100.0 * na) - sa_pre / (100.0 * na)), 4)
               AS did
    FROM agg
    """,
    tags=("events", "experiment", "diff-in-diff", "scale"),
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the md5 A/B assignment and the
    corpus-midpoint pre/post split (`events_cuped`'s periods): DiD =
    (B_post - B_pre) - (A_post - A_pre) on per-user purchase cents
    averaged over ALL assigned users. Under a valid randomization DiD
    and the raw post-period delta agree; a divergence means the arms
    were imbalanced before treatment — the parallel-trends smoke test
    run next to the lift readout.

    Cross-engine exactness: per-event cents quantization, so every
    per-variant sum is exact int64 and the five output doubles come
    from token-identical expression trees. Scale shape: one per-user
    combinable aggregate, one 6-counter rollup — the ab_lift plan
    family with a period axis."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / F.lit(2))
        .cast("long")
        .alias("mid")
    )
    v_q = F.round(F.col("value") * 100, 0).cast("long")
    is_purchase = F.col("event_type") == "purchase"
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(is_purchase & (F.unix_micros("ts") <= F.col("mid")), v_q)
                ),
                F.lit(0),
            ).alias("pre_q"),
            F.coalesce(
                F.sum(
                    F.when(is_purchase & (F.unix_micros("ts") > F.col("mid")), v_q)
                ),
                F.lit(0),
            ).alias("post_q"),
        )
        .withColumn(
            "variant",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                    *"01234567"
                ),
                "A",
            ).otherwise("B"),
        )
    )
    agg = per_user.agg(
        F.count_if(F.col("variant") == "A").alias("na"),
        F.count_if(F.col("variant") == "B").alias("nb"),
        F.coalesce(F.sum(F.when(F.col("variant") == "A", F.col("pre_q"))), F.lit(0)).alias("sa_pre"),
        F.coalesce(F.sum(F.when(F.col("variant") == "A", F.col("post_q"))), F.lit(0)).alias("sa_post"),
        F.coalesce(F.sum(F.when(F.col("variant") == "B", F.col("pre_q"))), F.lit(0)).alias("sb_pre"),
        F.coalesce(F.sum(F.when(F.col("variant") == "B", F.col("post_q"))), F.lit(0)).alias("sb_post"),
    )
    return agg.selectExpr(
        "na",
        "nb",
        "round(sa_pre  / (100.0D * na), 4) AS mean_a_pre",
        "round(sa_post / (100.0D * na), 4) AS mean_a_post",
        "round(sb_pre  / (100.0D * nb), 4) AS mean_b_pre",
        "round(sb_post / (100.0D * nb), 4) AS mean_b_post",
        "round((sb_post / (100.0D * nb) - sb_pre / (100.0D * nb))"
        " - (sa_post / (100.0D * na) - sa_pre / (100.0D * na)), 4) AS did",
    )


# Poisson(1) inverse-CDF thresholds as 8-hex-digit strings: a uniform
# md5 prefix u maps to weight w = #{k : u >= t_k}, i.e. P(w = k) =
# e^-1 / k! (capped at 9; P(w > 9) < 1e-7). The strings are Python
#-computed constants injected VERBATIM into both the Spark expression
# and the oracle SQL, so the draw is identical by construction — the
# _hex_threshold discipline with a 9-step ladder.
_POISSON1_THRESHOLDS = (
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5",
    "ffd90f3b", "fffa8b71", "ffff540c", "ffffed1f",
)
_BOOTSTRAP_B = 64


def _bootstrap_weight_sql(u: str) -> str:
    return " + ".join(
        f"CASE WHEN {u} >= '{t}' THEN 1 ELSE 0 END"
        for t in _POISSON1_THRESHOLDS
    )


@register(
    "events_bootstrap_ci",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                                      THEN CAST(round(value * 100, 0) AS BIGINT)
                                 END), 0) AS BIGINT) AS y_q
        FROM events GROUP BY user_id
    ),
    obs AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(y_q) AS BIGINT) AS sy
        FROM per_user
    ),
    drawn AS (
        SELECT b, y_q,
               {_bootstrap_weight_sql(
                   "substr(md5('boot:' || CAST(b AS VARCHAR) || ':' "
                   "|| CAST(user_id AS VARCHAR)), 1, 8)")} AS w
        FROM (SELECT user_id, y_q, unnest(range(0, {_BOOTSTRAP_B})) AS b
              FROM per_user)
    ),
    reps AS (
        SELECT b, CAST(sum(w * y_q) AS BIGINT) AS swy,
               CAST(sum(w) AS BIGINT) AS sw
        FROM drawn GROUP BY b HAVING sum(w) > 0
    ),
    ranked AS (
        SELECT swy / (100.0 * sw) AS m,
               row_number() OVER (ORDER BY swy / (100.0 * sw), b) AS r,
               count(*) OVER () AS nb
        FROM reps
    )
    SELECT o.n_users, CAST(k.nb AS BIGINT) AS n_replicates,
           round(o.sy / (100.0 * o.n_users), 4) AS mean_obs,
           round(lo.m, 4) AS ci_lo, round(hi.m, 4) AS ci_hi
    FROM obs o
    CROSS JOIN (SELECT max(nb) AS nb FROM ranked) k
    CROSS JOIN (SELECT m FROM ranked WHERE r = 2) lo
    CROSS JOIN (SELECT m FROM ranked, (SELECT max(nb) AS nb FROM ranked) x
                WHERE r = x.nb - 1) hi
    """,
    tags=("events", "experiment", "bootstrap", "scale"),
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean per-user
    purchase revenue: each user contributes weight w ~ Poisson(1) to
    each of B=64 replicates (the md5 ladder above — deterministic,
    so the resample replays exactly), each replicate's weighted mean
    is exact int64 cents over int64 weights, and the CI is the 2nd /
    (B-1)th order statistic of the replicate means — the nearest-rank
    ~95% percentile bootstrap, selected by explicit rank so neither
    engine's percentile interpolation is in play.

    This is THE scalable bootstrap (Kleiner et al.'s observation
    behind the bag-of-little-bootstraps): no replicate is ever
    materialized — one per-user pass, a x64 weight explode of the
    USER-grain relation (not the event log), and a 64-key rollup.
    At 100 TB the explode is over users, the only corpus-sized work
    the same per-user aggregate every experiment readout already
    does."""
    ev = load_table(spark, sf_dir, "events")
    v_q = F.round(F.col("value") * 100, 0).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", v_q)), F.lit(0)
        ).alias("y_q")
    )
    obs = per_user.agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("y_q").alias("sy")
    )
    u = (
        "substring(md5(concat('boot:', CAST(b AS STRING), ':', "
        "CAST(user_id AS STRING))), 1, 8)"
    )
    drawn = per_user.select(
        "user_id",
        "y_q",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOTSTRAP_B - 1))).alias("b"),
    ).selectExpr("b", "y_q", f"{_bootstrap_weight_sql(u)} AS w")
    reps = (
        drawn.groupBy("b")
        .agg(F.sum(F.col("w") * F.col("y_q")).alias("swy"), F.sum("w").alias("sw"))
        .filter(F.col("sw") > 0)
    )
    m = (F.col("swy") / (100.0 * F.col("sw"))).alias("m")
    ranked = reps.select(
        m,
        F.row_number()
        .over(W.orderBy(F.col("swy") / (100.0 * F.col("sw")), "b"))
        .alias("r"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nb"),
    )
    lo = ranked.filter(F.col("r") == 2).select(F.col("m").alias("m_lo"))
    hi = ranked.filter(F.col("r") == F.col("nb") - 1).select(
        F.col("m").alias("m_hi")
    )
    k = ranked.agg(F.max("nb").alias("nb"))
    return (
        obs.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_users",
            F.col("nb").cast("long").alias("n_replicates"),
            F.round(F.col("sy") / (100.0 * F.col("n_users")), 4).alias("mean_obs"),
            F.round("m_lo", 4).alias("ci_lo"),
            F.round("m_hi", 4).alias("ci_hi"),
        )
    )


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH {_copurchase_cte()},
    wedges AS (
        SELECT e1.v AS a, e2.v AS b,
               CAST(count(*) AS BIGINT) AS common,
               CAST(sum(CAST(round(1e6 / ln(CAST(d.d AS DOUBLE)), 0)
                             AS BIGINT)) AS BIGINT) AS aa_q
        FROM edges e1
        JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
        JOIN deg d ON d.u = e1.u
        GROUP BY e1.v, e2.v
    ),
    cand AS (
        SELECT w.a, w.b, w.common, w.aa_q
        FROM wedges w
        WHERE NOT EXISTS (
            SELECT 1 FROM pairs p WHERE p.pa = w.a AND p.pb = w.b
        )
    )
    SELECT a AS part_a, b AS part_b, common AS common_neighbors,
           round(aa_q / 1e6, 4) AS adamic_adar
    FROM cand
    ORDER BY aa_q DESC, part_a, part_b
    LIMIT 20
    """,
    tags=("graph", "link-prediction", "basket", "scale"),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the same support-floored
    co-purchase graph as `graph_link_prediction`: score(a,b) =
    sum over common neighbors u of 1/ln(deg(u)), which down-weights
    promiscuous hubs (a part co-ordered with everything says little
    about any one pair) — the score that beats plain common-neighbor
    counting on most graphs in Liben-Nowell & Kleinberg's study.

    Cross-engine floats: each hub's 1/ln(d) is quantized to 1e-6
    BEFORE summation (the clnc_q discipline — ln is not guaranteed
    correctly rounded across libm implementations, and float sums
    re-associate), so aa_q accumulates as exact int64 and the
    ORDER BY ranks identical integers in both engines; ties broken
    by part keys. Hubs inside a wedge have degree >= 2 by
    construction, so ln(d) >= ln 2 and the weight is finite.

    Scale shape: identical to `graph_link_prediction` (shared
    `copurchase_graph` derivation) plus one broadcast-scale degree
    join keyed on the wedge hub."""
    pairs, edges, deg = copurchase_graph(spark, sf_dir)
    w_q = F.round(F.lit(1e6) / F.log(F.col("d").cast("double")), 0).cast("long")
    e1 = edges.select(F.col("u").alias("hub"), F.col("v").alias("a"))
    e2 = edges.select(F.col("u").alias("hub"), F.col("v").alias("b"))
    wedges = (
        e1.join(e2, "hub")
        .filter(F.col("a") < F.col("b"))
        .join(deg.select(F.col("u").alias("hub"), "d"), "hub")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"), F.sum(w_q).alias("aa_q"))
    )
    cand = wedges.join(
        pairs,
        (wedges["a"] == pairs["pa"]) & (wedges["b"] == pairs["pb"]),
        "left_anti",
    )
    return (
        cand.orderBy(F.desc("aa_q"), "a", "b")
        .limit(20)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("common").alias("common_neighbors"),
            F.round(F.col("aa_q") / F.lit(1e6), 4).alias("adamic_adar"),
        )
    )
