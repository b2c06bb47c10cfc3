"""File sources & sinks — SURVEY.md §2.1.

The reference's only source is an eager pipe-delimited headerless CSV
load with a declared 5-type schema (CREATE TABLE ... USING csv
OPTIONS(path, delimiter), Microbase.scala:950-983) and its only sink
is pipe-delimited stdout (:1070-1088). Here: lazy schema-declared
readers for CSV/JSON/Parquet and real writers (partitioned /
bucketed/ sorted), which at scale replace the reference's in-heap
index builds with physical layout (partition pruning + bucketed
co-located joins).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def load_csv(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """Reference-compatible CSV scan: declared schema (never inferred
    — inference is a full extra pass at 100 TB), pipe delimiter,
    headerless, `yyyy-MM-dd` dates (Microbase.scala:937-940's epoch-day
    parse) — the one format the reference's CREATE TABLE reads. Lazy:
    no data is read until an action, unlike the reference's eager
    CREATE TABLE load."""
    return (
        spark.read.schema(schema)
        .option("sep", "|")
        .option("header", "false")
        .option("dateFormat", "yyyy-MM-dd")
        .csv(path)
    )


def load_json(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """Schema-declared JSON-lines scan (superset — the reference has no
    JSON)."""
    return spark.read.schema(schema).json(path)


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Columnar sink, overwriting ``path``. `partition_by` produces the
    directory layout that gives downstream scans partition pruning —
    the scale analog of the reference's tree index (range predicates
    skip whole directories, then row-groups)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_by: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
) -> None:
    """Bucketed + sorted managed table, overwriting ``name``:
    joins/aggregations on the bucket key skip the shuffle entirely
    (co-located partitions) — the scale analog of the reference's hash
    index (Microbase.scala:994-1006), but persistent and distributed."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(name)


def write_sorted_table(
    df: DataFrame,
    path: str,
    sort_by: list[str],
    num_files: int = 8,
    row_group_bytes: int = 1 << 20,
) -> None:
    """Range-partitioned, globally sorted Parquet layout, overwriting
    ``path`` — the
    persistent analog of the reference's TREE index
    (Microbase.scala:1009-1024): where the reference builds an
    in-heap sorted array per indexed column for range scans, at 100 TB
    the same property lives in the physical layout. repartitionByRange
    gives each output file a disjoint sort-key range; sortWithinParti-
    tions orders rows inside it, so every row group's min/max spans a
    narrow slice; a range predicate then prunes whole files (via
    footer min/max) and row groups/pages inside the survivors —
    demonstrated in tests/test_sources.py by the scan emitting a small
    fraction of the table. ``row_group_bytes`` bounds row-group size
    so pruning granularity stays fine even in large files (the analog
    of the tree index's node fan-out). Completes the S2/S3 pair:
    hash index -> ``write_bucketed_table``, tree index -> this."""
    (
        df.repartitionByRange(num_files, *sort_by)
        .sortWithinPartitions(*sort_by)
        .write.mode("overwrite")
        .option("parquet.block.size", row_group_bytes)
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str) -> None:
    """Pipe-delimited headerless CSV sink mirroring the reference's
    stdout format (Microbase.scala:1070-1088), as distributed files,
    overwriting ``path``."""
    df.write.mode("overwrite").option("sep", "|").option("header", "false").csv(path)


# ---------------------------------------------------------------------------
# registered source queries (S1/S6 in the driver's correctness gate)

from rdbms_scala_spark.registry import register  # noqa: E402
from rdbms_scala_spark.session import session_relation  # noqa: E402



_SCRATCH_DIRS: set[str] = set()


def _cleanup_scratch_dirs() -> None:
    import shutil

    for path in _SCRATCH_DIRS:
        shutil.rmtree(path, ignore_errors=True)


def _scratch_dir(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Per-(application, sf_dir) scratch path under /tmp for queries
    that materialize a derived layout: keyed on the session so
    concurrent sessions (driver gate + local pytest) never clobber
    each other mid-scan, and on a hash of the FULL sf_dir — two dirs
    with the same leaf name must not share a scratch (the returned
    DataFrames are lazy, so a second call could otherwise overwrite
    the layout before the first result executes).

    Every path handed out is removed at interpreter exit (atexit):
    without that, each application left a full rewritten copy of its
    derived layouts in /tmp and repeated gate/bench/test runs grew
    disk usage without bound."""
    import atexit
    import hashlib
    import os

    path = os.path.join(
        "/tmp",
        f"{prefix}_{spark.sparkContext.applicationId}_"
        f"{hashlib.md5(sf_dir.rstrip('/').encode()).hexdigest()[:10]}",
    )
    if not _SCRATCH_DIRS:
        atexit.register(_cleanup_scratch_dirs)
    _SCRATCH_DIRS.add(path)
    return path


@register(
    "csv_source_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("source", "csv", "S1", "S6"),
)
def csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S6 through the driver gate: write `nation` as headerless
    pipe-delimited CSV (the reference's interchange format,
    Microbase.scala:966-982), read it back with a declared schema, and
    return it — byte-identical to the Parquet original per the oracle.
    Idempotent: the scratch dir is keyed on the sf dir and
    overwritten."""
    import os

    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    scratch = _scratch_dir(spark, sf_dir, "csv_roundtrip")
    write_csv(nation, scratch)
    df = load_csv(spark, scratch, schema=nation.schema)
    return df.select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")


@register(
    "json_source_roundtrip",
    oracle="""
    SELECT r_regionkey, r_name
    FROM region
    ORDER BY r_regionkey
    """,
    tags=("source", "json", "S1", "S6"),
)
def json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink roundtrip (a format surface the
    reference lacks entirely — its only source is delimited CSV,
    Microbase.scala:966-982): write `region` as JSONL, read it back
    with a declared schema (never inferred: schema inference is a
    second full scan at 100 TB), and return it — identical to the
    Parquet original per the oracle."""
    import os

    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    scratch = _scratch_dir(spark, sf_dir, "json_roundtrip")
    region.write.mode("overwrite").json(scratch)
    df = load_json(spark, scratch, schema=region.schema)
    return df.select("r_regionkey", "r_name").orderBy("r_regionkey")


@register(
    "orc_source_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("source", "orc", "S1", "S6"),
)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink roundtrip — the third columnar-interchange
    surface after Parquet and CSV/JSON (the reference reads only
    delimited CSV, Microbase.scala:966-982; Spark ships the ORC
    reader/writer natively): write `supplier` as ORC, read it back,
    and return it — identical to the Parquet original per the oracle.
    Like Parquet, ORC carries its schema and min/max stripe stats, so
    predicate pushdown and column pruning work the same way at
    scale."""
    import os

    from pyspark.sql import functions as F

    supplier = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    scratch = _scratch_dir(spark, sf_dir, "orc_roundtrip")
    supplier.write.mode("overwrite").orc(scratch)
    df = spark.read.orc(scratch)
    return df.select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("s_acctbal")
    ).orderBy("s_suppkey")


@register(
    "maintenance_compact_small_files",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("maintenance", "compaction", "scale"),
)
def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the OPTIMIZE/bin-packing maintenance
    pass every long-lived 100 TB table needs (streaming sinks and
    incremental upserts accrete kilobyte files; a million tiny files
    turns every scan into a listing+open storm and starves the
    scheduler with single-row tasks).

    Gate entry for :func:`compact_small_files` (the library operator;
    see its docstring for the coalesce-not-repartition scale shape,
    and tests/test_sources.py for the file-count-collapse assert).
    The demo fragments `customer` into 64 shards (the pathology),
    compacts them, and returns an aggregate over the compacted copy —
    the oracle runs the same aggregate on the original table, proving
    compaction preserved every row."""
    import os

    from pyspark.sql import functions as F

    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    frag = _scratch_dir(spark, sf_dir, "compact_frag")
    customer.repartition(64).write.mode("overwrite").parquet(frag)
    compact = _scratch_dir(spark, sf_dir, "compact_out")
    compact_small_files(spark, frag, compact)

    return (
        spark.read.parquet(compact)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )


def _events_layout(
    spark: SparkSession, sf_dir: str, kind: str, write: Callable[[str], None]
) -> str:
    """A derived on-disk layout under a scratch root named ``kind``,
    written by ``write(root)``: a session relation keyed on `events`,
    so it is written once per session, rewritten when `events` is, and
    dropped by eviction. Returns the root."""

    def build() -> str:
        root = _scratch_dir(spark, sf_dir, kind)
        write(root)
        return root

    return session_relation(spark, kind, sf_dir, "events", build)


def _events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """`events` partitioned by ``event_date`` (Hive directory layout,
    one dir per day), the fact side of both partition-pruning
    queries."""
    from pyspark.sql import functions as F

    from rdbms_scala_spark.catalog import load_table

    return _events_layout(
        spark,
        sf_dir,
        "events_partitioned",
        lambda root: write_parquet(
            load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts")),
            root,
            partition_by=["event_date"],
        ),
    )


@register(
    "scan_partition_pruned",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-17 00:00:00'
    GROUP BY 1, 2
    """,
    tags=("source", "parquet", "partitioning", "scale"),
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned layout + partition-pruned scan — the most
    common 100 TB physical-layout lever (SURVEY.md §4.1), demonstrated
    end-to-end: write `events` partitioned by ``event_date`` (Hive
    directory layout, one dir per day), read it back with a one-week
    date predicate, and aggregate the survivors. The predicate lands
    in the scan's PartitionFilters (asserted in tests/test_plans.py),
    so the scan LISTS only 7 of ~30 day directories and never opens
    the rest — at 100 TB that's the difference between reading ~23 TB
    and reading the whole table. The sum goes through DECIMAL so the
    cross-engine value hash is independent of float addition order.

    Completes the physical-layout trio: hash index ->
    ``write_bucketed_table``, tree index -> ``write_sorted_table``,
    date partitioning -> this. (The reference has no layout story at
    all — its indexes are per-process heap arrays,
    Microbase.scala:994-1024.)"""
    from pyspark.sql import functions as F

    pruned = spark.read.parquet(_events_partitioned(spark, sf_dir)).filter(
        (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
        & (F.col("event_date") < F.lit("2024-01-17").cast("date"))
    )
    return pruned.groupBy(
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_value"),
    )


def _morton_spread(x, bits: int, stride: int):
    """Spread the low ``bits`` bits of ``x`` so bit b lands at
    position b*stride — bit-interleave lanes for ``stride`` z-order
    columns (stride 2: even positions; stride 3: every third; a fixed
    stride-2 spread would OR column 3's lanes onto column 1's and
    silently destroy its clustering). One shift-mask-or term per bit,
    all JVM bigint expressions, write-path only."""
    from functools import reduce

    from pyspark.sql import functions as F

    return reduce(
        lambda acc, b: acc.bitwiseOR(
            F.shiftleft(x.bitwiseAND(F.lit(1 << b)), b * (stride - 1))
        ),
        range(1, bits),
        x.bitwiseAND(F.lit(1)),
    )


def _bucket_expr(col, bounds: list[float]):
    """Bucket index of ``col`` against sorted ``bounds`` as a balanced
    binary-search CASE tree — depth log2(len(bounds)) comparisons per
    row, all whole-stage-codegen'd (no Python, no higher-order-function
    interpretation). Returns values in [0, len(bounds)]."""
    from pyspark.sql import functions as F

    def rec(lo: int, hi: int):
        if lo >= hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(col < F.lit(bounds[mid]), rec(lo, mid)).otherwise(rec(mid + 1, hi))

    return rec(0, len(bounds))


_ZORDER_BITS = 8  # quantile-rank bits per z-column


def write_zordered_table(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    num_files: int = 16,
    row_group_bytes: int = 128 * 1024,
) -> None:
    """Z-order (Morton-curve) clustered Parquet layout, overwriting
    ``path`` — the MULTI-dimensional layout lever.
    ``write_sorted_table`` serves range predicates on ONE column; a
    workload that filters sometimes on user, sometimes on value,
    sometimes on both would need one sorted copy per column. Interleaving the bits of each column's
    QUANTILE RANK into a single Morton code and range-writing on that
    code gives every file/row-group a narrow min/max window in EVERY
    z-column at once, so Parquet footer stats prune on any of them
    (measured in tests/test_sources.py: a 2-D predicate reads ~12% of
    an unsorted scan at sf0.1 and a second-column predicate ~40%,
    where a single-column sort reads 100%).

    Scale shape: one ``approxQuantile`` pass per z-column (GK sketch,
    driver gets ``2^_ZORDER_BITS`` boundaries, at relative error
    0.001 — the same sampling contract as ``repartitionByRange``'s
    partitioner), then a map-only bucket lookup (balanced CASE tree,
    ``_ZORDER_BITS`` comparisons/row, codegen'd) + bit-interleave, then ONE range shuffle on the z-code. Quantile
    (not min/max) quantization matters: skewed columns — events.value
    is exponential-ish — would otherwise spend most code space on the
    thin tail and cluster nothing. At 100 TB this is the OPTIMIZE
    ZORDER pattern (Delta/Iceberg) expressed as three Spark
    primitives; re-cluster periodically as data arrives, per
    partition."""
    from pyspark.sql import functions as F

    assert "__z" not in df.columns, (
        "write_zordered_table reserves column name '__z' for the "
        "interleaved code; rename the input column"
    )
    qs = [i / (1 << _ZORDER_BITS) for i in range(1, 1 << _ZORDER_BITS)]
    z = None
    for i, c in enumerate(zorder_by):
        bounds = df.stat.approxQuantile(c, qs, 0.001)
        uniq: list[float] = []
        for b in bounds:  # heavy ties produce duplicate boundaries
            if not uniq or b > uniq[-1]:
                uniq.append(b)
        s = _morton_spread(
            _bucket_expr(F.col(c).cast("double"), uniq).cast("bigint"),
            _ZORDER_BITS,
            len(zorder_by),
        )
        z = s if z is None else z.bitwiseOR(F.shiftleft(s, i))
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .option("parquet.block.size", row_group_bytes)
        .parquet(path)
    )


@register(
    "scan_zorder_skipping",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id BETWEEN 100 AND 200
      AND value BETWEEN 10.0 AND 20.0
    GROUP BY event_type
    """,
    tags=("source", "parquet", "zorder", "scale"),
)
def scan_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout + 2-D pruned scan, end-to-end: write
    `events` z-ordered on (user_id, value) via
    :func:`write_zordered_table`, read it back with a predicate on
    BOTH dimensions, and aggregate the survivors. Results are
    layout-independent (the oracle reads the original table); the
    I/O-side row-group skipping is asserted separately in
    tests/test_sources.py. Extends the physical-layout story to its
    fourth lever: hash index -> ``write_bucketed_table``, tree index
    -> ``write_sorted_table``, date partitioning ->
    ``scan_partition_pruned``, multi-dimensional clustering -> this.
    (The predicate matches rows at sf0.01+; sf0.001's user_id range
    tops out at 14, below the demo window.)"""
    from pyspark.sql import functions as F

    from rdbms_scala_spark.catalog import load_table

    root = _events_layout(
        spark,
        sf_dir,
        "events_zordered",
        lambda root: write_zordered_table(
            load_table(spark, sf_dir, "events"), root, ["user_id", "value"]
        ),
    )
    pruned = spark.read.parquet(root).filter(
        F.col("user_id").between(100, 200) & F.col("value").between(10.0, 20.0)
    )
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_value"),
    )


def compact_small_files(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files
    of ~``target_file_bytes`` and return the output file count.

    The 100 TB housekeeping operator: streaming ingests and
    fine-grained partitions accumulate kilobyte-scale files whose
    per-file open/footer cost dominates scans. Sizing uses the actual
    on-disk bytes (not a row-count guess) and `coalesce` — a
    shuffle-free repartitioning that only merges (never splits)
    existing partitions, so compaction reads each source file once
    and writes sequentially."""
    import math
    import os

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, fnames in os.walk(src_dir)
        for f in fnames
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src_dir).coalesce(n_files).write.mode("overwrite").parquet(dest_dir)
    return sum(f.endswith(".parquet") for f in os.listdir(dest_dir))


# ---------------------------------------------------------------------------
# bucketed co-located join (the persistent hash-index analog, as a gate row)

def _bucketed_orders_lineitem(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Materialize `orders` and `lineitem` as bucketed managed tables
    on the join key, a session relation (of the two table names) so
    repeated calls (driver gate + bench warm/timed passes) pay the
    layout write once. Tables are dropped at interpreter exit — a
    managed-table DROP removes the warehouse files, so repeated
    applications don't accrete copies.

    Bucket count is derived from the fact table's size (~1M lineitem
    rows per bucket, floor 8): bucket count CAPS the join's
    parallelism (one task per bucket, no AQE splitting), so a count
    right-sized for a gate-scale table would serialize a 100 TB one —
    at production scale you'd size to ~2-3x total executor cores, the
    same rule as shuffle partitions. Both sides MUST share the count:
    Spark shuffles the smaller side when counts differ, which is the
    exchange this layout exists to delete."""
    o_name, l_name = session_relation(
        spark,
        "bucketed_orders_lineitem",
        sf_dir,
        ("orders", "lineitem"),
        lambda: _write_bucketed_orders_lineitem(spark, sf_dir),
    )
    return spark.table(o_name), spark.table(l_name)


def _write_bucketed_orders_lineitem(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import atexit
    import hashlib
    import math
    import os

    from rdbms_scala_spark.catalog import load_table

    n_buckets = max(8, min(64, math.ceil(load_table(spark, sf_dir, "lineitem").count() / 1_000_000)))
    # Name includes the application id (like _scratch_dir's keying):
    # two concurrent processes share the cwd spark-warehouse, and
    # sf-only names would let one process's pre-clean delete the
    # other's LIVE table files mid-scan.
    import re as _re

    app = _re.sub(r"\W", "_", spark.sparkContext.applicationId)[-12:]
    suffix = f"{hashlib.md5(sf_dir.rstrip('/').encode()).hexdigest()[:10]}_{app}"
    o_name, l_name = f"b_orders_{suffix}", f"b_lineitem_{suffix}"

    def _drop() -> None:
        for t in (o_name, l_name):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass  # session already stopped; nothing to clean

    # A killed process (no atexit) leaves the managed-table LOCATION on
    # disk while the new session's catalog has no such table —
    # saveAsTable then fails with LOCATION_ALREADY_EXISTS. Clear both
    # the catalog entry and any stale location before writing.
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (o_name, l_name):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        stale = os.path.join(warehouse, t)
        if os.path.exists(stale):
            shutil.rmtree(stale, ignore_errors=True)

    write_bucketed_table(
        load_table(spark, sf_dir, "orders"),
        o_name,
        bucket_by=["o_orderkey"],
        num_buckets=n_buckets,
        sort_by=["o_orderkey"],
    )
    write_bucketed_table(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        l_name,
        bucket_by=["l_orderkey"],
        num_buckets=n_buckets,
        sort_by=["l_orderkey"],
    )
    atexit.register(_drop)
    return o_name, l_name


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY priority
    ORDER BY priority
    """,
    tags=("join", "bucketed", "layout", "scale", "S2"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over CO-LOCATED bucketed layouts: both sides are
    bucketed (and bucket-sorted) on the join key, so the sort-merge
    join runs with ZERO exchange on either side — each task merges
    bucket i of orders with bucket i of lineitem in place. This is
    the persistent, distributed analog of the reference's hash index
    (Microbase.scala:994-1006): the hash is baked into the file
    layout once at write time and every subsequent join on the key
    rides it for free. At 100 TB this is THE lever for repeated
    fact-fact joins too big to broadcast and too hot to re-shuffle
    per query (the shuffle this avoids is the largest single cost in
    the plan). The only exchange left in the whole plan is the tiny
    post-join re-aggregation on `o_orderpriority` (5 groups).
    tests/test_plans.py pins exactly that plan shape; the merge hint
    forces SMJ so a broadcast can't mask a layout regression."""
    from pyspark.sql import functions as F

    bo, bl = _bucketed_orders_lineitem(spark, sf_dir)
    joined = bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey)
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("priority")
    )


@register(
    "csv_corrupt_records",
    oracle="""
    SELECT count(*) FILTER (WHERE n_nationkey % 7 <> 3) AS n_parsed,
           count(*) FILTER (WHERE n_nationkey % 7 = 3) AS n_corrupt,
           CAST(sum(n_regionkey) FILTER (WHERE n_nationkey % 7 <> 3) AS BIGINT)
               AS region_sum_parsed
    FROM nation
    """,
    tags=("source", "csv", "quality", "S1"),
)
def csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on the CSV ingest path — the
    data-quality surface a 100 TB crawl drop needs: a deterministic
    fraction of `nation`'s CSV rows (every 7th key) is rewritten as
    garbage that cannot parse under the declared schema, and the scan
    runs in PERMISSIVE mode with a ``_corrupt_record`` column — bad
    rows surface as data (countable, quarantinable) instead of
    killing the job (FAILFAST) or vanishing silently (DROPMALFORMED).
    At scale the quarantine column is written to a side table for
    replay after the upstream fix; Spark's ``badRecordsPath`` option
    is the file-level equivalent. The oracle derives the expected
    parsed/corrupt split and the clean-row aggregate analytically
    from the corruption pattern."""
    import os

    from pyspark.sql import functions as F

    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    lines = nation.select(
        F.when(
            F.col("n_nationkey") % 7 == 3,
            F.concat(F.lit("<<corrupt"), F.col("n_name"), F.lit("||not_an_int")),
        )
        .otherwise(
            F.concat_ws(
                "|", F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey")
            )
        )
        .alias("value")
    )
    scratch = _scratch_dir(spark, sf_dir, "csv_corrupt")
    lines.coalesce(1).write.mode("overwrite").text(scratch)
    parsed = (
        spark.read.schema(
            "n_nationkey bigint, n_name string, n_regionkey bigint, "
            "_corrupt_record string"
        )
        .option("sep", "|")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(scratch)
    )
    return parsed.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_parsed"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_regionkey"))
        ).alias("region_sum_parsed"),
    )


def _dsv2_session(spark: SparkSession) -> SparkSession:
    """DSv2-parquet session clone: routing parquet through the v2
    source enables footer-level AGGREGATE pushdown, which the default
    v1 path never does; kept in a clone (shared session_clone helper)
    so the source routing doesn't change other queries' plan shapes."""
    from rdbms_scala_spark.session import session_clone

    return session_clone(
        spark,
        "dsv2",
        {
            "spark.sql.sources.useV1SourceList": "",
            "spark.sql.parquet.aggregatePushdown": "true",
        },
    )


@register(
    "scan_metadata_count",
    oracle="""
    SELECT count(*) AS n_rows,
           min(l_orderkey) AS min_key,
           max(l_orderkey) AS max_key
    FROM lineitem
    """,
    tags=("scan", "pushdown", "metadata", "scale"),
)
def scan_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY aggregation: COUNT/MIN/MAX answered from parquet
    footer statistics without decoding a single data page —
    ``PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]``
    lands in the scan node (pinned by tests/test_plans.py). At 100 TB
    this is the difference between a row-count/freshness probe costing
    one footer read per file and costing a full table scan — the
    cheapest query class there is, and the reason engines keep
    row-group statistics at all (the same footer min/max that powers
    the sorted/z-order skipping layouts). Requires the DSv2 parquet
    path (see _dsv2_session); falls back transparently to a normal
    one-pass aggregate when pushdown can't apply (filters present,
    nested columns)."""
    import os

    from pyspark.sql import functions as F

    li = _dsv2_session(spark).read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


def _schema_evolution_layout(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet batches with EVOLVED schemas under one scratch
    root: batch a (even order keys) predates the ``o_orderstatus``
    column; batch b (odd keys) carries it — the append-only schema
    widening every long-lived ingest dataset accumulates."""
    import os

    from pyspark.sql import functions as F

    def build() -> str:
        root = _scratch_dir(spark, sf_dir, "schema_merge")
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
        ).write.mode("overwrite").parquet(os.path.join(root, "batch=a"))
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "o_orderstatus",
        ).write.mode("overwrite").parquet(os.path.join(root, "batch=b"))
        return root

    return session_relation(spark, "schema_merge_layout", sf_dir, "orders", build)


@register(
    "scan_schema_merge",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(round(o_totalprice, 2)), 2) AS total_price
    FROM orders
    GROUP BY 1
    ORDER BY o_orderstatus NULLS FIRST
    """,
    tags=("scan", "schema-evolution", "source"),
)
def scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (``mergeSchema``): two parquet batches
    written at different schema epochs — the older one lacks
    ``o_orderstatus`` entirely — scan as ONE relation whose schema is
    the union, with the missing column NULL-filled for old files.
    This is the append-only widening path every long-lived dataset
    takes (add a column, never rewrite history); the aggregate pins
    that old-batch rows surface as NULL status and every row of both
    epochs arrives exactly once.

    Scale note: mergeSchema reconciles footers at planning time —
    cost scales with file COUNT, not data size, so at 100 TB you
    either pin the merged schema explicitly in the reader (schema
    evolution resolved once, stored in a catalog) or keep per-epoch
    manifests (`SnapshotStore`); the per-query footer sweep here is
    the zero-infrastructure form."""
    from pyspark.sql import functions as F

    root = _schema_evolution_layout(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_first())
    )


@register(
    "scan_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
        SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                                      INTERVAL 1 DAY)) AS day
    ),
    campaigns AS (
        SELECT CAST(day AS DATE) AS day,
               CASE WHEN substr(md5(CAST(CAST(day AS DATE) AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3')
                    THEN 'launch' ELSE 'none' END AS campaign
        FROM dim
    )
    SELECT strftime(e.ts, '%Y-%m-%d') AS event_date,
           e.event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events e
    JOIN campaigns c ON CAST(e.ts AS DATE) = c.day
    WHERE c.campaign = 'launch'
    GROUP BY 1, 2
    ORDER BY event_date, event_type
    """,
    tags=("source", "parquet", "partitioning", "dpp", "scale"),
)
def scan_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the date-partitioned
    events layout from `scan_partition_pruned`, the dim side is a
    MATERIALIZED campaign-calendar parquet filtered on an attribute
    (``campaign = 'launch'``) that is opaque to static analysis — so
    the ONLY way the fact scan can skip directories is Spark's DPP
    subquery: at runtime the filtered dim's join keys are broadcast
    and injected into the scan's PartitionFilters as a
    ``dynamicpruningexpression`` (pinned in tests/test_plans.py).
    This is the standard star-schema pruning path at 100 TB — the
    static variant (`scan_partition_pruned`) only covers predicates
    known at plan time; dim-driven ones (campaign tables, dim_date
    attributes) need DPP. The dim is written to parquet (not left as
    a LocalRelation) precisely because constraint propagation would
    otherwise rewrite a derivable filter onto the key statically and
    the demo would measure the wrong mechanism.

    ~4/16 of days carry the campaign marker (md5 first hexit), so the
    fact scan lists ~a quarter of the day directories."""
    from pyspark.sql import functions as F

    def write_dim(root: str) -> None:
        dim = spark.sql(
            "SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-31')) AS day"
        ).select(
            "day",
            F.when(
                F.substring(F.md5(F.col("day").cast("string")), 1, 1).isin(
                    "0", "1", "2", "3"
                ),
                "launch",
            )
            .otherwise("none")
            .alias("campaign"),
        )
        write_parquet(dim, root)

    fact = spark.read.parquet(_events_partitioned(spark, sf_dir))
    campaigns = spark.read.parquet(
        _events_layout(spark, sf_dir, "campaign_dim", write_dim)
    ).filter(F.col("campaign") == "launch")
    return (
        fact.join(
            F.broadcast(campaigns), fact.event_date == campaigns.day
        )
        .groupBy(
            F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_date", "event_type")
    )


# ---------------------------------------------------------------------------
# Round 11: custom Python data source (Spark 4's pyspark.sql.datasource
# API, SPARK-44076) — the extension point that replaces "write an RDD
# and hope" for bespoke feeds (internal wire formats, synthetic load
# generators, API paginators). The demo source is a deterministic
# partitioned spine, so the oracle can replay it arithmetically and
# the PARTITIONED read path (one generator per InputPartition, running
# in parallel tasks) is what's actually certified.


_SPINE_ROWS = 10_000
_SPINE_PARTS = 8


def _register_spine_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SpineReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(p) for p in range(_SPINE_PARTS)]

        def read(self, partition):
            # Knuth multiplicative hash on a contiguous id slice:
            # pure int64 arithmetic, so every engine replays it.
            per = _SPINE_ROWS // _SPINE_PARTS
            lo = partition.value * per
            hi = _SPINE_ROWS if partition.value == _SPINE_PARTS - 1 else lo + per
            for i in range(lo, hi):
                yield (i, i % 7, (i * 2654435761) % 100000)

    class SpineDataSource(DataSource):
        @classmethod
        def name(cls):
            return "demo_spine"

        def schema(self):
            return "id bigint, bucket int, val_q bigint"

        def reader(self, schema):
            return _SpineReader()

    spark.dataSource.register(SpineDataSource)


@register(
    "source_python_datasource",
    oracle=f"""
    WITH spine AS (
        SELECT i AS id, i % 7 AS bucket, (i * 2654435761) % 100000 AS val_q
        FROM generate_series(0, {_SPINE_ROWS - 1}) AS t(i)
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(val_q) AS BIGINT) AS total_q,
           CAST(min(id) AS BIGINT) AS first_id,
           CAST(max(id) AS BIGINT) AS last_id
    FROM spine GROUP BY bucket ORDER BY bucket
    """,
    tags=("source", "python-datasource", "sql-surface"),
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through a CUSTOM Python data source (Spark 4
    `pyspark.sql.datasource.DataSource`, registered per session):
    the source splits a deterministic Knuth-hash spine into
    8 InputPartitions (_SPINE_PARTS) — each partition generates its id
    slice inside its own task, certifying the parallel read path, the
    Arrow hand-off from the Python generator, and schema declaration
    — then the query aggregates per bucket so a dropped or duplicated
    partition cannot hide (counts, sums, and id extremes all pin it).
    The DuckDB oracle replays the spine arithmetically.

    Reference scope: the reference's only ingest is its eager CSV
    loader (Microbase.scala:950-983); this is the modern extension
    point a Spark user swaps in for bespoke feeds. At 100 TB a real
    source implements `partitions()` from its native split metadata
    (files, shards, key ranges) so Spark schedules one task per
    split — exactly the shape demonstrated here."""
    from pyspark.sql import functions as F

    _register_spine_source(spark)
    df = spark.read.format("demo_spine").load()
    return (
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val_q").alias("total_q"),
            F.min("id").alias("first_id"),
            F.max("id").alias("last_id"),
        )
        .orderBy("bucket")
    )
