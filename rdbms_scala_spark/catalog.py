"""Catalog: named tables over Parquet (and CSV) files.

Replaces the reference's global mutable catalog + eager in-heap
storage (``hm``/``hashData``, Microbase.scala:29-30, 950-983) with
lazy columnar scans registered as temp views. Nothing is materialized
at registration time — Catalyst prunes columns and pushes predicates
into the Parquet scan, which is the distributed analog of the
reference's hash/tree indexes (Microbase.scala:994-1024): row-group
min/max skipping answers the same range predicates the tree index
served, without a per-table build step.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

#: The driver's TPC-H-ish star schema plus the extension tables.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_fingerprint(sf_dir: str, *names: str) -> str:
    """Cheap driver-side modification fingerprint of parquet tables:
    (path, size, mtime_ns) of every data file under them, hashed.
    Detects a table overwritten under the same path without reading
    any data."""
    parts: list[str] = []
    for name in names:
        root = table_path(sf_dir, name)
        if os.path.isdir(root):
            for dirpath, _dirs, files in os.walk(root):
                for f in files:
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    parts.append(f"{p}|{st.st_size}|{st.st_mtime_ns}")
        elif os.path.exists(root):
            st = os.stat(root)
            parts.append(f"{root}|{st.st_size}|{st.st_mtime_ns}")
    # os.walk's order is filesystem-dependent: sort so an identical
    # on-disk table always fingerprints the same.
    parts.sort()
    return hashlib.md5("\n".join(parts).encode()).hexdigest()


#: Memoized scans, (fingerprint, DataFrame) per (application, dir,
#: table): rebuilding the same scan re-reads Parquet footers and
#: re-crosses the Py4J boundary (~100ms/table — dominates multi-table
#: query build time). DataFrames are immutable plans, so sharing one
#: is safe; Spark's cache manager then also recognizes repeated plans
#: for SQL-cache reuse. A scan pins the file listing of its first read,
#: so an entry is valid only while the table's fingerprint is
#: unchanged: a table rewritten in place is scanned again.
_df_memo: dict[tuple[str, str, str], tuple[str, DataFrame]] = {}


def clear_table_memo() -> None:
    """Drop all memoized scans, freeing their plans."""
    _df_memo.clear()


def ensure_nanos_conf(spark: SparkSession) -> None:
    """``events.ts`` is Parquet TIMESTAMP(NANOS), which Spark rejects
    outright unless ``spark.sql.legacy.parquet.nanosAsLong`` is set.
    Our session factory sets it, but the driver hands us *its* session
    — the conf is runtime-settable, so set it defensively here.

    The session timezone is pinned to UTC for the same reason: the
    table's timestamps are naive instants and the DuckDB oracle
    truncates/windows them in UTC — a non-UTC driver session would
    shift every date_trunc/window boundary."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # noqa: BLE001 — best-effort on foreign sessions
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy Parquet scan of one table (memoized per session+path while
    the table's fingerprint is unchanged).

    ``events.ts`` is read as a nanosecond long (see
    ``ensure_nanos_conf``); convert to a microsecond timestamp by
    integer division so truncation matches DuckDB's ns->us cast.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events":
        ensure_nanos_conf(spark)
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    fp = table_fingerprint(sf_dir, name)
    hit = _df_memo.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # timezone-less Parquet TIMESTAMP(MICROS) infers as TIMESTAMP_NTZ
        # under Spark 4; unix_micros & co. require TIMESTAMP. The session
        # timezone is pinned to UTC (ensure_nanos_conf), so the explicit
        # NTZ->LTZ cast is instant-preserving and ANSI-legal.
        ensure_nanos_conf(spark)
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    # at most one live application per process, as in session_relation
    for stale in [k for k in list(_df_memo) if k[0] != app]:
        _df_memo.pop(stale, None)
    _df_memo[key] = (fp, df)
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    names: tuple[str, ...] = TABLES,
) -> dict[str, DataFrame]:
    """Load tables and register them as temp views so the SQL surface
    (``spark.sql``) sees the same names as the DataFrame surface.
    Missing files are skipped so callers can work against partial
    directories.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
