"""SparkSession factory with scale-oriented defaults.

Replaces the reference's process setup (a bare REPL over a global
in-memory catalog, Microbase.scala:942-949). Configuration choices
are made for a large cluster and merely *sized down* for local mode:

- AQE on (runtime join-strategy changes, partition coalescing, skew
  join splitting) — the knobs that matter most at 100 TB.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this would be ~2-3x total executor cores (AQE
  coalesces down, so erring high is safe).
- Arrow enabled for the Pandas-UDF paths (dedup/similarity/multimodal).
- Session timezone pinned to UTC so date/timestamp semantics match the
  DuckDB oracle regardless of host timezone.
- Driver memory defaults to half the host's RAM, at most 24g.

The module also keeps the session's derived relations in one cache
(``session_relation``, ``stats``, ``evict``), the single-session form
of Spark SQL's CacheManager. Builders hand the cache lazy plans; the
cache decides how they are materialized (``materialize``) and when
they are rebuilt or dropped.
"""

from __future__ import annotations

import os
import threading
import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

from rdbms_scala_spark.catalog import table_fingerprint

T = TypeVar("T")


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "*")


def _driver_mem() -> str:
    """Half the host's physical RAM, at most 24g: the driver shares the
    host with its Python workers (and, in tests, DuckDB)."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(24 * 1024, phys // 2 // 2**20)}m"


def get_spark(app_name: str = "rdbms_scala_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]``
    when unset). On a real cluster the caller passes the cluster
    master / relies on spark-submit; every other config below is
    cluster-appropriate as-is.
    """
    cpus = _cpus()
    shuffle_parts = str(os.cpu_count() or 32) if cpus == "*" else cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- optimizer / runtime re-planning -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # (runtime bloom-filter join pruning — the row-level filter
        # that matters for fact-fact joins at 100 TB — is ON by
        # default in this Spark line; enabling the experimental
        # semi-join-reduction variant was measured to hang local
        # runs, so only defaults are relied on here)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        # --- IO ------------------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Scan-split packing weight per file (guide §6): Spark sizes
        # splits at min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes / minPartitionNum)), so the DEFAULT 4 MB open
        # cost — spinning-disk seek economics — floors every split at
        # 4 MB and caps a small table's scan parallelism at
        # size/4 MB tasks regardless of core count (an 11 MB input
        # scans as 3 tasks on 32 cores; measured r15: the sketch-stats
        # md5 pass ran 2.1 s on 3 of 32 cores). 512 KB reflects
        # NVMe/page-cache open latency; at 100 TB splits are
        # maxPartitionBytes-bound and this knob is inert — it only
        # governs how far a SMALL input fans out.
        .config("spark.sql.files.openCostInBytes", "524288")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise rejected;
        # read as long and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- python interop ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python UDTFs default to the row-at-a-time pickle evaluator
        # (BatchEvalPythonUDTF); route them through Arrow like every
        # other Python path (plan shows ArrowEvalPythonUDTF) — flagged
        # by scripts/plan_audit.py's row-Python sweep.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # --- semantics -----------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Standard (non-ANSI) SQL mode: the correctness oracle is DuckDB,
        # whose arithmetic matches Spark's legacy mode for the surface we
        # expose (e.g. x/0 -> NULL is not exercised; overflow wraps are not
        # exercised). Keeping ANSI off avoids runtime errors on edge rows.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_mem()))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SESSION_CLONES: dict[tuple[str, str], SparkSession] = {}


def session_clone(spark: SparkSession, tag: str, confs: dict[str, str]) -> SparkSession:
    """Memoized per-(application, tag) session clone with conf
    overrides — for queries that need session-scoped knobs (runtime
    bloom thresholds, DSv2 source routing) without perturbing every
    other query's plans. One clone per tag per application, reused
    across invocations so repeat callers (driver gate + bench passes)
    don't accumulate SQLConf/listener state in the JVM; stale entries
    from previous applications are dropped (at most one live
    application per process)."""
    key = (spark.sparkContext.applicationId, tag)
    s2 = _SESSION_CLONES.get(key)
    if s2 is None:
        s2 = spark.newSession()
        for k, v in confs.items():
            s2.conf.set(k, v)
        for stale in [k for k in _SESSION_CLONES if k[0] != key[0]]:
            del _SESSION_CLONES[stale]
        _SESSION_CLONES[key] = s2
    return s2


_RELATIONS: dict[tuple, tuple[str, object]] = {}
_COUNTS = {"hits": 0, "misses": 0, "build_s": 0.0}
_LOCK = threading.Lock()  # guards _RELATIONS and _COUNTS, never a build


def _checkpoint_rdd(df):
    """The JVM RDD holding a localCheckpoint DataFrame's blocks (the
    RDD its ``LogicalRDD`` scans), or None when ``df`` is not a
    materialized checkpoint. (``queryExecution().toRdd()`` is a fresh
    map over that RDD, so unpersisting it frees nothing.)"""
    from py4j.protocol import Py4JError

    try:
        rdd = df._jdf.queryExecution().logical().rdd()
        return rdd if rdd.isCheckpointed() else None
    except Py4JError:
        return None  # a lazy plan: ContextCleaner reclaims it


def _checkpoint_rdds(value: object):
    """The checkpoint RDDs of the DataFrames in a cached value."""
    from pyspark.sql import DataFrame

    for item in value if isinstance(value, tuple) else (value,):
        if isinstance(item, DataFrame):
            rdd = _checkpoint_rdd(item)
            if rdd is not None:
                yield rdd


def materialize(value: T) -> T:
    """The session's materialization policy: every DataFrame in
    ``value`` (one value or a tuple of them) that is not already a
    checkpoint becomes an eager ``localCheckpoint``; anything else
    passes through. ``session_relation`` applies it to every value it
    stores, so builders return lazy plans. A builder calls it itself
    only for an intermediate that a second returned relation derives
    from, which would otherwise be computed twice."""
    from pyspark.sql import DataFrame

    def one(item):
        if isinstance(item, DataFrame) and _checkpoint_rdd(item) is None:
            return item.localCheckpoint(eager=True)
        return item

    if isinstance(value, tuple):
        return tuple(one(item) for item in value)
    return one(value)


def _unpersist(value: object) -> None:
    from py4j.protocol import Py4JError

    for rdd in _checkpoint_rdds(value):
        try:
            rdd.unpersist(False)
        except Py4JError:
            pass  # its application has stopped


def session_relation(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    table: str | tuple[str, ...],
    build: Callable[[], T],
    *params: object,
) -> T:
    """The session's one cache of derived relations: return
    ``build()``'s value for (application, ``kind``, ``sf_dir``,
    ``params``), building it on the first call.

    Values are what a session pays for once and reads many times:
    DataFrames, tuples holding them (MinHash signatures + candidates,
    BPE merges + word types), or the names and roots of on-disk
    layouts. ``build`` returns lazy plans and the cache materializes
    them: on a miss every DataFrame in the value that is not already a
    checkpoint is replaced by its eager ``localCheckpoint``
    (``materialize``) before it is stored. A hit returns the identical
    object.

    Staleness contract: an entry is valid only while the file
    fingerprint (sizes + mtimes) of ``table`` under ``sf_dir`` is
    unchanged. Overwriting the table under the same path rebuilds the
    entry, and the superseded value's checkpoints are unpersisted
    first; the rebuild's ``catalog.load_table`` scans the new files
    under the same rule. Inserting an entry drops every entry of an
    earlier application (at most one live application per process, as
    in ``session_clone``)."""
    app = spark.sparkContext.applicationId
    key = (app, kind, sf_dir.rstrip("/"), params)
    fp = table_fingerprint(sf_dir, *((table,) if isinstance(table, str) else table))
    with _LOCK:
        hit = _RELATIONS.get(key)
        if hit is not None and hit[0] == fp:
            _COUNTS["hits"] += 1
            return hit[1]
        _COUNTS["misses"] += 1
        _RELATIONS.pop(key, None)
    if hit is not None:
        _unpersist(hit[1])
    t0 = time.perf_counter()
    value = materialize(build())
    with _LOCK:
        _COUNTS["build_s"] += time.perf_counter() - t0
        stale = [_RELATIONS.pop(k)[1] for k in list(_RELATIONS) if k[0] != app]
        _RELATIONS[key] = (fp, value)
    for old in stale:
        _unpersist(old)
    return value


def stats() -> dict:
    """Counters of the session-relation cache: live entries and their
    kinds, lookups served (``hits``) and built (``misses``), seconds
    spent building, and the bytes the block manager holds for the
    entries' checkpoints (read here, never on the lookup path).

    ``build_s`` sums every build's wall time, so a build nested in
    another (``winnow_raw`` inside ``winnow_capped``, ``doc_shingles``
    inside ``minhash_sig_cand``) is counted twice: once as its own
    build and once inside the outer one."""
    from pyspark import SparkContext

    with _LOCK:
        entries, counts = dict(_RELATIONS), dict(_COUNTS)
    ids = {rdd.id() for _fp, value in entries.values() for rdd in _checkpoint_rdds(value)}
    sc = SparkContext._active_spark_context
    cached = 0
    if ids and sc is not None:
        for info in sc._jsc.sc().getRDDStorageInfo():
            if info.id() in ids:
                cached += info.memSize() + info.diskSize()
    return {
        "entries": len(entries),
        "kinds": sorted({k[1] for k in entries}),
        **counts,
        "cached_bytes": cached,
    }


def evict() -> None:
    """Drop every entry of the session-relation cache, unpersisting
    its checkpoints."""
    with _LOCK:
        values = [value for _fp, value in _RELATIONS.values()]
        _RELATIONS.clear()
    for value in values:
        _unpersist(value)


def evict_session_relations(spark: SparkSession) -> None:
    """Drop every session-materialized relation: all entries of the
    session-relation cache (see ``session_relation``) and everything
    in the SQL cache manager, then nudge a JVM GC.

    Long sessions call it at stage boundaries, e.g. perfbench at the
    end of each corpus job. Checkpoint blocks accumulated over a
    session raise executor GC pressure, and rows timed late in a long
    session ran ~20% slower than in isolation (BASELINE.md's
    cache-residency note). After eviction the next
    stage rebuilds only what it reads."""
    evict()
    spark.catalog.clearCache()
    # Dropping references does not free JVM blocks (per-query
    # broadcast variables, e.g. four per two_phase_skew_join pass):
    # ContextCleaner reclaims them only after a driver GC collects
    # their stubs, and periodicGC defaults to 30 min. Nudge one so the
    # next stage runs against a clean heap (round-12 bisect: broadcast
    # residue inflated same-block join rows 15-100%).
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # non-JVM-backed session stubs (mocks) lack _jvm
