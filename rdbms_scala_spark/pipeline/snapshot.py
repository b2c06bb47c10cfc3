"""Keyed-snapshot maintenance: MERGE/upsert without a table format.

The lakehouse MERGE INTO pattern (update matched keys, insert new
ones) expressed as plain Spark primitives — the maintenance operator a
100 TB corpus needs between full rebuilds (nightly metadata refreshes,
late-arriving corrections, incremental crawl batches). The reference
has no DML at all beyond CREATE TABLE (Microbase.scala:950-983); this
is a north-star extension.

Scale shape (the docstrings below pin the specifics): the merge itself
is one anti-join — broadcast when the update batch is small, the
overwhelmingly common case — plus a union; neither touches the base
table's payload columns with any shuffle. Landing the result uses
dynamic partition overwrite so only partitions that actually contain
touched keys are rewritten.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.registry import register
from rdbms_scala_spark.session import session_relation


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    validate_unique: bool = False,
) -> DataFrame:
    """MERGE semantics over DataFrames: every ``updates`` row wins over
    the same-key ``base`` row (matched -> replaced), unmatched update
    keys are inserted, untouched base rows pass through. Columns must
    align (unionByName).

    Spark-first shape: ``base LEFT ANTI JOIN updates ON keys`` keeps
    the survivors, then ``UNION ALL updates`` — ONE pass over the base
    table. The batch is broadcast (update batches are orders of
    magnitude smaller than the snapshot), so the anti-join is
    map-only and the whole merge is shuffle-free over the base. At
    100 TB, land the result with dynamic partition overwrite
    (``spark.sql.sources.partitionOverwriteMode=dynamic`` +
    ``write_parquet(partition_by=...)``): only partitions containing a
    touched key get rewritten, the rest of the snapshot is never read
    or written. A full-outer-join formulation would shuffle every
    payload column of both sides on the key for the same result —
    strictly worse.

    ``updates`` is referenced TWICE in the plan (anti-join build side
    + union branch) and Spark re-evaluates its lineage both times; if
    deriving the batch is expensive (filtered from the base table,
    remote reads), materialize it first — ``.localCheckpoint(True)``
    beats ``.cache()`` for one-shot merges because checkpoint blocks
    are released when the DataFrame is garbage-collected, while cache
    entries pin the CacheManager until an explicit unpersist. The
    registered ``pipeline_upsert_snapshot`` demo does exactly this.

    PRECONDITION — ``updates`` must be unique on ``keys``. SQL
    ``MERGE INTO`` raises on multiple source matches for one target
    row; this operator instead emits BOTH duplicate rows (the
    anti-join drops the base row once, the union appends every
    duplicate), silently diverging from MERGE semantics. Pass
    ``validate_unique=True`` to fail fast instead — one cheap
    aggregate over the (small) batch.
    """
    if validate_unique:
        dup = (
            updates.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"merge_upsert: updates batch has multiple rows for key "
                f"{dict((k, dup[0][k]) for k in keys)}; MERGE requires a "
                "unique source key — dedupe the batch first"
            )
    return base.join(F.broadcast(updates), keys, "left_anti").unionByName(updates)


@register(
    "pipeline_upsert_snapshot",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               round(o_totalprice + 1000.0, 2) AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT (SELECT max(o_orderkey) FROM orders) + x AS o_orderkey,
               'N' AS o_orderstatus, 100.0 AS o_totalprice
        FROM generate_series(1, 5) t(x)
    ),
    merged AS (
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM updates
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM merged
    """,
    tags=("pipeline", "merge", "upsert", "scale"),
)
def pipeline_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert gate entry: apply a deterministic update batch to
    the orders snapshot — every 10th key's status flips to 'U' with a
    1000.0 price bump (the UPDATE path — an exact-in-double addition,
    so cross-engine rounding agrees; a multiplicative bump lands on
    .005 boundaries where Spark and DuckDB round differently) and
    five brand-new keys append (the INSERT path) — and return the
    full merged snapshot, so the oracle certifies all three row fates
    (replaced / inserted / passed through) row-by-row. See
    :func:`merge_upsert` for the scale shape."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    return merge_upsert(
        orders, _standard_merge_batch(spark, sf_dir), keys=["o_orderkey"], validate_unique=True
    )


def _standard_merge_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard MERGE batch over `orders` (see
    pipeline_upsert_snapshot): every 10th key updated, five keys
    inserted."""
    modified = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
        )
    )
    inserted = (
        load_table(spark, sf_dir, "orders")
        .agg(F.max("o_orderkey").alias("mk"))
        .select(F.explode(F.sequence(F.col("mk") + 1, F.col("mk") + 5)).alias("o_orderkey"))
        .select(
            "o_orderkey",
            F.lit("N").alias("o_orderstatus"),
            F.lit(100.0).alias("o_totalprice"),
        )
    )
    # The batch is DERIVED from the base table, and merge_upsert
    # references it twice (anti-join build side + union branch):
    # without materialization Spark re-evaluates the lineage at every
    # reference and the plan scans orders 5x. localCheckpoint (eager)
    # collapses the batch to a materialized RDD so the merge plan
    # scans orders exactly once — and unlike .cache() the blocks are
    # GC-released, so repeated invocations don't accumulate
    # CacheManager state.
    return modified.unionByName(inserted).localCheckpoint(eager=True)


class SnapshotStore:
    """Minimal versioned table: each ``commit`` writes a new immutable
    parquet version dir and atomically publishes a one-line JSON
    manifest; ``read(version)`` time-travels to any committed version.

    This is the transaction-log kernel of the lakehouse formats
    (Delta/Iceberg) reduced to its Spark-first essentials: data files
    are immutable once committed, readers resolve a version through
    its manifest only (never by listing data dirs, which can contain
    half-written files), and the manifest publish is an EXCLUSIVE
    atomic link of the fully-written temp file — a reader sees either
    the complete version or nothing. Two racing committers never share
    a version: each claims its data dir exclusively before writing
    (optimistic concurrency, not last-writer-wins). At 100 TB the same
    design holds with the dir claim and the manifest on an
    atomic-create store (HDFS) or a conditional-put (If-None-Match)
    object store; data writes stay fully distributed, only the claim
    and the manifest touch are driver-side and O(1)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        import os

        self.spark = spark
        self.root = root
        self.manifest_dir = os.path.join(root, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    def versions(self) -> list[int]:
        import os

        return sorted(
            int(f[:-5])
            for f in os.listdir(self.manifest_dir)
            if f.endswith(".json")
        )

    def commit(self, df: DataFrame) -> int:
        """Write ``df`` as the next version; returns the version id.
        The committer first claims the data dir ``v{N}`` with an
        exclusive ``mkdir`` (taking N+1 when another committer, or a
        crash orphan, holds N), so no two commits ever write into the
        same dir. The data write lands fully in the claimed dir before
        the manifest publish makes it visible — a crash in between
        leaves an orphan data dir (to be vacuumed), never a readable
        half-version. Publish is an exclusive ``os.link`` of the
        fully-written temp manifest, so a version is never published
        twice — the optimistic-concurrency kernel of Delta's commit
        protocol."""
        import json
        import os

        vs = self.versions()
        v = (vs[-1] + 1) if vs else 0
        while True:
            data_dir = os.path.join(self.root, f"v{v}")
            try:
                os.mkdir(data_dir)
                break
            except FileExistsError:
                v += 1
        # append: the dir is ours and empty; overwrite would delete
        # and recreate it, reopening the claim
        df.write.mode("append").parquet(data_dir)
        tmp = os.path.join(self.manifest_dir, f".{v}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump({"version": v, "path": data_dir}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, os.path.join(self.manifest_dir, f"{v}.json"))
        finally:
            os.unlink(tmp)
        return v

    def read(self, version: int) -> DataFrame:
        """Time-travel read: resolve ``version`` through its manifest."""
        import json
        import os

        path = os.path.join(self.manifest_dir, f"{version}.json")
        if not os.path.exists(path):
            raise ValueError(f"snapshot version {version} does not exist (have {self.versions()})")
        with open(path) as fh:
            return self.spark.read.parquet(json.load(fh)["path"])

    def vacuum(
        self, retain_last: int = 2, orphan_retention_s: float = 24 * 3600
    ) -> dict[str, list[int] | list[str]]:
        """Garbage-collect the store: drop every version older than
        the newest ``retain_last`` (manifest first, THEN data — a
        reader that raced the vacuum sees a missing-version error,
        never a manifest pointing at deleted data), and remove orphan
        data dirs that have no manifest at all (the leftovers of a
        crash between data write and manifest publish, which
        ``commit`` documents). Returns what was removed/kept.

        The orphan sweep only touches dirs whose mtime is older than
        ``orphan_retention_s`` (default 24 h, mirroring Delta/Iceberg
        VACUUM retention): a concurrent IN-FLIGHT commit — data
        written, manifest not yet published — is indistinguishable
        from a crash orphan by listing alone, and the age guard is
        what keeps vacuum from deleting data its manifest is about to
        reference. Pass 0 only when no committer can be live (e.g.
        crash recovery).

        This is the Delta/Iceberg VACUUM kernel: retention-bounded
        time travel. At 100 TB the deletes are batched against the
        object store and the orphan scan is a listing diff — both
        metadata-rate operations; no data is read."""
        import os
        import shutil
        import time

        vs = self.versions()
        keep = set(vs[-retain_last:]) if retain_last > 0 else set()
        removed_versions = []
        for v in vs:
            if v in keep:
                continue
            os.remove(os.path.join(self.manifest_dir, f"{v}.json"))
            shutil.rmtree(os.path.join(self.root, f"v{v}"), ignore_errors=True)
            removed_versions.append(v)
        removed_orphans = []
        now = time.time()
        for d in sorted(os.listdir(self.root)):
            full = os.path.join(self.root, d)
            if d == "_manifest" or not os.path.isdir(full):
                continue
            v = d[1:]
            if not (d.startswith("v") and v.isdigit() and int(v) in keep):
                if now - os.path.getmtime(full) < orphan_retention_s:
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed_orphans.append(d)
        return {
            "kept": sorted(keep),
            "removed_versions": removed_versions,
            "removed_orphans": removed_orphans,
        }


def _demo_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """The shared three-version demo store over `orders`: v0 = the
    base snapshot, v1 = v0 with the standard MERGE batch applied
    (every 10th key updated, five keys inserted), v2 = v1 with a
    deterministic slice deleted (o_orderkey % 97 = 3). A session
    relation; both the time-travel and the CDC-diff gate queries read
    from it."""
    return session_relation(
        spark, "snapshot_demo", sf_dir, "orders", lambda: _build_demo_store(spark, sf_dir)
    )


def _build_demo_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    from rdbms_scala_spark.sources.files import _scratch_dir

    import shutil

    root = _scratch_dir(spark, sf_dir, "snap_store")
    # Wipe whatever a died or superseded build left: resuming would let
    # commit() hand out shifted version numbers and silently change
    # what read(0..2) means.
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotStore(spark, root)
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    store.commit(base)
    store.commit(
        merge_upsert(store.read(0), _standard_merge_batch(spark, sf_dir), keys=["o_orderkey"])
    )
    store.commit(store.read(1).filter(F.col("o_orderkey") % 97 != 3))
    return store


@register(
    "pipeline_snapshot_time_travel",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        FROM orders
    ),
    updates AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               round(o_totalprice + 1000.0, 2) AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT (SELECT max(o_orderkey) FROM orders) + x AS o_orderkey,
               'N' AS o_orderstatus, 100.0 AS o_totalprice
        FROM generate_series(1, 5) t(x)
    ),
    merged AS (
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        UNION ALL
        SELECT * FROM updates
    )
    SELECT 0 AS version, o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM base GROUP BY o_orderstatus
    UNION ALL
    SELECT 1 AS version, o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM merged GROUP BY o_orderstatus
    ORDER BY version, o_orderstatus
    """,
    tags=("pipeline", "snapshot", "timetravel", "scale"),
)
def pipeline_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TIME TRAVEL: commit the orders snapshot as version 0,
    apply the standard MERGE batch (see pipeline_upsert_snapshot) as
    version 1, then read BOTH versions back through their manifests
    and aggregate each — certifying that v0 still serves the
    pre-merge state after v1 lands (immutable versions + manifest
    resolution = reproducible reads, the property training-data
    pipelines need to pin "the corpus as of run X" while ingestion
    keeps committing). The oracle recomputes both versions' aggregates
    from the raw table and the merge definition."""
    store = _demo_store(spark, sf_dir)

    versions = []
    for v in (0, 1):
        versions.append(
            store.read(v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .select(F.lit(v).alias("version"), "o_orderstatus", "n_orders", "total_price")
        )
    return versions[0].unionByName(versions[1]).orderBy("version", "o_orderstatus")


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """CDC between two snapshots: one row per changed key with
    ``op`` in (insert, update, delete) and the NEW payload (NULL for
    deletes) — the change feed a downstream incremental consumer
    (index refresh, dedup store, feature cache) applies instead of
    re-reading the whole snapshot.

    Spark-first shape: ONE full outer join on the key, then a
    null-safe payload comparison (``<=>``) classifies each key;
    unchanged keys — the overwhelming majority between adjacent
    versions — are dropped before anything downstream runs. At
    100 TB both sides shuffle once on the key (or zero times if the
    snapshots share a bucketed layout — see join_bucketed_colocated);
    payload comparison is per-row, map-side. Emitting old values too
    would just mean keeping the left columns."""
    payload = [c for c in new.columns if c not in keys]
    o = old.select([F.col(c).alias(f"__o_{c}") for c in old.columns])
    cond = None
    for k in keys:
        c = o[f"__o_{k}"] == new[k]
        cond = c if cond is None else cond & c
    joined = o.join(new, cond, "full_outer")
    # Keys-only snapshots (presence tables) have no payload: every
    # surviving key is unchanged by definition, so only membership
    # changes classify.
    changed = F.lit(False)
    for c in payload:
        changed = changed | ~(o[f"__o_{c}"].eqNullSafe(new[c]))
    op = (
        F.when(o[f"__o_{keys[0]}"].isNull(), F.lit("insert"))
        .when(new[keys[0]].isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "op",
            *[F.coalesce(new[k], o[f"__o_{k}"]).alias(k) for k in keys],
            *[new[c].alias(c) for c in payload],
        )
    )


@register(
    "pipeline_snapshot_diff",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        FROM orders
    ),
    updates AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               round(o_totalprice + 1000.0, 2) AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT (SELECT max(o_orderkey) FROM orders) + x AS o_orderkey,
               'N' AS o_orderstatus, 100.0 AS o_totalprice
        FROM generate_series(1, 5) t(x)
    ),
    merged AS (
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        UNION ALL
        SELECT * FROM updates
    ),
    v2 AS (SELECT * FROM merged WHERE o_orderkey % 97 <> 3)
    SELECT CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           COALESCE(n.o_orderkey, b.o_orderkey) AS o_orderkey,
           n.o_orderstatus AS o_orderstatus,
           n.o_totalprice AS o_totalprice
    FROM base b FULL OUTER JOIN v2 n USING (o_orderkey)
    WHERE b.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR b.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR b.o_totalprice IS DISTINCT FROM n.o_totalprice
    ORDER BY op, o_orderkey
    """,
    tags=("pipeline", "snapshot", "cdc", "scale"),
)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC gate entry: diff the demo store's v0 against v2 — two MERGE
    generations apart — so all three ops appear and are certified
    row-by-row: every surviving 10th key is an `update`, the five new
    keys are `insert`s, and the `o_orderkey % 97 = 3` slice deleted in
    v2 (including 10th keys that were updated in v1 and then deleted —
    the update-then-delete collapse a naive log-concat would get
    wrong) comes back as `delete`s. See :func:`snapshot_diff`."""
    store = _demo_store(spark, sf_dir)
    return snapshot_diff(store.read(0), store.read(2), keys=["o_orderkey"]).orderBy(
        "op", "o_orderkey"
    )


def _vacuum_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    """A dedicated store for the vacuum demo (the shared
    `_demo_store` must KEEP all its versions — the time-travel and
    CDC queries read v0): commits the same v0/v1/v2 chain, plants an
    orphan data dir (simulating a crash between data write and
    manifest publish), then vacuums down to the last two versions.
    A session relation."""
    return session_relation(
        spark, "snapshot_vacuum", sf_dir, "orders", lambda: _build_vacuum_store(spark, sf_dir)
    )


def _build_vacuum_store(spark: SparkSession, sf_dir: str) -> SnapshotStore:
    import os
    import shutil

    from rdbms_scala_spark.sources.files import _scratch_dir

    root = _scratch_dir(spark, sf_dir, "snap_vacuum")
    # Unconditional wipe: a stale dir from a died earlier attempt
    # would shift commit()'s version numbering.
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotStore(spark, root)
    demo = _demo_store(spark, sf_dir)
    for v in (0, 1, 2):
        store.commit(demo.read(v))
    # the crash leftover: a data dir that never got its manifest
    demo.read(2).limit(1).write.mode("overwrite").parquet(
        os.path.join(root, "v99")
    )
    # orphan_retention_s=0: the demo's "crash" orphan is seconds old
    # and no committer is live — the crash-recovery stance.
    result = store.vacuum(retain_last=2, orphan_retention_s=0.0)
    assert result["kept"] == [1, 2], result
    return store


@register(
    "pipeline_snapshot_vacuum",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        FROM orders
    ),
    updates AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               round(o_totalprice + 1000.0, 2) AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT (SELECT max(o_orderkey) FROM orders) + x AS o_orderkey,
               'N' AS o_orderstatus, 100.0 AS o_totalprice
        FROM generate_series(1, 5) t(x)
    ),
    merged AS (
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        UNION ALL
        SELECT * FROM updates
    ),
    v2 AS (SELECT * FROM merged WHERE o_orderkey % 97 != 3)
    SELECT 1 AS version, o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM merged GROUP BY o_orderstatus
    UNION ALL
    SELECT 2 AS version, o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM v2 GROUP BY o_orderstatus
    ORDER BY version, o_orderstatus
    """,
    tags=("pipeline", "snapshot", "vacuum", "maintenance"),
)
def pipeline_snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-bounded VACUUM over the versioned snapshot store:
    v0/v1/v2 committed, an orphan data dir planted (the crash
    leftover ``commit`` documents), then ``vacuum(retain_last=2)``
    removes v0 AND the orphan — after which this query reads the two
    SURVIVING versions through their manifests and aggregates each.
    The oracle recomputes both versions from the raw table and the
    merge/delete definitions — certifying that vacuum destroyed
    nothing it should have kept. The destructive half (v0 gone,
    orphan gone, racing reader gets a clean missing-version error)
    is pinned in tests/test_pipeline.py."""
    store = _vacuum_store(spark, sf_dir)
    versions = []
    for v in (1, 2):
        versions.append(
            store.read(v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .select(F.lit(v).alias("version"), "o_orderstatus", "n_orders", "total_price")
        )
    return versions[0].unionByName(versions[1]).orderBy("version", "o_orderstatus")


# ---------------------------------------------------------------------------
# Round 11: SCD Type-2 dimension build — the warehouse-side sibling of
# the snapshot/CDC family above: where `pipeline_snapshot_diff` emits
# the change feed between two table versions, SCD2 turns a change
# STREAM into a versioned dimension (effective_from / effective_to /
# is_current) that point-in-time joins consume.


@register(
    "pipeline_scd2_dimension",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
               lag(o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders
    ),
    changes AS (
        SELECT * FROM ordered
        WHERE prev IS NULL OR prev <> o_orderpriority
    ),
    versioned AS (
        SELECT o_custkey AS custkey,
               o_orderpriority AS priority,
               CAST(row_number() OVER w AS BIGINT) AS version_n,
               strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
               strftime(lead(o_orderdate) OVER w, '%Y-%m-%d')
                   AS effective_to
        FROM changes
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    )
    SELECT custkey, version_n, priority, effective_from, effective_to,
           effective_to IS NULL AS is_current
    FROM versioned
    ORDER BY custkey, version_n
    """,
    tags=("pipeline", "scd2", "dimension", "scale"),
)
def pipeline_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build over the orders change
    stream: each customer's o_orderpriority is the tracked attribute,
    each order a state observation ordered by (o_orderdate,
    o_orderkey); consecutive same-value observations collapse (change
    detection via lag), and each surviving change opens a version row
    with effective_from = its date, effective_to = the next version's
    date (NULL and is_current for the open one) — the standard
    point-in-time dimension shape a warehouse joins facts against
    with ``fact.date >= effective_from AND (fact.date < effective_to
    OR effective_to IS NULL)``.

    Scale shape: exactly two window passes over the SAME partitioning
    (customer key) — Catalyst plans one Exchange on o_custkey and
    both WindowExecs plus the change filter run in the single sorted
    partition stream; no join, no global window, no driver state.
    Same-day priority flips are kept as zero-length versions ordered
    by o_orderkey — deterministic and auditable rather than silently
    collapsed."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = orders.withColumn(
        "prev", F.lag("o_orderpriority").over(w)
    ).filter(F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority")))
    w2 = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    versioned = changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.row_number().over(w2).cast("long").alias("version_n"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("effective_from"),
        F.date_format(
            F.lead("o_orderdate").over(w2), "yyyy-MM-dd"
        ).alias("effective_to"),
    )
    return versioned.select(
        "custkey",
        "version_n",
        "priority",
        "effective_from",
        "effective_to",
        F.col("effective_to").isNull().alias("is_current"),
    ).orderBy("custkey", "version_n")


# ---------------------------------------------------------------------------
# Round 11: dynamic partition overwrite run FOR REAL against a
# partitioned parquet layout — the write-path primitive the module
# docstring promises (and `merge_upsert` names as its landing step),
# exercised end-to-end: a full partitioned base write, then a batch
# touching ONE partition written with partitionOverwriteMode=dynamic,
# then a read-back proving the untouched partitions survived (static
# overwrite semantics would have deleted them — the readout is the
# proof of the mode, not just of the arithmetic).


@register(
    "pipeline_dynamic_partition_overwrite",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS p_q
        FROM orders
    ),
    final AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderpriority = '1-URGENT'
                    THEN p_q + 500 ELSE p_q END AS p_q
        FROM base
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(p_q) AS BIGINT) AS total_cents
    FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("pipeline", "write-path", "partition", "scale"),
)
def pipeline_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INSERT OVERWRITE one partition, keep the rest: write orders
    partitioned by o_orderpriority, then overwrite ONLY the
    '1-URGENT' partition with a corrected batch (a flat 500-cent
    surcharge — exact int64, no float drift) using the writer-level
    ``partitionOverwriteMode=dynamic`` option, and read the layout
    back for a per-partition (count, cents-sum) audit. If Spark
    applied STATIC overwrite semantics instead, the four untouched
    priorities would come back empty and the oracle comparison would
    fail — the query certifies the mode, not merely the sums.

    Scale shape: the base write shuffles nothing (partitionBy is a
    task-local fan-out to partition dirs; at 100 TB you'd repartition
    on the partition column first to bound open files per task); the
    dynamic overwrite rewrites ONLY the touched partition's bytes —
    the whole point of the mode for a 100 TB table where a correction
    batch touches one day/priority out of thousands. Read-back prunes
    nothing here (full audit) but the layout is now partition-pruned
    for every downstream priority-filtered scan."""
    from rdbms_scala_spark.sources.files import _scratch_dir

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("p_q"),
    )
    scratch = _scratch_dir(spark, sf_dir, "dyn_overwrite")
    base.write.partitionBy("o_orderpriority").mode("overwrite").parquet(scratch)
    batch = base.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "p_q", F.col("p_q") + F.lit(500)
    )
    batch.write.partitionBy("o_orderpriority").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(scratch)
    return (
        spark.read.parquet(scratch)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("p_q").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "pipeline_mv_incremental_refresh",
    oracle="""
    SELECT o_orderpriority,
           strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                      AS BIGINT) / 100.0, 2) AS revenue,
           round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                      AS BIGINT) / (100.0 * count(*)), 4) AS avg_order
    FROM orders
    GROUP BY o_orderpriority, strftime(o_orderdate, '%Y-%m')
    ORDER BY o_orderpriority, month
    """,
    tags=("pipeline", "materialized-view", "incremental", "scale"),
)
def pipeline_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the MV is revenue
    by (priority, order month); the 'already materialized' state is
    the aggregate over ~90% of orders (keys with o_orderkey % 10 !=
    0), the arriving batch is the other ~10%, and the refresh MERGES
    PARTIAL AGGREGATES — union the MV rows with the batch's partial
    rows and re-reduce on the group keys — instead of rescanning the
    base. COUNT and SUM merge because they are commutative monoids;
    AVG is maintained algebraically as (sum, count) and derived only
    at read time — the Jagadish/DBSP-style delta-maintenance kernel
    every warehouse MV engine implements.

    The oracle is the FULL recompute over all orders: equality is the
    proof of the merge law, not a restatement of the plan. Exact
    int64 cents make partial-vs-full float drift impossible.

    Scale shape: refresh cost is O(|delta| + |MV|), independent of
    the base fact's size — the whole point at 100 TB, where the MV is
    thousands of rows and the nightly delta a sliver; the merge
    shuffle is MV-key-sized (map-side combine collapses the batch
    first)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("p_q"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority", "month").agg(
            F.count(F.lit(1)).alias("n_orders"), F.sum("p_q").alias("rev_q")
        )

    mv = partial(orders.filter(F.col("o_orderkey") % 10 != 0))
    delta = partial(orders.filter(F.col("o_orderkey") % 10 == 0))
    refreshed = (
        mv.unionByName(delta)
        .groupBy("o_orderpriority", "month")
        .agg(F.sum("n_orders").alias("n_orders"), F.sum("rev_q").alias("rev_q"))
    )
    return refreshed.select(
        "o_orderpriority",
        "month",
        "n_orders",
        F.round(F.col("rev_q") / 100.0, 2).alias("revenue"),
        F.round(F.col("rev_q") / (100.0 * F.col("n_orders")), 4).alias(
            "avg_order"
        ),
    ).orderBy("o_orderpriority", "month")
