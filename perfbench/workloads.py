"""The benchmark workloads. Each is a closed loop with one client.

A workload makes its inputs from the run's seed (``gen``) once, sets up
(repeatably, so set-up time can be reported as a median), runs a warm
pass, then runs timed ops. Set-up and warm pass call only the package;
the warm outputs are checked afterwards (``check_warm``), and the
outputs of every timed op are kept and checked after the timed window.

With tracing on, ops call the same public functions as without, split
at layer boundaries so each call gets its own span.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from spans import SparkProbe, Tracer, dir_bytes

from rdbms_scala_spark import catalog
from rdbms_scala_spark.engine import Engine, format_rows
from rdbms_scala_spark.pipeline import dedup
from rdbms_scala_spark.pipeline.snapshot import SnapshotStore, merge_upsert
from rdbms_scala_spark.registry import all_queries
from rdbms_scala_spark.session import evict_session_relations


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``FULL`` is the benchmark; ``SMOKE`` only checks
    that every workload runs and reports every metric."""

    sql_sf: float
    corpus_docs: int
    upsert_rows: int
    setup_reps: int


FULL = Scale(sql_sf=0.1, corpus_docs=1500, upsert_rows=150_000, setup_reps=3)
SMOKE = Scale(sql_sf=0.01, corpus_docs=300, upsert_rows=5_000, setup_reps=2)


class Workload:
    name = ""
    tail_pct = 100

    def __init__(self, spark, root: str, seed: int, scale: Scale, tracer: Tracer):
        self.spark = spark
        self.root = os.path.join(root, self.name)
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        self.probe = SparkProbe(spark)
        self.engine = Engine(spark)
        self.specs = all_queries()
        self.setup_metrics: dict[str, list[float]] = {}
        os.makedirs(self.root, exist_ok=True)

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])

    # -- per-workload hooks ------------------------------------------------
    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Warm pass through the timed path; keeps its outputs."""
        raise NotImplementedError

    def check_warm(self) -> list[bool]:
        """Check the warm outputs; one flag per output checked."""
        raise NotImplementedError

    def op(self, i: int) -> None:
        """One timed op; ``i`` picks its input."""
        raise NotImplementedError

    def verify(self) -> list[bool]:
        """Check the kept outputs of the timed ops; one flag per op."""
        raise NotImplementedError

    # -- shared helpers ----------------------------------------------------
    def data_bytes(self) -> int:
        return dir_bytes(self.root)

    def run_sql(self, stmt: str) -> list[str]:
        """``Engine.run_and_format``; traced, split into its steps."""
        if not self.tr.enabled:
            return self.engine.run_and_format(stmt)
        with self.tr.span("engine.execute"):
            df = self.engine.execute(stmt)
        self.plan(df)
        with self.tr.span("engine.collect"):
            rows = df.collect()
        with self.tr.span("engine.format"):
            lines = list(format_rows(rows))
        self.tr.add("engine.rows_out", len(lines))
        return lines

    def plan(self, df) -> None:
        """Traced only: force planning and record Catalyst phase times."""
        if self.tr.enabled:
            with self.tr.span("catalyst.plan"):
                for phase, ms in self.probe.plan_phases(df).items():
                    self.tr.add(f"catalyst.{phase}_ms", ms)

    def build(self, name: str, sf_dir: str):
        with self.tr.span("queries.build"):
            df = self.specs[name].fn(self.spark, sf_dir)
        self.plan(df)
        return df

    def act(self, df, how: str = "noop"):
        """Run a Spark action: ``noop`` sink, or ``collect``."""
        with self.tr.span("exec.action"):
            if how == "collect":
                return df.collect()
            df.write.format("noop").mode("overwrite").save()
            return None

    def load(self, sf_dir: str, names: tuple[str, ...]) -> dict:
        catalog.clear_table_memo()
        with self.tr.span("catalog.load") as sp:
            tables = catalog.load_tables(self.spark, sf_dir, names)
        if sp is not None:
            self.setup_metrics.setdefault("catalog.load_s", []).append(sp["end"] - sp["start"])
        return tables


class SqlRepl(Workload):
    """Seeded SQL statements through ``Engine.run_and_format`` over
    sf0.1 tables held in the Spark cache. Each op is one statement."""

    name = "sql_repl"
    # mid-class in the deck (a range scan); the 50-80 statements of a
    # 10 s run leave at least 10 beyond it
    tail_pct = 78
    CACHED = ("customer", "part", "orders", "lineitem")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.sf_dir = os.path.join(self.root, "sf")
        tables = gen.tpch_tables(self.rng(0), self.scale.sql_sf)
        gen.write_tables({n: tables[n] for n in self.CACHED}, self.sf_dir)
        n_ord, n_cust = tables["orders"].num_rows, tables["customer"].num_rows
        self.stream = gen.sql_stream(self.rng(1), 2_000, n_ord, n_cust)
        # JIT keeps speeding statements up for the first few dozen
        self.n_warm = 20
        self.done: list[tuple[str, list[str]]] = []

    def setup(self, rep: int) -> None:
        self.spark.catalog.clearCache()
        self.load(self.sf_dir, self.CACHED)
        with self.tr.span("catalog.cache_fill") as sp:
            for name in self.CACHED:
                self.engine.cache(name)
                self.engine.run_and_format(f"SELECT count(*) FROM {name}")
        if sp is not None:
            self.setup_metrics.setdefault("catalog.cache_fill_s", []).append(sp["end"] - sp["start"])
            self.setup_metrics.setdefault("catalog.cached_mb", []).append(self.probe.storage_mem_mb())

    def _check(self, results: list[tuple[str, list[str]]]) -> list[bool]:
        con = oracle.connect(self.sf_dir, self.CACHED)
        try:
            return [
                oracle.same_rows(oracle.parse_lines(lines), oracle.format_like_engine(con.execute(stmt).fetchall()))
                for stmt, lines in results
            ]
        finally:
            con.close()

    def warm(self) -> None:
        self.warm_out = [(stmt, self.engine.run_and_format(stmt)) for _, stmt in self.stream[-self.n_warm:]]

    def check_warm(self) -> list[bool]:
        return self._check(self.warm_out)

    def op(self, i: int) -> None:
        _, stmt = self.stream[i % (len(self.stream) - self.n_warm)]
        self.done.append((stmt, self.run_sql(stmt)))

    def verify(self) -> list[bool]:
        return self._check(self.done)


class CorpusDedup(Workload):
    """One corpus job per op, each on a fresh seeded shard with planted
    exact and near duplicates: the MinHash-LSH tier (a session-cache
    miss), three queries riding its cached relations, exact dedup and
    quality scoring, then eviction of the session relations."""

    name = "corpus_dedup"
    N_SHARDS = 3  # more jobs than the timed window completes at FULL scale
    FAMILY = ("dedup_minhash_clusters", "dedup_lsh_bucket_stats", "dedup_minhash_calibration")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.shards = []
        for k in range(self.N_SHARDS + 1):
            c = gen.corpus_shard(self.rng(2, k), self.scale.corpus_docs)
            d = os.path.join(self.root, f"s{k}")
            os.makedirs(d)
            pq.write_table(c.table, os.path.join(d, "documents.parquet"))
            self.shards.append((d, c.exact_groups))

    def setup(self, rep: int) -> None:
        self.load(self.shards[0][0], ("documents",))
        self.done: list[tuple[int, list, list]] = []

    def _job(self, d: str) -> tuple[list, list]:
        tr = self.tr
        sig = None
        if tr.enabled:
            with tr.span("pipeline.signature_build"):
                sig, cand = dedup.cached_minhash_sig_cand(self.spark, d)
            with tr.untimed():  # a count job the untraced job does not run
                tr.add("pipeline.candidate_pairs", cand.count())
        pairs = self._cached_query("dedup_minhash_lsh", d, sig, "collect")
        tr.add("pipeline.accepted_pairs", len(pairs))
        for q in self.FAMILY:
            with tr.span("pipeline.family_query"):
                self._cached_query(q, d, sig, "collect" if q == "dedup_lsh_bucket_stats" else "noop")
        exact = self.act(self.build("dedup_exact_docs", d).filter("n_copies > 1"), "collect")
        self.act(self.build("text_quality_score", d))
        with tr.span("pipeline.evict"):
            evict_session_relations(self.spark)
        return pairs, exact

    def _cached_query(self, q: str, d: str, sig, how: str):
        if sig is not None:
            hit = dedup.cached_minhash_sig_cand(self.spark, d)[0] is sig
            self.tr.add("pipeline.cache_lookups", 1)
            self.tr.add("pipeline.cache_hits", int(hit))
        return self.act(self.build(q, d), how)

    def _recall_ok(self, exact, groups) -> bool:
        found = {r["keeper_doc_id"]: r["n_copies"] for r in exact}
        return all(found.get(g[0], 0) >= len(g) for g in groups)

    def warm(self) -> None:
        # the job after the first is still about 15% slower than later ones
        for _ in range(2):
            self.warm_out = self._job(self.shards[-1][0])

    def check_warm(self) -> list[bool]:
        d, groups = self.shards[-1]
        pairs, exact = self.warm_out
        con = oracle.connect(d, ("documents",))
        try:
            want = con.execute(self.specs["dedup_minhash_lsh"].oracle).fetchall()
        finally:
            con.close()
        return [oracle.same_rows([tuple(r) for r in pairs], want), self._recall_ok(exact, groups)]

    def op(self, i: int) -> None:
        k = i % self.N_SHARDS
        pairs, exact = self._job(self.shards[k][0])
        self.done.append((k, pairs, exact))

    def verify(self) -> list[bool]:
        return [bool(pairs) and self._recall_ok(exact, self.shards[k][1]) for k, pairs, exact in self.done]


class IngestUpsert(Workload):
    """Writes beside reads: each op merges a seeded batch (1% of keys
    updated, plus inserts) into the latest snapshot version, commits it,
    then reads back through ``Engine``: a read-your-write point lookup, a
    range aggregate and a time-travel count of version v-2. Every fifth
    commit vacuums to the last three versions. The update and insert
    rates are assumed, not taken from measured write traffic."""

    name = "ingest_upsert"
    # 8-11 ops per 10 s run: no percentile has 10 beyond it, and the
    # maximum is often one slow op alone
    tail_pct = 90
    UPDATE_FRAC = 0.01
    INSERT_FRAC = 0.002
    N_BATCHES = 64
    VACUUM_EVERY = 5

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        n = self.scale.upsert_rows
        rng = self.rng(3)
        base = gen.upsert_batch(rng, np.arange(0), 0, 0.0, n)
        self.batches = []
        live = n
        for _ in range(self.N_BATCHES):
            b = gen.upsert_batch(rng, np.arange(live, dtype=np.int64), live, self.UPDATE_FRAC, int(n * self.INSERT_FRAC))
            live += int(n * self.INSERT_FRAC)
            self.batches.append(b)
        self.base = base
        land = os.path.join(self.root, "landing")
        os.makedirs(land, exist_ok=True)
        self.batch_paths = []
        for k, b in enumerate(self.batches):
            p = os.path.join(land, f"batch_{k}.parquet")
            pq.write_table(b, p)
            self.batch_paths.append(p)
        self.base_path = os.path.join(land, "base.parquet")
        pq.write_table(base, self.base_path)

    def setup(self, rep: int) -> None:
        root = os.path.join(self.root, f"store_{rep}")
        self.store = SnapshotStore(self.spark, root)
        self.store.commit(self.spark.read.parquet(self.base_path))
        if rep:
            shutil.rmtree(os.path.join(self.root, f"store_{rep - 1}"), ignore_errors=True)
        self.version = 0
        self.next_batch = 0
        self.reads: list[tuple[int, int, list[str], list[str], list[str]]] = []
        self.written = 0
        self.user_bytes = 0

    def _commit_next(self) -> int:
        k = self.next_batch % self.N_BATCHES
        self.next_batch += 1
        tr = self.tr
        with tr.span("snapshot.merge_build"):
            base = self.store.read(self.version)
            merged = merge_upsert(base, self.spark.read.parquet(self.batch_paths[k]), ["o_orderkey"])
        with tr.span("snapshot.commit"):
            self.version = self.store.commit(merged)
        vdir = os.path.join(self.store.root, f"v{self.version}")
        nbytes = dir_bytes(vdir)
        self.written += nbytes
        self.user_bytes += os.path.getsize(self.batch_paths[k])
        if tr.enabled:
            tr.add("snapshot.files_per_commit", sum(1 for f in os.listdir(vdir) if f.endswith(".parquet")))
            tr.add("snapshot.bytes_per_commit", nbytes)
        return k

    def _op(self) -> None:
        k = self._commit_next()
        v = self.version
        key = int(self.batches[k]["o_orderkey"][0].as_py())
        lo = int(self.rng(4, v).integers(0, self.scale.upsert_rows - 1000))
        with self.tr.span("snapshot.read"):
            self.engine.register_dataframe("snap", self.store.read(v))
            point = self.run_sql(f"SELECT o_orderstatus, o_totalprice FROM snap WHERE o_orderkey = {key}")
            rng_agg = self.run_sql(
                f"SELECT count(*), round(sum(o_totalprice), 2) FROM snap WHERE o_orderkey BETWEEN {lo} AND {lo + 999}"
            )
            self.engine.register_dataframe("snap_prev", self.store.read(max(v - 2, 0)))
            prev = self.run_sql("SELECT count(*) FROM snap_prev")
        self.reads.append((v, lo, point, rng_agg, prev))
        if v % self.VACUUM_EVERY == 0:
            with self.tr.span("snapshot.vacuum"):
                self.store.vacuum(retain_last=3)

    def warm(self) -> None:
        # ops keep speeding up for about the first 15 after set-up
        for _ in range(10):
            self._op()

    def check_warm(self) -> list[bool]:
        ok = self._replay()
        self.reads = []
        return ok

    def op(self, i: int) -> None:
        self._op()

    def _replay(self) -> list[bool]:
        """Re-derive every read from a model of the snapshot history."""
        n = self.scale.upsert_rows
        status = list(self.base["o_orderstatus"].to_pylist())
        price = np.array(self.base["o_totalprice"].to_numpy(), dtype=np.float64)
        counts = [n]
        out = []
        reads = {r[0]: r for r in self.reads}
        for v in range(1, self.version + 1):
            b = self.batches[(v - 1) % self.N_BATCHES]
            keys = b["o_orderkey"].to_numpy()
            grow = int(keys.max()) + 1 - len(price)
            if grow > 0:
                price = np.concatenate([price, np.zeros(grow)])
                status.extend([""] * grow)
            price[keys] = b["o_totalprice"].to_numpy()
            for kk, s in zip(keys.tolist(), b["o_orderstatus"].to_pylist()):
                status[kk] = s
            counts.append(len(price))
            if v not in reads:
                continue
            _, lo, point, rng_agg, prev = reads[v]
            key = int(keys[0])
            want_point = [f"{status[key]}|{price[key]}"]
            sl = price[lo : lo + 1000]
            want_range = [(len(sl), round(float(sl.sum()), 2))]
            want_prev = [(counts[max(v - 2, 0)],)]
            out.append(
                point == want_point
                and oracle.same_rows(oracle.parse_lines(rng_agg), want_range)
                and oracle.same_rows(oracle.parse_lines(prev), want_prev)
            )
        return out

    def verify(self) -> list[bool]:
        # settle to the steady state (the last three versions), so the
        # storage measured next does not depend on where the window
        # stopped in the vacuum cycle
        self.store.vacuum(retain_last=3)
        return self._replay()

    def write_amplification(self) -> float:
        return self.written / self.user_bytes if self.user_bytes else 0.0


WORKLOADS = {w.name: w for w in (SqlRepl, CorpusDedup, IngestUpsert)}
