"""Benchmark of the rdbms_scala_spark package.

Run from the repository root:

    python3 perfbench/run.py --workload sql_repl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke     # every workload at toy scale

Each run starts one local Spark session (``local[min(nproc, 4)]``,
driver memory a quarter of physical RAM up to 3 GiB, UI off), builds
the workload's inputs from ``--seed`` under a scratch directory inside
the working directory (removed at exit), sets up several times, runs a
warm pass, then a closed loop of ops with one client for ``--seconds``.
``setup_s`` is session start, the median set-up and the warm pass: the
package's work only, without input generation or the checks. Outputs
of the warm pass and of the ops are checked outside the timed spans.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports per-layer metrics from spans recorded
around the benchmark's calls into each layer (written to
``.perfbench_out/``); it runs each op's input twice, untraced and
traced, and the difference of their medians is reported as the tracing
overhead. The
line before the result holds the run's provenance and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

MAX_CPUS = 4
MAX_DRIVER_MB = 3072


def pin_host(root: str) -> dict:
    """Pin cores, driver memory and every scratch path before Spark
    starts; return what was pinned."""
    cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_mb = min(MAX_DRIVER_MB, ram_mb // 4)
    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    )
    time.tzset()
    tempfile.tempdir = tmp
    return {"nproc": os.cpu_count(), "cpus_used": cpus, "ram_mb": ram_mb, "driver_mb": driver_mb}


def start_spark():
    from rdbms_scala_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t0


def stop_spark() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(lat: list[float], pct: int) -> float:
    if pct >= 100 or len(lat) < 2:
        return max(lat)
    return statistics.quantiles(lat, n=100, method="inclusive")[pct - 1]


class Window:
    """Timed closed loop: starts ops until ``seconds`` have passed."""

    def __init__(self, wl, tracer, probe):
        self.wl, self.tr, self.probe = wl, tracer, probe
        self.failed = 0

    def run(self, seconds: float, trace: bool) -> tuple[dict[bool, list[float]], float]:
        """Latencies of the ops that succeeded, keyed by whether the op
        was traced, and the elapsed time. With ``trace``, every input
        is run twice, once untraced and once traced, which goes first
        alternating, so the two sets cover the same inputs and the same
        warm-up and the difference is the tracing overhead."""
        lat: dict[bool, list[float]] = {False: [], True: []}
        sc = self.wl.spark.sparkContext
        start = time.perf_counter()
        deadline = start + seconds
        i = 0
        while True:
            traced = trace and i % 2 != (i // 2) % 2
            self.tr.enabled = traced
            self.tr.op_id = i
            if traced:
                sc.setJobGroup(f"op{i}", f"perfbench op {i}")
                gc0 = self.probe.gc_ms()
            u0 = self.tr.untimed_s
            t0 = time.perf_counter()
            try:
                with self.tr.span("op"):
                    self.wl.op(i // 2 if trace else i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
            else:
                lat[traced].append(time.perf_counter() - t0 - (self.tr.untimed_s - u0))
            self.tr.enabled = False
            if traced:
                jobs, stages, tasks, failed = self.probe.job_counts(f"op{i}")
                self.tr.enabled = True
                self.tr.add("exec.jobs", jobs)
                self.tr.add("exec.stages", stages)
                self.tr.add("exec.tasks", tasks)
                self.tr.add("exec.failed_tasks", failed)
                self.tr.add("jvm.gc_ms", self.probe.gc_ms() - gc0)
                self.tr.add("jvm.heap_used_mb", self.probe.heap_used_mb())
                self.tr.enabled = False
            i += 1
            if time.perf_counter() >= deadline and (not trace or i % 2 == 0):
                break
        self.tr.op_id = None
        return lat, time.perf_counter() - start


def layer_metrics(tr, wl, session_s: float, overhead_pct: float) -> dict[str, float]:
    def per_op(name: str) -> float:
        return _median(tr.op_totals(name))

    def setup(name: str) -> float:
        return _median(wl.setup_metrics.get(name, []))

    def ratio(num: str, den: str) -> float:
        d = sum(tr.op_totals(den))
        return sum(tr.op_totals(num)) / d if d else 0.0

    actions = {}
    for name in ("exec.action", "engine.collect"):
        for s in tr.spans:
            if s["name"] == name and s["op"] is not None:
                actions[s["op"]] = actions.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1000.0
    return {
        "session.start_s": session_s,
        "catalog.load_s": setup("catalog.load_s"),
        "catalog.cache_fill_s": setup("catalog.cache_fill_s"),
        "catalog.cached_mb": setup("catalog.cached_mb"),
        "engine.execute_ms": per_op("engine.execute"),
        "engine.collect_ms": per_op("engine.collect"),
        "engine.format_ms": per_op("engine.format"),
        "engine.rows_out": per_op("engine.rows_out"),
        "catalyst.parse_ms": per_op("catalyst.parse_ms"),
        "catalyst.analyze_ms": per_op("catalyst.analyze_ms"),
        "catalyst.optimize_ms": per_op("catalyst.optimize_ms"),
        "catalyst.plan_ms": per_op("catalyst.plan_ms"),
        "queries.build_ms": per_op("queries.build"),
        "exec.action_ms": _median(list(actions.values())),
        "exec.jobs_per_op": statistics.fmean(tr.op_totals("exec.jobs") or [0]),
        "exec.stages_per_op": statistics.fmean(tr.op_totals("exec.stages") or [0]),
        "exec.tasks_per_op": statistics.fmean(tr.op_totals("exec.tasks") or [0]),
        "exec.failed_tasks": sum(tr.op_totals("exec.failed_tasks")),
        "jvm.gc_ms_per_op": statistics.fmean(tr.op_totals("jvm.gc_ms") or [0]),
        "jvm.heap_used_mb": per_op("jvm.heap_used_mb"),
        "jvm.peak_rss_mb": wl.probe.jvm_peak_rss_mb(),
        "pipeline.signature_build_s": per_op("pipeline.signature_build") / 1000.0,
        "pipeline.family_query_ms": _median(tr.durations("pipeline.family_query")) * 1000.0,
        "pipeline.cache_hit_ratio": ratio("pipeline.cache_hits", "pipeline.cache_lookups"),
        "pipeline.evict_ms": per_op("pipeline.evict"),
        "pipeline.candidate_pairs": per_op("pipeline.candidate_pairs"),
        "pipeline.accepted_pairs": per_op("pipeline.accepted_pairs"),
        "pipeline.lsh_precision": ratio("pipeline.accepted_pairs", "pipeline.candidate_pairs"),
        "snapshot.merge_build_ms": _median(tr.durations("snapshot.merge_build")) * 1000.0,
        "snapshot.commit_ms": _median(tr.durations("snapshot.commit")) * 1000.0,
        "snapshot.read_ms": _median(tr.durations("snapshot.read")) * 1000.0,
        "snapshot.vacuum_ms": _median(tr.durations("snapshot.vacuum")) * 1000.0,
        "snapshot.files_per_commit": per_op("snapshot.files_per_commit"),
        "snapshot.bytes_per_commit": per_op("snapshot.bytes_per_commit"),
        "snapshot.bytes_per_user_byte": getattr(wl, "write_amplification", lambda: 0.0)(),
        "trace.overhead_pct": overhead_pct,
    }


def run_workload(spark, session_s: float, name: str, seed: int, seconds: float, trace: bool, scale, root: str):
    """Run one workload; returns (metrics, attempted, failed, detail)."""
    from spans import Tracer
    from workloads import WORKLOADS

    tr = Tracer(trace)
    t0 = time.perf_counter()
    wl = WORKLOADS[name](spark, root, seed, scale, tr)
    init_s = time.perf_counter() - t0
    reps = []
    for r in range(scale.setup_reps):
        t0 = time.perf_counter()
        wl.setup(r)
        reps.append(time.perf_counter() - t0)
    tr.enabled = False
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm_ok = wl.check_warm()
    check_s = time.perf_counter() - t0

    probe = wl.probe
    win = Window(wl, tr, probe)
    by_trace, elapsed = win.run(seconds, trace)
    lat = by_trace[False]
    verify_ok = wl.verify()
    attempted = len(lat) + len(by_trace[True]) + win.failed + len(warm_ok)
    failed = win.failed + warm_ok.count(False) + verify_ok.count(False)
    detail = {
        "workload": name,
        "seed": seed,
        "samples": len(lat),
        "lat_ms": [round(x * 1000.0, 1) for x in lat],
        "tail_pct": wl.tail_pct,
        "failed_ratio": failed / attempted,
        "setup": {"session_s": session_s, "inputs_s": init_s, "reps_s": reps, "warm_s": warm_s, "check_s": check_s},
        "bytes_written_per_user_byte": getattr(wl, "write_amplification", lambda: None)(),
    }
    if trace:
        overhead = (_median(by_trace[True]) / _median(lat) - 1.0) * 100.0 if lat and by_trace[True] else 0.0
        metrics = layer_metrics(tr, wl, session_s, overhead)
        out = os.path.join(os.getcwd(), ".perfbench_out", f"spans_{name}_seed{seed}.json")
        tr.write(out)
        detail["self_s"] = tr.self_times()
        detail["spans_file"] = os.path.relpath(out)
    else:
        spark_mb, disk_mb = probe.storage_mem_mb(), wl.data_bytes() / 2**20
        metrics = {
            "setup_s": session_s + _median(reps) + warm_s,
            "ops_per_s": len(lat) / elapsed,
            "op_p50_ms": _median(lat) * 1000.0,
            "op_tail_ms": tail(lat, wl.tail_pct) * 1000.0,
            "storage_mb": spark_mb + disk_mb,
        }
        detail.update(spark_storage_mb=spark_mb, disk_mb=disk_mb, jvm_peak_rss_mb=probe.jvm_peak_rss_mb())
    return metrics, attempted, failed, detail


def provenance(spark, pinned: dict) -> dict:
    import duckdb
    import numpy
    import pyarrow

    return {
        **pinned,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def metric_units() -> dict[bool, dict[str, str]]:
    """Metric name -> unit from ``BENCHMARK.json``, keyed by ``--trace``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        False: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        True: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def smoke() -> int:
    """Every workload at toy scale, untraced and traced, in one session;
    checks each computes exactly the metrics ``BENCHMARK.json`` names."""
    from workloads import SMOKE, WORKLOADS

    want = metric_units()
    root = tempfile.mkdtemp(prefix="smoke-", dir=os.path.join(os.getcwd(), ".perfbench_tmp"))
    bad = []
    try:
        pinned = pin_host(os.path.join(root, "host"))
        spark, session_s = start_spark()
        print(json.dumps(provenance(spark, pinned)))
        for name in WORKLOADS:
            for trace in (False, True):
                metrics, attempted, failed, _ = run_workload(
                    spark, session_s, name, 1, 1.0, trace, SMOKE, os.path.join(root, f"{name}-{int(trace)}")
                )
                if set(metrics) != set(want[trace]) or failed:
                    bad.append((name, trace, sorted(set(metrics) ^ set(want[trace])), failed))
                print(json.dumps({"workload": name, "trace": trace, "attempted": attempted, "failed": failed}))
    finally:
        stop_spark()
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"smoke_ok": not bad, "problems": bad}))
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("sql_repl", "corpus_dedup", "ingest_upsert"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload at toy scale; checks metric names")
    args = ap.parse_args(argv)
    if args.workload is None and not args.smoke:
        ap.error("--workload is required")
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be non-negative and --seconds positive")
    from workloads import FULL  # imports the package: fails here, before any work, without it

    os.makedirs(os.path.join(os.getcwd(), ".perfbench_tmp"), exist_ok=True)
    if args.smoke:
        return smoke()
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(os.getcwd(), ".perfbench_tmp"))
    try:
        pinned = pin_host(os.path.join(root, "host"))
        spark, session_s = start_spark()
        host = provenance(spark, pinned)
        metrics, attempted, failed, detail = run_workload(
            spark, session_s, args.workload, args.seed, args.seconds, bool(args.trace), FULL, root
        )
    finally:
        stop_spark()
        shutil.rmtree(root, ignore_errors=True)
    units = metric_units()[bool(args.trace)]
    print(json.dumps({"detail": {**detail, "host": host, "seconds": args.seconds, "trace": args.trace}}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
