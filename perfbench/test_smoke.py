"""Tests of the benchmark itself. From the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

``test_smoke_reports_every_metric`` starts Spark and runs every workload
at toy scale (about two minutes); the others are pure Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

import gen
import oracle
from spans import Tracer
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def test_inputs_follow_the_seed():
    a = gen.tpch_tables(np.random.default_rng([7, 0]), 0.001)
    b = gen.tpch_tables(np.random.default_rng([7, 0]), 0.001)
    c = gen.tpch_tables(np.random.default_rng([8, 0]), 0.001)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])
    s1 = gen.sql_stream(np.random.default_rng(1), 30, 1500, 150)
    assert s1 == gen.sql_stream(np.random.default_rng(1), 30, 1500, 150)
    assert [k for k, _ in s1[:5]] == ["point_order", "point_customer", "range_ship", "point_order", "q1"]
    assert {k for k, _ in s1} == set(gen.SQL_DECK[:3]) | set(gen.SQL_AGGS)


def test_corpus_plants_exact_duplicates():
    c = gen.corpus_shard(np.random.default_rng(3), 500)
    text = dict(zip(c.table["doc_id"].to_pylist(), c.table["text"].to_pylist()))
    assert len(text) == 500 and c.exact_groups
    for g in c.exact_groups:
        assert len({text[d].strip().lower() for d in g}) == 1


def test_upsert_batch_updates_then_inserts():
    b = gen.upsert_batch(np.random.default_rng(4), np.arange(1000), 1000, 0.01, 5)
    keys = b["o_orderkey"].to_pylist()
    assert len(keys) == len(set(keys)) == 15
    assert all(k < 1000 for k in keys[:10]) and keys[10:] == list(range(1000, 1005))


def test_float_tolerance_follows_the_rounding():
    want = [("A", "F", 0.0501, 1234.56)]
    assert oracle.same_rows([("A", "F", 0.0501, 1234.56)], want)
    assert oracle.same_rows([("A", "F", 0.0502, 1234.57)], want)  # one unit: a half-way sum
    assert not oracle.same_rows([("A", "F", 0.0511, 1234.56)], want)  # avg_disc off by 0.001
    assert not oracle.same_rows([("A", "F", 0.0501, 1234.58)], want)
    assert not oracle.same_rows(oracle.parse_lines(["A|F|0.05|1234.56"]), [("A", "F", 0.0512, 1234.56)])


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.op_id = 0
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    st = tr.self_times()
    assert abs(st["outer"] - ((outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))) < 1e-9
    assert Tracer(False).span("x").__enter__() is None


def test_workloads_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_smoke_reports_every_metric():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=os.path.dirname(HERE),
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["smoke_ok"], last["problems"]
