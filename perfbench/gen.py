"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``numpy.random.Generator`` state,
so one ``--seed`` always yields the same tables, corpus shards, upsert
batches and SQL statements. Tables follow the package's reduced TPC-H
schema (the columns ``rdbms_scala_spark.queries.tpch`` reads) and the
``documents`` schema of the corpus pipeline.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the package's testdata
US_PER_DAY = 86_400_000_000


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pc.take(pa.array(values), pa.array(rng.integers(0, len(values), n)))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _days_to_ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(EPOCH, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The seven reduced TPC-H tables at scale factor ``sf`` (sf 0.1:
    150k orders, ~600k lineitem rows, 15k customers, 20k parts)."""
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(int(10_000 * sf), 10)
    n_ord = int(1_500_000 * sf)
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 2000) * 0.1, 2)
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"part {i}" for i in range(n_part)]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(retail),
        }
    )
    odays = rng.integers(0, ORDER_DAYS, n_ord)
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines, mean 4
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_ord)
    first = np.cumsum(lines) - lines
    l_lineno = (np.arange(n_li) - np.repeat(first, lines) + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * retail[l_part], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    total = np.round(np.bincount(l_ord, weights=ext * (1 - disc) * (1 + tax), minlength=n_ord), 2)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(total),
            "o_orderdate": _days_to_ts(odays),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_ord),
            "l_partkey": pa.array(l_part),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(l_lineno),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(ext),
            "l_discount": pa.array(disc),
            "l_tax": pa.array(tax),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days_to_ts(ship),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "customer": customer,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """Write each table as ``<sf_dir>/<name>.parquet``. Only string
    columns are dictionary-encoded: a numeric column near the
    dictionary page limit would fall back to plain encoding for some
    seeds and not others, and file sizes would jump between seeds."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        strings = [f.name for f in t.schema if pa.types.is_string(f.type)]
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=256 * 1024, use_dictionary=strings)


# ---------------------------------------------------------------------------
# corpus shards

_WORDS = tuple(
    f"{a}{b}"
    for a in ("data", "spark", "query", "join", "scan", "vector", "token", "shard", "merge",
              "index", "cache", "batch", "plan", "row", "page", "hash", "sort", "group",
              "filter", "stream")
    for b in ("", "s", "er", "ing", "ed", "ly", "al", "ion", "ive", "ful")
)
LANGS = ("de", "en", "en", "en", "es", "fr", "zh")


@dataclass
class Corpus:
    """One corpus shard: the ``documents`` table plus the planted truth
    (``exact_groups``: doc-id lists whose normalized text is identical)."""

    table: pa.Table
    exact_groups: list[list[int]]


def corpus_shard(rng: np.random.Generator, n_docs: int) -> Corpus:
    """``n_docs`` documents: 80% originals, 10% exact duplicates (a copy
    re-cased and re-padded, so only ``lower(trim(text))`` makes them
    equal) and 10% near duplicates (an original with two words
    replaced). Ids are shuffled so copies are not adjacent. The
    duplicate rates are assumed, not taken from a measured corpus."""
    n_exact = n_docs // 10
    n_near = n_docs // 10
    n_orig = n_docs - n_exact - n_near
    words = np.array(_WORDS)
    texts = []
    for _ in range(n_orig):
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(12, 90))]))
    src_exact = rng.integers(0, n_orig, n_exact)
    for s in src_exact:
        texts.append(f"  {texts[s].upper()} " if rng.random() < 0.5 else texts[s] + " ")
    for s in rng.integers(0, n_orig, n_near):
        toks = texts[s].split(" ")
        for j in rng.integers(0, len(toks), 2):
            toks[j] = words[rng.integers(0, len(words))]
        texts.append(" ".join(toks))
    ids = rng.permutation(n_docs).astype(np.int64)
    groups: dict[int, list[int]] = {}
    for i, s in enumerate(src_exact):
        groups.setdefault(int(s), [int(ids[s])]).append(int(ids[n_orig + i]))
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    ).sort_by("doc_id")
    return Corpus(table, [sorted(g) for g in groups.values()])


# ---------------------------------------------------------------------------
# upsert batches


def upsert_batch(
    rng: np.random.Generator, live_keys: np.ndarray, next_key: int, update_frac: float, n_insert: int
) -> pa.Table:
    """One MERGE batch over the (o_orderkey, o_orderstatus,
    o_totalprice) snapshot: ``update_frac`` of the live keys get a new
    status and price, plus ``n_insert`` brand-new keys from
    ``next_key`` on. Keys are unique within the batch, updated keys
    first."""
    upd = rng.choice(live_keys, int(len(live_keys) * update_frac), replace=False)
    keys = np.concatenate([upd, np.arange(next_key, next_key + n_insert, dtype=np.int64)])
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys),
            "o_orderstatus": _pick(rng, ("F", "O", "P", "U"), n),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        }
    )


# ---------------------------------------------------------------------------
# SQL statement stream

def _day(d: int) -> str:
    return f"TIMESTAMP '{EPOCH + dt.timedelta(days=int(d)):%Y-%m-%d %H:%M:%S}'"


def _stmt(rng: np.random.Generator, kind: str, n_ord: int, n_cust: int) -> str:
    if kind == "point_order":
        return (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
            f"o_orderpriority FROM orders WHERE o_orderkey = {int(rng.integers(0, n_ord))}"
        )
    if kind == "point_customer":
        return (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
            f"FROM customer WHERE c_custkey = {int(rng.integers(0, n_cust))}"
        )
    if kind == "range_ship":
        d = int(rng.integers(0, ORDER_DAYS))
        return (
            "SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS revenue FROM lineitem "
            f"WHERE l_shipdate >= {_day(d)} AND l_shipdate < {_day(d + int(rng.integers(1, 15)))}"
        )
    if kind == "q1":
        return (
            "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
            "round(avg(l_discount), 4) AS avg_disc, count(*) AS count_order FROM lineitem "
            f"WHERE l_shipdate <= {_day(ORDER_DAYS - int(rng.integers(60, 600)))} "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        )
    if kind == "q3":
        d = _day(int(rng.integers(400, ORDER_DAYS - 400)))
        seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
        return (
            "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "o_orderdate, o_orderpriority FROM customer "
            "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
            f"WHERE c_mktsegment = '{seg}' AND o_orderdate < {d} AND l_shipdate > {d} "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, l_orderkey LIMIT 10"
        )
    if kind == "q6":
        y = int(rng.integers(0, 6))
        disc = int(rng.integers(2, 9))
        return (
            "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem "
            f"WHERE l_shipdate >= {_day(365 * y)} AND l_shipdate < {_day(365 * (y + 1))} "
            f"AND l_discount BETWEEN {(disc - 1) / 100:.2f} AND {(disc + 1) / 100:.2f} "
            f"AND l_quantity < {int(rng.integers(20, 30))}"
        )
    if kind == "q14":
        d = int(rng.integers(0, ORDER_DAYS - 30))
        return (
            "SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) "
            "/ sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue "
            f"FROM lineitem JOIN part ON l_partkey = p_partkey "
            f"WHERE l_shipdate >= {_day(d)} AND l_shipdate < {_day(d + 30)}"
        )
    raise ValueError(kind)


#: One deck of the REPL mix, in a fixed order: point lookups (the
#: reference's hash-index case), shipdate range scans (its tree-index
#: case) and TPC-H-shape aggregates and joins, which take turns. The
#: proportions, 60% / 25% / 15%, are an assumption, not measured
#: traffic: they were chosen so that the median op is a point lookup
#: and the 78th percentile a range scan, away from the class
#: boundaries, which keeps the percentiles steady from run to run.
#: Only the parameters follow the seed, so every run has the same mix
#: in the same order.
SQL_DECK = (
    "point_order", "point_customer", "range_ship", "point_order", "agg",
    "point_customer", "point_order", "range_ship", "point_customer", "range_ship",
    "point_order", "point_customer", "range_ship", "point_order", "agg",
    "point_customer", "point_order", "range_ship", "point_customer", "agg",
)
SQL_AGGS = ("q1", "q3", "q6", "q14")


def sql_stream(rng: np.random.Generator, n: int, n_ord: int, n_cust: int) -> list[tuple[str, str]]:
    """``n`` (kind, statement) pairs, deck after deck of ``SQL_DECK``."""
    out: list[tuple[str, str]] = []
    aggs = 0
    while len(out) < n:
        for kind in SQL_DECK:
            if kind == "agg":
                kind = SQL_AGGS[aggs % len(SQL_AGGS)]
                aggs += 1
            out.append((kind, _stmt(rng, kind, n_ord, n_cust)))
    return out[:n]
