"""Engine/REPL facade: the reference's SQL surface runs verbatim.

Exercises the REPL contract (Microbase.scala:942-1099) — CSV DDL with
pipe delimiter, SELECT with expressions/order/limit, joins and
aggregates over registered tables, and the pipe-delimited sink — plus
the deliberate §8 deviations (honored join types, ANSI avg)."""

from __future__ import annotations

import io

import pytest
from pyspark.sql import Row

from rdbms_scala_spark.engine import Engine, format_rows, format_value


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("refdata")
    # shape of the reference's R.data / S.data toys (SURVEY.md §5)
    (d / "R.data").write_text("1|10\n2|20\n3|30\n4|40\n")
    (d / "S.data").write_text("1|alpha|2020-01-05\n2|beta|2021-03-09\n")
    return d


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


def test_reference_ddl_and_query_verbatim(engine, csv_dir):
    # the reference's documented example statements (Microbase.scala:943-946),
    # including an index OPTION the Spark CSV source must tolerate.
    engine.execute(
        f"CREATE TABLE R (bar int, baz int) USING csv "
        f"OPTIONS(path '{csv_dir}/R.data', delimiter '|', hash_index 'bar')"
    )
    df = engine.execute("SELECT bar, bar * 15 as biz, baz FROM R ORDER BY bar asc, baz asc limit 10")
    rows = [tuple(r) for r in df.collect()]
    assert rows == [(1, 15, 10), (2, 30, 20), (3, 45, 30), (4, 60, 40)]
    engine.execute("DROP TABLE R")


def test_tree_index_ddl_option_tolerated(engine, csv_dir):
    # the reference's OTHER index kind (Microbase.scala:1009-1024
    # accepts both hash_index and tree_index options); Parquet min/max
    # stats + pushdown are the Spark analog, the DDL must parse
    engine.execute(
        f"CREATE TABLE RT (bar int, baz int) USING csv "
        f"OPTIONS(path '{csv_dir}/R.data', delimiter '|', tree_index 'baz')"
    )
    df = engine.execute("SELECT bar, baz FROM RT WHERE baz >= 20 ORDER BY bar")
    assert [tuple(r) for r in df.collect()] == [(2, 20), (3, 30), (4, 40)]
    engine.execute("DROP TABLE RT")


def test_date_typed_csv_and_pipe_sink(engine, csv_dir):
    engine.execute(
        f"CREATE TABLE S (id int, name string, d date) USING csv "
        f"OPTIONS(path '{csv_dir}/S.data', delimiter '|')"
    )
    lines = engine.run_and_format("SELECT id, name, d FROM S ORDER BY id")
    # reference sink: pipe-delimited, dates via LocalDate.ofEpochDay (1079)
    assert lines == ["1|alpha|2020-01-05", "2|beta|2021-03-09"]
    engine.execute("DROP TABLE S")


def test_parquet_registration_join_agg(engine, sf_dir):
    engine.register_parquet("o", f"{sf_dir}/orders.parquet")
    engine.register_parquet("c", f"{sf_dir}/customer.parquet")
    df = engine.execute(
        "SELECT c.c_mktsegment, count(*) AS n, round(avg(o.o_totalprice), 4) AS avg_price "
        "FROM o JOIN c ON o.o_custkey = c.c_custkey GROUP BY c.c_mktsegment"
    )
    rows = df.collect()
    assert len(rows) > 0
    # §8 quirk 3: AVG is a double even over money columns
    assert all(isinstance(r["avg_price"], float) for r in rows)


def test_ddl_returns_none_query_returns_df(engine, csv_dir):
    assert (
        engine.execute(
            f"CREATE TABLE R2 (bar int, baz int) USING csv "
            f"OPTIONS(path '{csv_dir}/R.data', delimiter '|')"
        )
        is None
    )
    assert engine.execute("SELECT count(*) AS n FROM R2").collect()[0]["n"] == 4
    engine.execute("DROP TABLE R2")


def test_union_distinct_and_join_types_honored(engine, csv_dir):
    # §8 quirks 5/6: bare UNION dedups; LEFT JOIN is a real left join.
    engine.execute(
        f"CREATE TABLE R3 (bar int, baz int) USING csv "
        f"OPTIONS(path '{csv_dir}/R.data', delimiter '|')"
    )
    assert engine.execute("SELECT bar FROM R3 UNION SELECT bar FROM R3").count() == 4
    left = engine.execute(
        "SELECT a.bar, b.baz FROM R3 a LEFT JOIN "
        "(SELECT * FROM R3 WHERE bar <= 2) b ON a.bar = b.bar"
    ).collect()
    assert len(left) == 4
    assert sum(1 for r in left if r["baz"] is None) == 2
    engine.execute("DROP TABLE R3")


def test_repl_loop_survives_errors(engine, csv_dir):
    out = io.StringIO()
    script = [
        f"CREATE TABLE R4 (bar int, baz int) USING csv OPTIONS(path '{csv_dir}/R.data', delimiter '|')",
        "SELECT nonexistent FROM R4",  # must not kill the loop
        "SELECT sum(bar) AS s FROM R4",
        "DROP TABLE R4",
        "exit",
        "SELECT 1",  # after exit: never runs
    ]
    engine.repl(lines=script, out=out)
    text = out.getvalue()
    assert "ERROR:" in text
    assert "10" in text.splitlines()[-1]


def test_format_value_rendering():
    from datetime import date

    assert format_value(None) == ""
    assert format_value(date(1998, 9, 2)) == "1998-09-02"
    assert list(format_rows([Row(a=1, b="x"), Row(a=None, b="y")])) == ["1|x", "|y"]


def test_reference_shipped_tpch_data_end_to_end(engine, duckdb_con):
    """A reference user switches engines WITHOUT touching their data:
    the reference repo ships dbgen-format TPC-H files (~2k rows/table,
    pipe-delimited, including the full-width LINEITEM and a real
    PARTSUPP); our engine's verbatim CSV DDL loads those exact files
    and answers TPC-H-shaped SQL on them. Cross-checked against DuckDB
    reading the same files, so the parity claim is engine-vs-engine on
    the reference's own bytes."""
    import os

    ref = "/root/reference/data"
    if not os.path.isdir(ref):
        pytest.skip("reference data not present")

    engine.execute(
        "CREATE TABLE REF_LINEITEM (l_orderkey int, l_partkey int, l_suppkey int, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate date, l_commitdate date, l_receiptdate date, "
        "l_shipinstruct string, l_shipmode string, l_comment string) "
        f"USING csv OPTIONS(path '{ref}/LINEITEM.data', delimiter '|')"
    )
    engine.execute(
        "CREATE TABLE REF_PARTSUPP (ps_partkey int, ps_suppkey int, "
        "ps_availqty int, ps_supplycost double, ps_comment string) "
        f"USING csv OPTIONS(path '{ref}/PARTSUPP.data', delimiter '|', hash_index 'ps_partkey')"
    )
    engine.execute(
        "CREATE TABLE REF_SUPPLIER (s_suppkey int, s_name string, s_address string, "
        "s_nationkey int, s_phone string, s_acctbal double, s_comment string) "
        f"USING csv OPTIONS(path '{ref}/SUPPLIER.data', delimiter '|')"
    )

    con = duckdb_con
    con.execute(
        f"""CREATE VIEW L AS SELECT * FROM read_csv('{ref}/LINEITEM.data', delim='|', header=false,
        columns={{'l_orderkey':'INTEGER','l_partkey':'INTEGER','l_suppkey':'INTEGER',
        'l_linenumber':'INTEGER','l_quantity':'DOUBLE','l_extendedprice':'DOUBLE',
        'l_discount':'DOUBLE','l_tax':'DOUBLE','l_returnflag':'VARCHAR','l_linestatus':'VARCHAR',
        'l_shipdate':'DATE','l_commitdate':'DATE','l_receiptdate':'DATE',
        'l_shipinstruct':'VARCHAR','l_shipmode':'VARCHAR','l_comment':'VARCHAR'}})"""
    )
    con.execute(
        f"""CREATE VIEW PS AS SELECT * FROM read_csv('{ref}/PARTSUPP.data', delim='|', header=false,
        columns={{'ps_partkey':'INTEGER','ps_suppkey':'INTEGER','ps_availqty':'INTEGER',
        'ps_supplycost':'DOUBLE','ps_comment':'VARCHAR'}})"""
    )
    con.execute(
        f"""CREATE VIEW S AS SELECT * FROM read_csv('{ref}/SUPPLIER.data', delim='|', header=false,
        columns={{'s_suppkey':'INTEGER','s_name':'VARCHAR','s_address':'VARCHAR',
        's_nationkey':'INTEGER','s_phone':'VARCHAR','s_acctbal':'DOUBLE','s_comment':'VARCHAR'}})"""
    )

    # Q1-shaped aggregate over the full-width lineitem
    got = {
        (r.l_returnflag, r.l_linestatus): (r.n, round(r.sum_qty, 2))
        for r in engine.execute(
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "sum(l_quantity) AS sum_qty FROM REF_LINEITEM "
            "GROUP BY l_returnflag, l_linestatus"
        ).collect()
    }
    exp = {
        (f, s): (n, round(q, 2))
        for f, s, n, q in con.execute(
            "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity) "
            "FROM L GROUP BY 1, 2"
        ).fetchall()
    }
    assert got == exp

    # Q11-shaped partsupp x supplier national stock value. Compared as
    # an unordered dict with values rounded post-collect: ordering by
    # the raw double sum across two engines is ulp-order-sensitive
    # (engine-specific accumulation order can swap near-ties around a
    # LIMIT boundary), while the rounded per-key values are stable.
    got_ps = {
        r.ps_partkey: round(r.value, 2)
        for r in engine.execute(
            "SELECT ps_partkey, sum(ps_supplycost * ps_availqty) AS value "
            "FROM REF_PARTSUPP JOIN REF_SUPPLIER ON ps_suppkey = s_suppkey "
            "WHERE s_nationkey < 5 GROUP BY ps_partkey"
        ).collect()
    }
    exp_ps = {
        k: round(v, 2)
        for k, v in con.execute(
            "SELECT ps_partkey, sum(ps_supplycost * ps_availqty) AS value "
            "FROM PS JOIN S ON ps_suppkey = s_suppkey WHERE s_nationkey < 5 "
            "GROUP BY ps_partkey"
        ).fetchall()
    }
    assert got_ps == exp_ps

    for t in ("REF_LINEITEM", "REF_PARTSUPP", "REF_SUPPLIER"):
        engine.execute(f"DROP TABLE {t}")
