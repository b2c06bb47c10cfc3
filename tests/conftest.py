"""Shared fixtures: one SparkSession per test run, a DuckDB connection
with the same parquet tables registered as views, and the sf dir under
test (default sf0.01 — the driver's correctness-gate scale, so plain
`pytest` exercises exactly what the gate sees; set
RDBMS_SPARK_TEST_SF_DIR=/root/testdata/sf0.001 for a faster local
loop)."""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import tempfile

import duckdb
import pytest
from hypothesis import settings as hyp_settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Hypothesis profiles (round-9 verdict #2): the default "ci" profile is
# DERANDOMIZED so a committed run is reproducible — a green pytest
# certifies exactly the 6 examples every future run will draw, never
# seed luck. Round-boundary certification runs the "thorough" profile
# (HYPOTHESIS_PROFILE=thorough → 200 randomized examples per property,
# example DB on, so found falsifiers replay); SELFCHECK records which
# profile certified.
hyp_settings.register_profile(
    "ci", max_examples=6, derandomize=True, deadline=None
)
hyp_settings.register_profile(
    "thorough", max_examples=200, derandomize=False, deadline=None
)
hyp_settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "ci"))

from rdbms_scala_spark.catalog import TABLES, table_path
from rdbms_scala_spark.session import get_spark

SF_DIR = os.environ.get("RDBMS_SPARK_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("rdbms_scala_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@contextlib.contextmanager
def _duckdb_connection():
    """A DuckDB connection that spills to its own temp dir, removed
    when the connection closes, and is held to 3 GB of memory beside
    the Spark JVM. DuckDB's default spill dir is ./.tmp, which a killed
    run leaves behind."""
    spill = tempfile.mkdtemp(prefix="duckdb_spill_")
    con = duckdb.connect(config={"temp_directory": spill, "memory_limit": "3GB"})
    try:
        yield con
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)


@pytest.fixture
def duckdb_con():
    with _duckdb_connection() as con:
        yield con


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with each parquet table registered as a view,
    matching the driver's oracle environment."""
    with _duckdb_connection() as con:
        for name in TABLES:
            path = table_path(SF_DIR, name)
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        yield con
