"""Run every oracle whose text differs between a parent checkout and
this one through DuckDB, and compare the two sides' sorted rows.

Usage: python scripts/oracle_diff.py <parent-checkout> <sf_dir>

sf_dir holds the <table>.parquet files. Prints one line per changed
oracle (SAME or DIFF, row count, both sides' seconds) and a DONE line
with the failure count; exits 1 on any DIFF or error. DuckDB runs under
the same 3 GB memory limit as the tests, spilling to a private temp
dir. No Spark session is started.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

import duckdb

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run in a child process per checkout: both define the same module names
DUMP = (
    "import json, sys; sys.path.insert(0, sys.argv[1]); "
    "import __spark_entry__ as e; print(json.dumps(e.oracle_sql()))"
)


def oracles(checkout: str) -> dict[str, str]:
    out = subprocess.run(
        [sys.executable, "-c", DUMP, checkout], capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout)


def rows(con, sql: str) -> tuple[list, float]:
    t0 = time.perf_counter()
    got = con.execute(sql).fetchall()
    dt = time.perf_counter() - t0
    def cell(v):
        return "nan" if isinstance(v, float) and math.isnan(v) else repr(v)

    return sorted(tuple(cell(v) for v in r) for r in got), dt


def main() -> int:
    parent, sf = sys.argv[1], sys.argv[2]
    old, new = oracles(parent), oracles(HERE)
    names = sorted(n for n in new if old.get(n) != new[n])
    spill = tempfile.mkdtemp(prefix="duckdb_spill_")
    con = duckdb.connect(config={"temp_directory": spill, "memory_limit": "3GB"})
    bad = 0
    try:
        for f in sorted(os.listdir(sf)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{sf}/{f}')")
        for name in names:
            try:
                if name not in old:
                    print(f"{name}: NEW (no parent oracle)")
                    continue
                (a, ta), (b, tb) = rows(con, old[name]), rows(con, new[name])
                bad += a != b
                status = "SAME" if a == b else "DIFF"
                print(f"{name}: {status} rows={len(b)} parent={ta:.2f}s change={tb:.2f}s")
            except duckdb.Error as ex:
                bad += 1
                print(f"{name}: ERROR {type(ex).__name__}: {ex}")
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)
    print(f"DONE changed={len(names)} failures={bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
