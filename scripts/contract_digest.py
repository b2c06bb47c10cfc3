"""Print one line per registry query: its name and the sha256 of its
DuckDB oracle string ("-" when the query has none), sorted by name.

Usage: python scripts/contract_digest.py > digest.txt

Diff the output of two checkouts to see which oracle strings a change
touched; a refactor that keeps the driver contract shows no diff. No
Spark session is started.
"""
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402

oracles = e.oracle_sql()
for name in sorted(e.queries()):
    sql = oracles.get(name)
    digest = hashlib.sha256(sql.encode()).hexdigest() if sql is not None else "-"
    print(name, digest)
