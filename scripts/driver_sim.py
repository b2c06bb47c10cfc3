"""Fresh-process driver simulation per .claude/skills/verify/SKILL.md.

Usage: python scripts/driver_sim.py [name-substring ...]
Runs entry() smoke plus every queries() entry whose name contains any
given substring (all queries if none given), comparing against
oracle_sql() through DuckDB at sf0.01.
"""
import atexit
import shutil
import sys
import tempfile

sys.path.insert(0, "/root/repo")

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

import __spark_entry__ as e

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.session.timeZone", "UTC")
    .appName("driver-sim")
    .getOrCreate()
)

# spill to a private temp dir removed at exit, not to ./.tmp; 3 GB
# of memory at most beside the Spark JVM
spill = tempfile.mkdtemp(prefix="duckdb_spill_")
con = duckdb.connect(config={"temp_directory": spill, "memory_limit": "3GB"})


@atexit.register
def _close_duckdb() -> None:
    con.close()
    shutil.rmtree(spill, ignore_errors=True)

for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

rows = e.entry(spark).collect()
print(f"entry: {len(rows)} rows OK", flush=True)

qs, os_ = e.queries(), e.oracle_sql()
pats = sys.argv[1:]
names = [n for n in sorted(qs) if not pats or any(p in n for p in pats)]
fail = 0
for name in names:
    try:
        sdf = qs[name](spark, SF).toPandas()
        if name not in os_:
            status = f"rows_only n={len(sdf)}" + (" EMPTY!" if len(sdf) == 0 else "")
            print(f"{name}: {status}", flush=True)
            continue
        odf = con.execute(os_[name]).fetchdf()
        ok_rows = len(sdf) == len(odf)
        scols = sorted(c.lower() for c in sdf.columns)
        ocols = sorted(c.lower() for c in odf.columns)
        ok_schema = scols == ocols
        def canon(df):
            d = df.copy()
            d.columns = [c.lower() for c in d.columns]
            d = d[sorted(d.columns)]
            vals = []
            for tup in d.itertuples(index=False):
                vals.append(tuple(str(x) for x in tup))
            return sorted(vals)
        ok_vals = ok_rows and ok_schema and canon(sdf) == canon(odf)
        tag = "OK" if (ok_rows and ok_schema and ok_vals) else "MISMATCH"
        if tag != "OK":
            fail += 1
            print(f"{name}: {tag} rows={ok_rows}({len(sdf)}/{len(odf)}) schema={ok_schema} vals={ok_vals}", flush=True)
            if not ok_schema:
                print(f"  spark={scols}\n  oracle={ocols}", flush=True)
        else:
            print(f"{name}: OK n={len(sdf)}", flush=True)
    except Exception as ex:
        fail += 1
        print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:300]}", flush=True)
print(f"DONE {len(names)} queries, {fail} failures", flush=True)
sys.exit(1 if fail else 0)
