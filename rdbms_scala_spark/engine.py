"""SQL engine facade — the reference's user surface, on Spark.

The reference is a REPL: an infinite stdin loop that parses each line
with Spark's own SQL grammar and branches on CREATE TABLE vs. query
(Microbase.scala:942-949, 950, 1034). Because the reference's parser
IS Spark's parser (SparkSqlParser via the catalyzer repackaging,
Microbase.scala:38-45), a user's existing statements run here
**verbatim**:

- ``CREATE TABLE R (bar int, baz int) USING csv
  OPTIONS(path '...', delimiter '|')`` (Microbase.scala:943-946,
  handler 950-983) → Spark's native CSV table DDL. The reference's
  eager load into heap (962-983) becomes a lazy scan; call
  ``Engine.cache(name)`` for the same pre-loaded behavior.
- ``hash_index`` / ``tree_index`` OPTIONS (Microbase.scala:994-1024)
  are accepted and ignored by the CSV source — their purpose (point
  lookup / range scan acceleration) is served by Parquet/CSV filter
  pushdown, broadcast hash joins, and AQE (SURVEY.md §2.1 S2/S3).
- Query statements → ``spark.sql`` through the full Catalyst
  analyzer/optimizer, replacing the hand-written resolver
  (Microbase.scala:78-244) and the Volcano interpreter (763-785).

Output formatting mirrors the reference's sink (S6,
Microbase.scala:1070-1088): pipe-delimited rows, dates rendered as
ISO ``yyyy-MM-dd`` (the reference prints ``LocalDate.ofEpochDay``,
line 1079).

Deliberate deviations (SURVEY.md §8 quirk ledger): identifiers keep
user case with case-insensitive matching, AVG returns Double, join
types are honored, bare UNION dedups, NULL semantics are ANSI.
"""

from __future__ import annotations

import sys
from datetime import date, datetime
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession


def _is_query(df: DataFrame | None) -> bool:
    """DDL/DML statements come back as an empty zero-column frame."""
    return df is not None and len(df.schema.fields) > 0


def format_value(v: object) -> str:
    """Reference sink rendering (Microbase.scala:1074-1088): dates as
    ISO days, NULL as empty string, everything else ``str``."""
    if v is None:
        return ""
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def format_rows(rows: Iterable) -> Iterator[str]:
    """Pipe-delimited lines, one per row (Microbase.scala:1082-1087)."""
    for row in rows:
        yield "|".join(format_value(v) for v in row)


class Engine:
    """Single-session SQL engine with the reference's REPL contract.

    Unlike the reference's globals (catalog ``hm`` / storage
    ``hashData``, Microbase.scala:29-30), all state lives in the
    SparkSession's catalog, so many engines can coexist and the same
    statements work unchanged against a real cluster metastore.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def execute(self, sql: str) -> DataFrame | None:
        """Run one statement; returns a DataFrame for queries, None
        for DDL (mirroring the reference's two REPL branches at
        Microbase.scala:950/1034)."""
        text = sql.strip().rstrip(";")
        if not text:
            return None
        df = self.spark.sql(text)
        return df if _is_query(df) else None

    def register_parquet(self, name: str, path: str) -> DataFrame:
        """Register a Parquet file/dir as a queryable table — the
        modern equivalent of the reference's CREATE TABLE load path."""
        df = self.spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        return df

    def register_dataframe(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def cache(self, name: str) -> None:
        """Pre-load a table into memory, like the reference's eager
        CREATE TABLE materialization (Microbase.scala:962-983)."""
        self.spark.catalog.cacheTable(name)

    def tables(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    def run_and_format(self, sql: str) -> list[str]:
        """Execute and render like the reference's stdout sink."""
        df = self.execute(sql)
        if df is None:
            return []
        return list(format_rows(df.collect()))

    def repl(self, lines: Iterable[str] | None = None, out=None) -> None:
        """stdin→stdout loop (Microbase.scala:942-1099). Errors print
        and continue rather than killing the session."""
        src = lines if lines is not None else sys.stdin
        out = out if out is not None else sys.stdout
        for line in src:
            stmt = line.strip()
            if not stmt or stmt.startswith("--"):
                continue
            if stmt.rstrip(";").strip().lower() in ("exit", "quit"):
                break
            try:
                for rendered in self.run_and_format(stmt):
                    print(rendered, file=out)
            except Exception as exc:  # noqa: BLE001 — REPL must survive bad SQL
                print(f"ERROR: {exc}", file=out)
