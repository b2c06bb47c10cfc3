"""Query registry: one named entry per implemented operator/query.

Every operator from SURVEY.md §2 (plus the north-star extensions)
lands here as a ``QuerySpec``: a PySpark callable ``(spark, sf_dir) ->
DataFrame`` paired (where SQL-expressible) with an ANSI-SQL oracle
string that DuckDB runs on the same Parquet tables.
``tests/test_registry.py`` and ``scripts/driver_sim.py`` compare the
two per query, and ``__spark_entry__.py`` exposes both. The registry
keeps registration order and carries no other ordering policy:
callers that need a stable order sort by name.

Convention: every computed/aggregate column is aliased identically in
the Spark code and the oracle SQL; floating aggregates are rounded
(money sums to 2 decimals, ratios/averages to 4) on BOTH sides so the
order-insensitive value hash is stable under reordered float addition.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Import every query module (side effect: registration) and
    return the full registry in registration order (module import
    order, then definition order within a module)."""
    # Imports are deferred so `import rdbms_scala_spark` stays cheap.
    from rdbms_scala_spark.queries import tpch, tpch_ext, tpch_ps  # noqa: F401
    from rdbms_scala_spark.queries import behavior, sql_surface  # noqa: F401
    from rdbms_scala_spark.functions import scalar, semi_structured, udfs  # noqa: F401
    from rdbms_scala_spark.operators import (  # noqa: F401
        relational,
        joins,
        aggregates,
        setops,
        subqueries,
        windows,
    )
    from rdbms_scala_spark.pipeline import (  # noqa: F401
        chunking,
        dedup,
        retrieval,
        similarity,
        snapshot,
        text,
        multimodal,
        sampling,
    )
    from rdbms_scala_spark.sources import files as _files  # noqa: F401
    from rdbms_scala_spark.sources import stats as _stats  # noqa: F401
    from rdbms_scala_spark.streaming import events as _events  # noqa: F401
    from rdbms_scala_spark.streaming import jobs as _jobs  # noqa: F401

    return dict(_REGISTRY)
