"""Query registry: every implemented operator, with its DuckDB oracle.

Each entry pairs a Spark implementation (``fn(spark, sf_dir) ->
DataFrame``) with an equivalent ANSI-SQL string the DuckDB oracle runs
on the same parquet tables. The driver hash-compares the two at
sf=0.01 (row count + schema + order-insensitive value hash), so every
computed column is aliased identically on both sides and floating
aggregates use exact decimal arithmetic (see ``queries.tables``).

Entries whose semantics are not SQL-expressible (streaming state,
ML-backed LSH) carry ``oracle=None`` -> rows-only check.

Entries run in a query scope (``persist.query_scoped``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from gpu_olap_engine_spark.persist import query_scoped


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a query-scoped implementation + its oracle SQL."""

    def deco(fn):
        fn = query_scoped(fn)
        REGISTRY[name] = Query(name, fn, oracle, doc or (fn.__doc__ or "").strip())
        return fn

    return deco


_LOADED = False


def load_all() -> dict[str, Query]:
    """Import all query modules (idempotent) and return the registry."""
    global _LOADED
    if not _LOADED:
        from gpu_olap_engine_spark.queries import (  # noqa: F401
            analytics,
            audit,
            dedup,
            events,
            extras,
            mleval,
            multimodal,
            pipeline,
            relational,
            scalar_suites,
            similarity,
            storage,
            streaming_exec,
            text,
            tpch,
            tpch_ps,
            udfs,
        )

        _LOADED = True
    return REGISTRY
