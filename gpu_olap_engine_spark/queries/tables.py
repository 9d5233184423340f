"""Shared helpers for query implementations.

Cross-engine determinism rules (Spark result must value-hash equal to
the DuckDB oracle's):

* Floating-point SUM/AVG depend on accumulation order, which differs
  between engines (and between runs under AQE). We therefore aggregate
  doubles through exact DECIMAL arithmetic and cast the final value
  back to DOUBLE — bit-identical on both engines. A double is never
  exactly halfway between two DECIMAL(,4) values, so the initial cast
  rounds identically everywhere.
* Computed integers are cast to BIGINT on both sides (Spark ``year()``
  is 32-bit, DuckDB's is 64-bit).
* Timestamps in output are converted to epoch seconds (BIGINT) where
  practical to dodge datetime unit mismatches.
* Every ORDER BY ... LIMIT has a unique tiebreaker column.

Construction rule: fixture reads pin their schema (SCHEMAS), so no
plan build runs a schema-inference job, and the operators write their
per-call derives as parsed SQL (see operators/dedup.py): a Column node
or Python lambda costs a driver -> JVM gateway call of about
0.2-0.5 ms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# One DDL schema per fixture table, equal to what parquet inference
# yields on every fixture set (pinned by
# tests/test_plans.py::test_pinned_schemas_match_parquet). Reading
# through a given schema skips Spark's schema-inference job — a
# one-task footer read that cost ~0.1 s per T() call against ~0.02 s
# pinned — so building a plan over fixture tables runs no Spark job.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, "
        "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, "
        "l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table through its pinned schema (SCHEMAS).
    Plain parquet scan: Catalyst pushes filters and prunes columns
    into it (verified in tests/test_plans).

    The timestamp columns are microsecond parquet TIMESTAMPs without a
    UTC adjustment, i.e. TIMESTAMP_NTZ. The reader also accepts a
    UTC-adjusted column there (the session time zone is UTC), widens
    narrower integers, and returns NULL for a column a file lacks.
    """
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def qident(name: str) -> str:
    """Backtick-quoted SQL identifier with embedded backticks escaped
    (ADVICE r13 #1): every SQL fragment that interpolates a column
    name goes through here so a pathological name breaks nothing (it
    would otherwise terminate the quoting early)."""
    return "`" + name.replace("`", "``") + "`"


import itertools as _itertools

# itertools.count is atomic under the GIL — a bare `global n; n += 1`
# is a read-modify-write that can hand two concurrently-executing
# query callables the same view name.
_VIEW_SEQ = _itertools.count(1)


def _view(df: DataFrame, prefix: str) -> str:
    """Register df as a uniquely-named temp view and return the name.

    SQL-string queries need views; unique names make query callables
    safe under concurrent execution in one shared session (the
    driver's prerogative)."""
    name = f"_goe_{prefix}_{next(_VIEW_SEQ)}"
    df.createOrReplaceTempView(name)
    return name


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    Small-file inputs (one parquet file == one partition) serialize
    CPU-heavy derivations like shingling or vector scoring onto a
    single core; a cheap shuffle of the narrow input rows unlocks full
    parallelism. At 100 TB inputs arrive in thousands of splits and
    this becomes a no-op choice — callers use it only ahead of
    compute-bound, per-row-expensive stages.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def dsum(c: str | Column, alias: str, scale: int = 4) -> Column:
    """Exact SUM over doubles: decimal-accumulate, emit double.

    Oracle twin: CAST(SUM(CAST(x AS DECIMAL(18,scale))) AS DOUBLE).
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def davg(c: str | Column, alias: str, scale: int = 4) -> Column:
    """Exact AVG: decimal sum cast to double, divided by count.

    Oracle twin: CAST(SUM(CAST(x AS DECIMAL(18,scale))) AS DOUBLE)
                 / COUNT(x).
    """
    col = F.col(c) if isinstance(c, str) else c
    return (
        F.sum(col.cast(f"decimal(18,{scale})")).cast("double") / F.count(col)
    ).alias(alias)


def o_dsum(expr: str, scale: int = 4) -> str:
    """DuckDB-side twin of dsum (SQL fragment, unaliased)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def o_davg(expr: str, scale: int = 4) -> str:
    """DuckDB-side twin of davg (SQL fragment, unaliased)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) / COUNT({expr})"
