"""The engine facade: catalog + SQL entry points.

Re-expresses the reference's public API on Spark:

* ``OlapEngine::execute_query(sql)`` (gpu-olap-core/src/lib.rs:52-68)
  -> ``OlapEngine.execute_query`` / ``.sql`` -> DataFrame-backed Result.
* ``Catalog::load_table(name, path)`` (gpu-olap-core/src/catalog.rs:32-73)
  -> ``load_table``: spark.read.parquet + temp view + small-table cache
  (the reference RAM-caches tables <10M rows, catalog.rs:49-59).
* ``query_pandas`` / ``query_polars`` (README.md:288-315,
  examples/python_usage.py:96-107,164-181) -> Arrow-accelerated
  ``spark.createDataFrame`` + temp view ``df`` + spark.sql.
* catalog introspection: ``list_tables`` / ``get_table_schema`` /
  ``drop_table`` (catalog.rs:76-116).

Deliberate semantic upgrades over the reference (documented, tested):
SQL three-valued NULL logic instead of sentinel values
(arrow-interop/src/lib.rs:15-17); ``x/0 -> NULL`` instead of ``0``
(executor.rs:434); real strings instead of FNV-1a hashes
(record_batch_convert.rs:112-130); ORDER BY direction honored
(parser.rs:94-105 drops it); LIMIT honored (physical_plan.rs:190-193
drops it); aliases survive (physical_plan.rs:208 drops them).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from gpu_olap_engine_spark.config import EngineConfig
from gpu_olap_engine_spark.session import apply_runtime_confs, get_spark


@dataclass
class TableMetadata:
    """Catalog entry (reference: TableMetadata, catalog.rs:11-22)."""

    name: str
    location: str
    schema: StructType
    row_count: int
    cached: bool


class QueryResult:
    """Thin result wrapper: DataFrame plus the reference's sinks.

    The reference returns Arrow batches that examples immediately
    ``.to_pandas()`` (python_usage.py:38,111). Here the DataFrame IS
    the result; sinks are methods. ``write_parquet`` is the 100 TB
    escape hatch the reference lacks (its only sink is driver RAM).
    """

    def __init__(self, df: DataFrame):
        self.df = df

    def to_pandas(self):
        return self.df.toPandas()

    def to_arrow(self):
        return self.df.toArrow()

    def collect(self):
        return self.df.collect()

    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        self.df.write.mode(mode).parquet(path)

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)

    @property
    def schema(self) -> StructType:
        return self.df.schema


class OlapEngine:
    """Spark-backed analytics engine with the reference's API shape."""

    def __init__(
        self,
        config: EngineConfig | None = None,
        spark: SparkSession | None = None,
    ):
        self.config = config or EngineConfig()
        if spark is None:
            self.spark = get_spark(self.config)
        else:
            self.spark = spark
            apply_runtime_confs(self.spark, self.config)
        self._catalog: dict[str, TableMetadata] = {}
        self._query_cache: dict[str, DataFrame] = {}
        self._table_cache: dict[str, DataFrame] = {}

    # -- catalog ------------------------------------------------------

    def load_table(self, name: str, path: str) -> TableMetadata:
        """Register a Parquet table (catalog.rs:32-73 analog).

        Row count comes from Parquet footers (a metadata-only Spark
        count). Tables under ``cache_row_threshold`` rows are cached
        when ``enable_cache`` — the analog of the reference's <10M-row
        RAM cache (catalog.rs:49-59); at 100 TB fact tables exceed the
        threshold and stream from storage, exactly as intended. Re-pointing
        a name releases the cache of the table it named before.
        """
        self.clear_query_cache()
        self._release_table_cache(name)
        df = self.spark.read.parquet(path)
        row_count = df.count()  # metadata-only for plain parquet scans
        cached = False
        if self.config.enable_cache and row_count < self.config.cache_row_threshold:
            df = df.cache()
            self._table_cache[name] = df
            cached = True
        df.createOrReplaceTempView(name)
        meta = TableMetadata(name, path, df.schema, row_count, cached)
        self._catalog[name] = meta
        return meta

    def register(self, name: str, df: DataFrame) -> None:
        """Register an arbitrary DataFrame as a queryable table."""
        self.clear_query_cache()
        self._release_table_cache(name)
        df.createOrReplaceTempView(name)
        self._catalog[name] = TableMetadata(name, "<dataframe>", df.schema, -1, False)

    def list_tables(self) -> list[str]:
        """catalog.rs:76-86 analog."""
        return sorted(self._catalog)

    def get_table_schema(self, name: str) -> StructType:
        """catalog.rs:89-108 analog; raises KeyError on unknown table
        (the reference errors too, catalog.rs:123-127)."""
        return self._catalog[name].schema

    def drop_table(self, name: str) -> None:
        """catalog.rs:111-116 analog; releases the table's cache."""
        self.clear_query_cache()
        self._release_table_cache(name)
        self._catalog.pop(name)
        self.spark.catalog.dropTempView(name)

    def _release_table_cache(self, name: str) -> None:
        """Unpersist the cache `name` holds, if any."""
        df = self._table_cache.pop(name, None)
        if df is not None:
            df.unpersist()

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    # -- query entry points -------------------------------------------

    def execute_query(self, sql: str) -> QueryResult:
        """lib.rs:52-68 analog: SQL -> columnar result.

        Parse/analyze/optimize/plan are Catalyst's; execution is
        Tungsten with whole-stage codegen — the roles the reference
        hand-built as parser.rs / optimizer.rs / physical_plan.rs /
        executor.rs + PTX JIT (codegen.rs:30-48).
        """
        return QueryResult(self.spark.sql(sql))

    # aliases: the reference's examples drive the engine as
    # engine.query(...) (examples/python_usage.py:32,42,58,248,275;
    # examples/rust_usage.rs:71); spark users expect .sql.
    query = execute_query
    sql = execute_query

    # -- direct catalog accessors (catalog.rs:83-101 analogs) ---------

    def get_table_location(self, name: str) -> str:
        """catalog.rs:90-94 analog; KeyError on unknown table."""
        return self._catalog[name].location

    def get_row_count(self, name: str) -> int:
        """catalog.rs:97-101 analog; KeyError on unknown table."""
        return self._catalog[name].row_count

    def get_table_data(self, name: str):
        """catalog.rs:83-87 analog: the table's data from cache if
        available, else None (the reference returns Option<Vec<
        RecordBatch>>). Cached tables round-trip through Arrow."""
        if name not in self._catalog:
            raise KeyError(name)
        if not self._catalog[name].cached:
            return None
        return self.spark.table(name).toArrow()

    def query_pandas(self, pdf: Any, sql: str, view_name: str = "df") -> Any:
        """README.md:288-293 analog: query a pandas DataFrame as ``df``.

        Arrow-accelerated both directions (createDataFrame / toPandas).
        """
        sdf = self.spark.createDataFrame(pdf)
        sdf.createOrReplaceTempView(view_name)
        try:
            return self.spark.sql(sql).toPandas()
        finally:
            self.spark.catalog.dropTempView(view_name)

    def query_polars(self, pl_df: Any, sql: str, view_name: str = "df") -> Any:
        """README.md:297-315 analog: query a Polars DataFrame as ``df``.

        Bridges through Arrow; returns a Polars DataFrame. Polars is an
        optional dependency (import-gated, like every non-baked lib).
        """
        import polars as pl  # optional dep; raises ImportError if absent

        sdf = self.spark.createDataFrame(pl_df.to_pandas())
        sdf.createOrReplaceTempView(view_name)
        try:
            return pl.from_arrow(self.spark.sql(sql).toArrow())
        finally:
            self.spark.catalog.dropTempView(view_name)

    def execute_query_cached(self, sql: str) -> QueryResult:
        """execute_query with a result cache keyed by SQL text — the
        working implementation of the reference's ``enable_cache``
        flag, which exists but is never consulted there
        (lib.rs:29-30,41). The DataFrame is persisted on first use;
        repeated identical queries reuse the materialized result until
        a catalog change (load_table, register, drop_table) clears the
        cache, since the same SQL text may then name other data."""
        if not self.config.enable_cache:
            return self.execute_query(sql)
        if sql not in self._query_cache:
            self._query_cache[sql] = self.spark.sql(sql).persist()
        return QueryResult(self._query_cache[sql])

    def clear_query_cache(self) -> None:
        for df in self._query_cache.values():
            df.unpersist()
        self._query_cache.clear()

    def profile_table(self, name: str, exact: bool = False) -> DataFrame:
        """Per-column profile: nulls, distinct count, min/max (as
        strings) — the data-quality pass run before ingesting a shard
        into a training corpus. One job; every column profiled in a
        single aggregate pass (no per-column scans).

        Distinct counts use approx_count_distinct (HLL++) by default:
        N exact countDistinct aggregates in one pass force an Expand
        that replicates every input row once per column — a scan
        multiplied by column count at 100 TB. ``exact=True`` restores
        exact counts for small tables."""
        from pyspark.sql import functions as F

        distinct = F.countDistinct if exact else F.approx_count_distinct
        df = self.spark.table(name)
        aggs = []
        for f in df.schema.fields:
            c = f.name
            aggs += [
                F.count(F.col(c)).alias(f"{c}__non_null"),
                distinct(F.col(c)).alias(f"{c}__distinct"),
                F.min(F.col(c)).cast("string").alias(f"{c}__min"),
                F.max(F.col(c)).cast("string").alias(f"{c}__max"),
            ]
        wide = df.agg(F.count(F.lit(1)).alias("__rows"), *aggs).collect()[0]
        rows = [
            (
                f.name,
                f.dataType.simpleString(),
                wide["__rows"] - wide[f"{f.name}__non_null"],
                wide[f"{f.name}__distinct"],
                wide[f"{f.name}__min"],
                wide[f"{f.name}__max"],
            )
            for f in df.schema.fields
        ]
        return self.spark.createDataFrame(
            rows,
            "column string, dtype string, n_null long, n_distinct long, "
            "min_value string, max_value string",
        )

    def register_function(self, name: str, f: Any, return_type: Any = None) -> None:
        """Register a custom scalar function usable from SQL — the
        Spark-idiomatic analog of the reference's custom-CUDA-kernel
        registration (`compiler.register_kernel`, README.md:354-378).

        Pass a pandas_udf for the vectorized (Arrow) path, or a plain
        callable + return_type for a row UDF (slow path; avoid in
        production queries).
        """
        if return_type is not None:
            self.spark.udf.register(name, f, return_type)
        else:
            self.spark.udf.register(name, f)

    def query_arrow(self, table: Any, sql: str, view_name: str = "df") -> Any:
        """Arrow-table in, Arrow-table out (record_batch interchange,
        arrow-interop/src/record_batch_convert.rs:22-33 analog). The
        table goes to Spark as Arrow, without a pandas round trip."""
        sdf = self.spark.createDataFrame(table)
        sdf.createOrReplaceTempView(view_name)
        try:
            return self.spark.sql(sql).toArrow()
        finally:
            self.spark.catalog.dropTempView(view_name)
