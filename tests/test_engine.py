"""Engine facade: catalog behavior, entry points, config mapping
(reference API parity — lib.rs:52-78, catalog.rs:32-116,
README.md:288-315)."""

from __future__ import annotations

import pandas as pd
import pytest

from gpu_olap_engine_spark.config import EngineConfig
from gpu_olap_engine_spark.engine import OlapEngine
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def engine(spark):
    eng = OlapEngine(EngineConfig(shuffle_partitions=8), spark=spark)
    eng.load_table("orders", f"{SF_SMALL}/orders.parquet")
    eng.load_table("customer", f"{SF_SMALL}/customer.parquet")
    return eng


def test_load_table_metadata(engine):
    meta = engine._catalog["orders"]
    assert meta.row_count == 1500
    assert meta.cached  # under the 10M-row cache threshold
    assert "o_orderkey" in [f.name for f in meta.schema.fields]


def test_execute_query_canonical(engine):
    """The reference README's canonical query (README.md:272-282)."""
    pdf = engine.execute_query(
        """
        SELECT c_name, COUNT(*) AS cnt, SUM(o_totalprice) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_name ORDER BY total DESC LIMIT 5
        """
    ).to_pandas()
    assert len(pdf) == 5
    assert list(pdf.columns) == ["c_name", "cnt", "total"]
    assert pdf["total"].is_monotonic_decreasing


def test_catalog_introspection(engine):
    assert set(engine.list_tables()) >= {"orders", "customer"}
    assert engine.get_table_schema("orders").fieldNames()[0] == "o_orderkey"
    with pytest.raises(KeyError):
        engine.get_table_schema("nonexistent")  # catalog.rs:123-127 analog


def test_drop_table(engine):
    engine.load_table("region_tmp", f"{SF_SMALL}/region.parquet")
    assert "region_tmp" in engine.list_tables()
    engine.drop_table("region_tmp")
    assert "region_tmp" not in engine.list_tables()


def test_query_pandas_roundtrip(engine):
    """README.md:288-293: pandas in, SQL over view `df`, pandas out."""
    pdf = pd.DataFrame({"id": [1, 2, 3, 4], "cat": list("ABAB"), "v": [1.0, 2.0, 3.0, 4.0]})
    out = engine.query_pandas(
        pdf, "SELECT cat, SUM(v) AS sv FROM df GROUP BY cat ORDER BY cat"
    )
    assert out["sv"].tolist() == [4.0, 6.0]
    # the temp view is cleaned up afterwards
    assert "df" not in [t.name for t in engine.spark.catalog.listTables()]


def test_query_arrow_roundtrip(engine):
    import pyarrow as pa

    t = pa.table({"x": [1, 2, 3], "g": ["a", "a", "b"]})
    out = engine.query_arrow(t, "SELECT g, COUNT(*) AS c FROM df GROUP BY g ORDER BY g")
    assert out.to_pydict() == {"g": ["a", "b"], "c": [2, 1]}


def test_result_write_parquet_roundtrip(engine, tmp_path):
    path = str(tmp_path / "out.parquet")
    engine.execute_query("SELECT * FROM orders WHERE o_totalprice > 400000").write_parquet(path)
    back = engine.spark.read.parquet(path)
    assert back.count() == engine.execute_query(
        "SELECT COUNT(*) AS c FROM orders WHERE o_totalprice > 400000"
    ).collect()[0]["c"]


def test_query_result_cache(engine):
    """Working implementation of the reference's unused enable_cache
    flag (lib.rs:29-30,41): identical SQL reuses the persisted result."""
    sql = "SELECT COUNT(*) AS c FROM orders WHERE o_totalprice > 100000"
    r1 = engine.execute_query_cached(sql)
    assert r1.df.storageLevel.useMemory  # persisted
    r2 = engine.execute_query_cached(sql)
    assert r2.df is r1.df  # same materialized plan object
    assert r1.collect()[0]["c"] == r2.collect()[0]["c"]
    engine.clear_query_cache()
    assert engine._query_cache == {}


def test_query_result_cache_cleared_on_catalog_change(engine):
    """The result cache keys on SQL text, so a catalog change that
    re-points a name must clear it: the same SQL then reads the new
    data, not the rows cached for the old table."""
    sql = "SELECT COUNT(*) AS c FROM reload_tmp"
    engine.load_table("reload_tmp", f"{SF_SMALL}/region.parquet")
    assert engine.execute_query_cached(sql).collect()[0]["c"] == 5
    engine.load_table("reload_tmp", f"{SF_SMALL}/nation.parquet")
    assert engine.execute_query_cached(sql).collect()[0]["c"] == 25
    engine.register("reload_tmp", engine.spark.range(7))
    assert engine.execute_query_cached(sql).collect()[0]["c"] == 7
    engine.drop_table("reload_tmp")
    assert engine._query_cache == {}


def test_reload_and_drop_release_table_cache(spark):
    """load_table caches small tables; re-pointing the name and dropping
    it release each cache it held, so neither outlives its name."""
    from pyspark import StorageLevel

    eng = OlapEngine(EngineConfig(shuffle_partitions=8), spark=spark)
    region = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    eng.load_table("t_release", f"{SF_SMALL}/region.parquet")
    assert eng.execute_query("SELECT COUNT(*) AS c FROM t_release").collect()[0]["c"] == 5
    assert region.storageLevel != StorageLevel.NONE
    eng.load_table("t_release", f"{SF_SMALL}/nation.parquet")
    assert region.storageLevel == StorageLevel.NONE
    assert nation.storageLevel != StorageLevel.NONE
    eng.drop_table("t_release")
    assert nation.storageLevel == StorageLevel.NONE


def test_query_arrow_matches_pandas_path(engine):
    """query_arrow hands the Arrow table to Spark directly: NULLs, a
    date and a double come back as they did through to_pandas(), and an
    integer column with a NULL stays an integer (pandas made it a
    double)."""
    import datetime

    import pyarrow as pa

    t = pa.table({
        "d": pa.array([datetime.date(2024, 1, 1), None, datetime.date(1999, 12, 31)]),
        "x": pa.array([1.5, None, -0.25], pa.float64()),
        "s": pa.array(["a", None, "b"]),
        "n": pa.array([1, None, 3], pa.int64()),
    })
    sql = "SELECT d, x, s, date_add(d, 1) AS d1, x * 2 AS x2, n FROM df ORDER BY s NULLS FIRST"
    got = engine.query_arrow(t, sql)
    engine.spark.createDataFrame(t.to_pandas()).createOrReplaceTempView("df")
    try:
        want = engine.spark.sql(sql).toArrow()
    finally:
        engine.spark.catalog.dropTempView("df")
    cols = ["d", "x", "s", "d1", "x2"]
    assert got.select(cols).equals(want.select(cols))
    assert got.column("x").null_count == 1 and got.column("d").null_count == 1
    assert got.schema.field("n").type == pa.int64()
    assert got.column("n").to_pylist() == [None, 1, 3]


def test_profile_table(engine):
    """Default profile is approximate (HLL++): distinct counts within
    rsd, null counts and extrema exact."""
    prof = {r["column"]: r for r in engine.profile_table("orders").collect()}
    assert prof["o_orderkey"]["n_null"] == 0
    assert abs(prof["o_orderkey"]["n_distinct"] - 1500) <= 1500 * 0.10
    assert prof["o_orderstatus"]["n_distinct"] == 3  # tiny counts are exact in HLL++
    assert prof["o_totalprice"]["dtype"] == "double"
    assert float(prof["o_totalprice"]["min_value"]) > 0


def test_profile_table_exact_flag(engine):
    prof = {r["column"]: r for r in engine.profile_table("orders", exact=True).collect()}
    assert prof["o_orderkey"]["n_distinct"] == 1500


def test_profile_table_default_plan_has_no_expand(engine):
    """The 100 TB reason for approx default: N countDistinct in one
    aggregate force an Expand (input replicated once per column)."""
    from pyspark.sql import functions as F

    df = engine.spark.table("orders")
    aggs = []
    for f in df.schema.fields:
        aggs += [
            F.count(F.col(f.name)).alias(f"{f.name}__nn"),
            F.approx_count_distinct(F.col(f.name)).alias(f"{f.name}__d"),
        ]
    plan = df.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_reference_example_verbatim(engine):
    """The reference's canonical python example runs unchanged
    (examples/python_usage.py:30-51 shape: engine.query(...) ->
    result.to_pandas())."""
    result = engine.query(
        """
        SELECT c_nationkey AS region,
               COUNT(*) as num_sales,
               SUM(o_totalprice) as total_amount,
               AVG(o_totalprice) as avg_amount
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
        ORDER BY total_amount DESC
        """
    )
    pdf = result.to_pandas()
    assert len(pdf) == 25
    assert pdf["total_amount"].is_monotonic_decreasing
    assert engine.get_row_count("orders") == 1500
    assert engine.get_table_location("orders").endswith("orders.parquet")
    data = engine.get_table_data("orders")  # cached -> Arrow table
    assert data is not None and data.num_rows == 1500


def test_register_function_pandas_udf(engine):
    """Custom-kernel registration analog (README.md:354-378): a
    vectorized function becomes callable from SQL."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def double_it(v: pd.Series) -> pd.Series:
        return v * 2.0

    engine.register_function("double_it", double_it)
    row = engine.execute_query(
        "SELECT double_it(o_totalprice) AS d, o_totalprice FROM orders LIMIT 1"
    ).collect()[0]
    assert row["d"] == row["o_totalprice"] * 2.0


def test_ddl_through_engine(engine):
    """The reference parser rejects non-SELECT (parser.rs:18-21); this
    engine supports DDL through the same SQL entry point."""
    engine.execute_query(
        "CREATE OR REPLACE TEMP VIEW big_orders AS "
        "SELECT * FROM orders WHERE o_totalprice > 400000"
    )
    n = engine.execute_query("SELECT COUNT(*) AS c FROM big_orders").collect()[0]["c"]
    assert n > 0
    engine.spark.catalog.dropTempView("big_orders")


def test_config_disables_cache(spark):
    eng = OlapEngine(EngineConfig(enable_cache=False), spark=spark)
    meta = eng.load_table("nation_nc", f"{SF_SMALL}/nation.parquet")
    assert not meta.cached
    eng.drop_table("nation_nc")


def test_config_spark_confs():
    confs = EngineConfig(batch_size=5000, shuffle_partitions=16).spark_confs()
    assert confs["spark.sql.execution.arrow.maxRecordsPerBatch"] == "5000"
    assert confs["spark.sql.shuffle.partitions"] == "16"
    assert confs["spark.sql.adaptive.enabled"] == "true"
    assert confs["spark.sql.ansi.enabled"] == "false"
    assert confs["spark.sql.autoBroadcastJoinThreshold"] == str(10 * 1024**2)


def test_config_num_streams_scales_initial_partitions():
    """num_streams (reference lib.rs:19-43, N CUDA streams) has an
    OBSERVABLE effect: it multiplies the AQE initial partition count.
    Default 8 preserves the historical 8x behavior; an explicit
    aqe_initial_partitions wins over the knob."""
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    default = EngineConfig(shuffle_partitions=16).spark_confs()
    assert default[key] == str(8 * 16)
    wide = EngineConfig(shuffle_partitions=16, num_streams=32).spark_confs()
    assert wide[key] == str(32 * 16)
    narrow = EngineConfig(shuffle_partitions=16, num_streams=0).spark_confs()
    assert narrow[key] == str(16)  # clamped to shuffle_partitions
    explicit = EngineConfig(
        shuffle_partitions=16, num_streams=32, aqe_initial_partitions=64
    ).spark_confs()
    assert explicit[key] == "64"
