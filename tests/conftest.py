from __future__ import annotations

import os
import threading
import types

import duckdb
import pytest

from gpu_olap_engine_spark.config import EngineConfig
from gpu_olap_engine_spark.queries.tables import TABLES
from gpu_olap_engine_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
# SPARK_GRAFT_ORACLE_DIR: re-point the suite at another fixture dir —
# used to re-lint the plan-shape contract (tests/test_plans.py)
# against larger statistics (e.g. the ~sf10 replica), where Catalyst's
# stats-driven choices could legitimately shift. The committed gate
# stays sf0.01 (the driver's draw).
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        EngineConfig(
            shuffle_partitions=8,
            extra_confs={"spark.sql.warehouse.dir": "/tmp/spark-warehouse"},
        ),
        master="local[4]",
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the sf0.01 fixture tables as views —
    mirrors the driver's oracle setup."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture
def gateway_calls(spark, monkeypatch):
    """Counts the driver -> JVM gateway calls the test's thread makes:
    every py4j command (a Column node, a method call) passes through
    the gateway client's send_command. Other threads are left out
    (py4j releases dead objects from a thread of its own, whenever it
    gets to them). Reset `.n` to count a section."""
    client = spark.sparkContext._gateway._gateway_client
    counter = types.SimpleNamespace(n=0)
    send = client.send_command
    me = threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            counter.n += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    return counter
