"""Query-scoped persist (gpu_olap_engine_spark/persist.py): a relation
persisted by a registry entry or a public operator lives exactly as
long as the result that needs it, and a later call over rewritten
files reads the new files."""

from __future__ import annotations

import gc

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from gpu_olap_engine_spark.persist import persist, query_scoped
from gpu_olap_engine_spark.queries import load_all
from perfbench import gen
from tests.conftest import SF_SMALL
from tests.test_oracle import assert_frames_match

REGISTRY = load_all()

# Every registry entry whose construction reaches persist() (the
# pagerank, k-means and PQ entries release their own persists before
# they return).
PERSISTING = [
    "dedup_canonical_docs",
    "dedup_clusters",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_blocked",
    "dedup_ngram_jaccard",
    "q141_triangle_count",
    "q55_training_pipeline",
    "q70_joint_dedup_flags",
    "q73_decontaminate",
    "sim_decontaminate",
    "sim_dedup_clusters",
    "sim_near_dup_pairs",
    "sim_semdedup",
]


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_persist_outside_a_scope_raises(spark):
    with pytest.raises(RuntimeError, match="query scope"):
        persist(spark.range(3))


def test_scope_releases_when_the_call_raises(spark):
    held = []

    @query_scoped
    def failing(spark):
        held.append(persist(spark.range(3)))
        raise ValueError("boom")

    with pytest.raises(ValueError):
        failing(spark)
    assert held[0].storageLevel == StorageLevel.NONE


def test_nested_scope_joins_the_outermost(spark):
    """The inner call's result dies before the outer result's action;
    its persist must survive until the outer result is dropped."""

    @query_scoped
    def inner(spark):
        e = persist(spark.range(200).selectExpr("id % 7 AS k"))
        return e.filter("k >= 0")

    @query_scoped
    def outer(spark):
        return inner(spark).groupBy("k").count()

    gc.collect()
    before = _persistent_rdds(spark)
    r = outer(spark)
    gc.collect()
    assert len(r.collect()) == 7
    assert _persistent_rdds(spark) == before + 1
    del r
    gc.collect()
    assert _persistent_rdds(spark) == before


@pytest.mark.parametrize("name", PERSISTING)
def test_entry_persists_released_with_result(spark, monkeypatch, name):
    """Build, act, drop: every relation the entry persisted is out of
    the cache once its result is collected. (Checked per relation
    rather than by getPersistentRDDs(), which also counts the
    localCheckpoint RDDs of connected_components.)"""
    persisted = []
    real = ClassicDataFrame.persist

    def spy(self, *args, **kwargs):
        persisted.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "persist", spy)
    df = REGISTRY[name].fn(spark, SF_SMALL)
    monkeypatch.undo()
    df.write.format("noop").mode("overwrite").save()
    assert any(p.storageLevel != StorageLevel.NONE for p in persisted), (
        f"{name}: nothing held while its result is alive"
    )
    del df
    gc.collect()
    assert all(p.storageLevel == StorageLevel.NONE for p in persisted), (
        f"{name}: persisted relations outlive the result that needed them"
    )


def _write_shard(d: str, index: int) -> None:
    docs, emb, _ = gen.shard(7, index, gen.SHARD_BASE_ID)
    pq.write_table(docs, f"{d}/documents.parquet")
    pq.write_table(emb, f"{d}/embeddings.parquet")


def _oracle(d: str, name: str):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    try:
        return con.sql(REGISTRY[name].oracle).df()
    finally:
        con.close()


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "sim_near_dup_pairs", "dedup_ngram_jaccard"]
)
def test_rewritten_shard_is_reread(spark, tmp_path, name):
    """One session runs an entry on a shard, the shard's parquet files
    are overwritten in place, and the entry runs again: the second
    result is the new shard's, not the first materialization."""
    d = str(tmp_path)
    for index in (0, 1):
        _write_shard(d, index)
        got = REGISTRY[name].fn(spark, d).toPandas()
        gc.collect()
        assert_frames_match(got, _oracle(d, name), f"{name} shard {index}")
