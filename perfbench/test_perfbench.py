"""The benchmark's own tests: generators, statistics and tracing.
Run with ``python3 -m pytest perfbench -q`` from the repository root;
none of them starts Spark."""

from __future__ import annotations

import io
import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen, run, stats
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def _shingles(text: str, k: int = 3) -> set[str]:
    w = text.lower().split()
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}


# -- generators ----------------------------------------------------------

def test_same_seed_same_ops():
    passes = {"warm": 1, "timed": 3, "reference": 3}
    assert gen.bi_ops(7, passes) == gen.bi_ops(7, passes)
    assert gen.bi_ops(7, passes) != gen.bi_ops(8, passes)
    assert gen.lake_ops(7, 2) == gen.lake_ops(7, 2)
    assert gen.lake_ops(7, 2) != gen.lake_ops(8, 2)


def test_same_seed_same_shard_bytes():
    a, b = gen.shard(3, 1, gen.SHARD_BASE_ID), gen.shard(3, 1, gen.SHARD_BASE_ID)
    assert _parquet_bytes(a[0]) == _parquet_bytes(b[0])
    assert _parquet_bytes(a[1]) == _parquet_bytes(b[1])
    assert a[2] == b[2]
    c = gen.shard(4, 1, gen.SHARD_BASE_ID)
    assert _parquet_bytes(a[0]) != _parquet_bytes(c[0])


def test_same_seed_same_star_tables():
    a, b = gen.star_tables(5), gen.star_tables(5)
    for name in a:
        assert _parquet_bytes(a[name]) == _parquet_bytes(b[name]), name
    for name, n in gen.SF01_ROWS.items():
        assert a[name].num_rows == n
    assert 550_000 < a["lineitem"].num_rows < 650_000


def test_every_phase_is_whole_passes_and_sql_never_repeats():
    ops = gen.bi_ops(1, {"warm": 1, "timed": 4, "reference": 4})
    n_t = len(gen.TEMPLATES)
    assert [len(v) for v in ops.values()] == [n_t, 4 * n_t, 4 * n_t]
    assert [name for name, _ in ops["timed"][:n_t]] == list(gen.TEMPLATES)
    sqls = [sql for phase in ops.values() for _, sql in phase]
    assert len(set(sqls)) == len(sqls)  # warm never primes a timed query


def test_shards_are_disjoint_across_indexes():
    ids = [set(gen.shard(1, i, gen.SHARD_BASE_ID)[0]["doc_id"].to_pylist())
           for i in range(3)]
    assert not (ids[0] & ids[1]) and not (ids[1] & ids[2])
    assert min(ids[0]) >= gen.BASE_DOCS  # never collides with the base rows
    assert max(ids[0]) < min(ids[1])  # rising: appends are key-clustered
    vecs = [set(gen.shard(1, i)[1]["vec_id"].to_pylist()) for i in range(2)]
    assert not (vecs[0] & vecs[1])


def test_shard_plants_known_near_dup_pairs():
    docs, emb, planted = gen.shard(9, 2, gen.SHARD_BASE_ID)
    assert len(planted["doc_pairs"]) == gen.PLANTED_PER_SHARD
    assert len(planted["vec_pairs"]) == gen.PLANTED_PER_SHARD
    text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    for a, b in planted["doc_pairs"]:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        assert len(sa & sb) / len(sa | sb) >= 0.99
    import numpy as np

    vec = dict(zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist()))
    for a, b in planted["vec_pairs"]:
        assert float(np.dot(vec[a], vec[b])) >= 0.9


def test_lake_cycle_reads_recent_keys_and_commits_three_times():
    ops = gen.lake_ops(2, 3)
    assert [op[0] for op in ops] == list(gen.LAKE_CYCLE)
    lo = gen.SHARD_BASE_ID + 3 * gen.DOCS_PER_SHARD
    for op in ops:
        if op[0] in ("merge", "delete"):
            assert lo <= op[1] < op[2] <= lo + gen.DOCS_PER_SHARD
    commits = [op for op in ops if op[0] in ("append", "merge", "delete")]
    assert len(commits) == 3 and ops[-2][0] == "compact"


# -- statistics ----------------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 0.9) == 90.0  # 10 samples beyond
    with pytest.raises(ValueError):
        stats.percentile(xs[:99], 0.9)  # only 9 beyond
    with pytest.raises(ValueError):
        stats.percentile(xs, 1.0)


def test_highest_percentile_picks_the_tail_the_sample_supports():
    assert stats.highest_percentile([1.0] * 1000)[0] == 0.99
    assert stats.highest_percentile([float(i) for i in range(100)])[0] == 0.9
    assert stats.highest_percentile([float(i) for i in range(20)]) == (0.5, 9.0)
    assert stats.highest_percentile([1.0] * 19) is None


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    for bad in ([], [1.0, 0.0], [-1.0]):
        with pytest.raises(ValueError):
            stats.geomean(bad)


def test_kind_median_geomean_does_not_pool_kinds():
    # Pooled, the median would jump between the groups as the mix
    # shifts; per-kind medians do not.
    few_slow = [("read", 0.1)] * 5 + [("commit", 2.0)] * 3
    many_slow = [("read", 0.1)] * 3 + [("commit", 2.0)] * 5
    assert stats.kind_median_geomean(few_slow) == pytest.approx(
        stats.kind_median_geomean(many_slow))
    assert stats.kind_median_geomean(few_slow) == pytest.approx((0.1 * 2.0) ** 0.5)


def test_quartile_spread():
    assert stats.quartile_spread([1.0] * 5) == 0.0
    assert stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) > 0


# -- tracing -------------------------------------------------------------

def test_layer_self_time_subtracts_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 9.0, 10.0, 11.0, 12.0])
    monkeypatch.setattr("perfbench.trace.time.perf_counter", lambda: next(clock))
    t = Tracer(enabled=True)
    t.op = 0
    with t.span("bench.op"):  # 0 .. 10
        with t.span("engine.plan"):  # 1 .. 3
            pass
        with t.span("engine.to_arrow"):  # 4 .. 9
            pass
    t.op = None
    with t.span("engine.load_table"):  # 11 .. 12, set-up: not an op
        pass
    assert t.spans[1]["parent"] == 0 and t.spans[1]["op"] == 0
    assert t.layer_self_times() == {"bench": 3.0, "engine": 7.0}
    assert t.total("engine.load_table") == 1.0


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("engine.plan"):
        t.count("engine.jobs", 3)
    assert t.spans == [] and not t.counts


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
