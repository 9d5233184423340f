"""The Gram verifies' per-partition Arrow walker (operators.similarity
_gram_walk / _sorted_groups), checked against brute force where groups
straddle Arrow batches, hot buckets tile into cross-chunk groups,
partitions are empty and groups hold a single row."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from gpu_olap_engine_spark.operators.similarity import (
    _near_dup_keyed,
    _sorted_groups,
    gram_cross_pairs,
    gram_pairs,
)
from tests.conftest import SF_ORACLE

# 7-row Arrow batches make groups straddle batch boundaries; without
# partition coalescing most of the 8 shuffle partitions of a small
# relation reach the walker empty
SMALL_BATCHES = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


@pytest.fixture
def small_batches(spark):
    old = {k: spark.conf.get(k) for k in SMALL_BATCHES}
    for k, v in SMALL_BATCHES.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _batch(bkey, vid, vecs, mlo=None):
    cols = {
        "bkey": pa.array(bkey, pa.int64()),
        "vid": pa.array(vid, pa.int64()),
        "qvec": pa.array(vecs, pa.list_(pa.float32())),
    }
    if mlo is not None:
        cols["mlo"] = pa.array(mlo, pa.int64())
        cols["mhi"] = pa.array([0 if m is not None else None for m in mlo], pa.int64())
    return pa.RecordBatch.from_pydict(cols)


def test_sorted_groups_cut_on_key_change_across_batches():
    batches = [
        _batch([], [], []),  # an empty batch is skipped
        _batch([1, 1, 2], [10, 11, 12], [[1, 2], [3, 4], [5, 6]]),
        _batch([2, 2], [13, 14], [[7, 8], [9, 10]]),  # group 2 straddles
        _batch([2, 3, 4], [15, 16, 17], [[1, 1], [2, 2], [3, 3]]),
        _batch([5], [18], [[4, 4, 4]]),  # a single-row group of another width
    ]
    groups = list(_sorted_groups(iter(batches), ["bkey"], gated=False))
    assert [g["bkey"].tolist() for g in groups] == [[1, 1], [2, 2, 2, 2], [3], [4], [5]]
    assert [g["vid"].tolist() for g in groups] == [
        [10, 11], [12, 13, 14, 15], [16], [17], [18]
    ]
    assert groups[1]["qvec"].tolist() == [[5, 6], [7, 8], [9, 10], [1, 1]]
    assert groups[4]["qvec"].shape == (1, 3)
    assert list(_sorted_groups(iter([]), ["bkey"], gated=False)) == []


def test_sorted_groups_ragged_batch_and_null_masks():
    """Vectors of two widths in one batch are fine while each group is
    uniform, a group that mixes widths fails as np.stack does, and a
    NULL mask word fails the gated walk with _mask_words' error."""
    from gpu_olap_engine_spark.operators.similarity import _gram_side

    rb = _batch([1, 1, 2, 2], [1, 2, 3, 4], [[1, 2], [2, 1], [1, 2, 3], [3]])
    g1, g2 = _sorted_groups(iter([rb]), ["bkey"], gated=False)
    assert _gram_side(g1, gated=False).q.shape == (2, 2)
    with pytest.raises(ValueError):
        _gram_side(g2, gated=False)

    masked = _batch([1, 1], [1, 2], [[1, 2], [2, 1]], mlo=[3, None])
    with pytest.raises(ValueError, match="minimal-shared-key gating"):
        list(_sorted_groups(iter([masked]), ["bkey"], gated=True))


def _corpus(spark, tmp_path, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(path)
    return spark.read.parquet(path)


def _quantized_cos(vecs):
    q = np.floor(np.asarray(vecs, dtype=np.float32).astype(np.float64) * 1e6)
    g = q @ q.T
    nrm = np.sqrt(np.diag(g))
    return g / np.outer(nrm, nrm)


def _buckets(keyed):
    out: dict = {}
    for r in keyed.select("vid", "bkey").collect():
        out.setdefault(r["bkey"], []).append(r["vid"])
    return out


def _hot_corpus(seed, dim=8):
    """Blocking keys at block_m=2: 100 vectors share keys {1, 3} (two
    hot buckets that tile at max_bucket=16, and pairs the mask gate
    must emit once), 40 share smaller buckets, and three have buckets
    of their own (single-row groups)."""
    rng = np.random.RandomState(seed)
    vecs = rng.uniform(-0.3, 0.3, size=(143, dim))
    vecs[:100, :2] = [1.0, 0.9]
    for i in range(100, 140):
        vecs[i, 2 + i % 4] = 1.0
        vecs[i, 6 + i % 2] = 0.9
    for i, d in zip(range(140, 143), (2, 4, 6)):
        vecs[i, d:d + 2] = [-1.0, -0.9]
    return vecs


def test_gram_pairs_walk_matches_bruteforce(spark, tmp_path, small_batches):
    vecs = _hot_corpus(5)
    df = _corpus(spark, tmp_path, vecs)
    keyed = _near_dup_keyed(df, "vec_id", "embedding", 2)
    cos = _quantized_cos(vecs)
    buckets = _buckets(keyed)
    assert max(map(len, buckets.values())) > 16  # the hot bucket tiles
    assert min(map(len, buckets.values())) == 1  # single-row groups
    for thr in (0.8, -0.3):
        want = {}
        for vs in buckets.values():
            vs = sorted(vs)
            for i, a in enumerate(vs):
                for b in vs[i + 1:]:
                    if cos[a, b] >= thr:
                        want[(a, b)] = cos[a, b]
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in gram_pairs(
                keyed, threshold=thr, max_bucket=16, chunk=8, block_rows=5
            ).collect()
        }
        assert got == want and len(want) > 50


def test_gram_pairs_walk_empty_partitions_and_single_rows(spark, tmp_path, small_batches):
    """Three vectors in one bucket, then three in buckets of their own:
    most shuffle partitions are empty, and single-row groups emit
    nothing."""
    one = _corpus(spark, tmp_path, [[1.0, 0.1, 0.0], [1.0, 0.0, 0.1], [1.0, 0.05, 0.05]])
    keyed = _near_dup_keyed(one, "vec_id", "embedding", 1)
    got = {(r["id_a"], r["id_b"]) for r in gram_pairs(keyed, threshold=0.9).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}

    apart = _corpus(spark, tmp_path / "apart", np.eye(3) * [1.0, -1.0, 1.5])
    keyed = _near_dup_keyed(apart, "vec_id", "embedding", 1)
    assert gram_pairs(keyed, threshold=-1.0).collect() == []


def test_gram_cross_pairs_walk_matches_bruteforce(spark, tmp_path, small_batches):
    vecs = _hot_corpus(9)
    df = _corpus(spark, tmp_path, vecs)
    keyed = _near_dup_keyed(df, "vec_id", "embedding", 2)
    cos = _quantized_cos(vecs)
    want = {}
    for vs in _buckets(keyed).values():
        for a in vs:
            for b in vs:
                if a % 7 != 0 and b % 7 == 0 and cos[a, b] >= 0.8:
                    want[(a, b)] = cos[a, b]
    big = keyed.filter(F.col("vid") % 7 != 0)
    small = keyed.filter(F.col("vid") % 7 == 0)
    got = gram_cross_pairs(
        big, small, threshold=0.8, max_bucket=16, chunk=8, block_rows=5
    ).collect()
    assert {(r["id_big"], r["id_small"]): r["cosine"] for r in got} == want
    assert len(got) == len(want) > 10  # gated: each pair from one bucket


def test_semdedup_entry_matches_oracle_under_small_batches(spark, duck, small_batches):
    from tests.test_oracle import REGISTRY, assert_frames_match

    q = REGISTRY["sim_semdedup"]
    assert_frames_match(
        q.fn(spark, SF_ORACLE).toPandas(), duck.sql(q.oracle).df(), q.name
    )


def test_wide_corpus_with_masks_kept_raises(spark, tmp_path, small_batches):
    rng = np.random.RandomState(3)
    wdf = _corpus(spark, tmp_path, rng.uniform(-1, 1, size=(40, 80)))
    keyed = _near_dup_keyed(wdf, "vec_id", "embedding", 4)
    with pytest.raises(Exception, match="minimal-shared-key gating"):
        gram_pairs(keyed, threshold=0.0).collect()
