"""Snapshot-isolated table format: the ACID contract tests.

The reference has no mutation surface (parser.rs:18-21 rejects
non-SELECT); these tests pin the guarantees our commit-log format adds
on top of plain parquet: atomic commits, snapshot-isolated readers,
crash-safety mid-transaction, optimistic-concurrency conflicts,
file-granular MERGE/DELETE rewrites, time travel, and vacuum.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gpu_olap_engine_spark.sources import table_format as tf


def _mk(spark, tmp_path, n=100, parts=4):
    path = str(tmp_path / "t")
    df = spark.range(n, numPartitions=parts).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tf.create_table(df, path)
    return path


def _rows(spark, path, version=None):
    return {
        (r["k"], r["v"])
        for r in tf.read_snapshot(spark, path, version).collect()
    }


def test_create_and_read_roundtrip(spark, tmp_path):
    path = _mk(spark, tmp_path)
    assert tf.latest_version(path) == 0
    assert _rows(spark, path) == {(i, i * 10) for i in range(100)}


def test_append_adds_version_without_rewrite(spark, tmp_path):
    path = _mk(spark, tmp_path)
    before = set(tf._load_manifest(path, 0)["files"])
    extra = spark.range(100, 110).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tf.append_table(extra, path)
    after = tf._load_manifest(path, 1)["files"]
    assert before <= set(after)  # old files carried over byte-identical
    assert _rows(spark, path) == {(i, i * 10) for i in range(110)}


def test_merge_replaces_matched_and_inserts_new(spark, tmp_path):
    path = _mk(spark, tmp_path)
    updates = spark.createDataFrame(
        [(5, -1), (7, -2), (200, -3)], "k long, v long"
    )
    stats = tf.merge_into(spark, path, updates, ["k"])
    assert not stats["skipped"] and stats["version"] == 1
    expect = {(i, i * 10) for i in range(100) if i not in (5, 7)}
    expect |= {(5, -1), (7, -2), (200, -3)}
    assert _rows(spark, path) == expect


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    # keys 0..24 land in partition-0's file; a merge matching only
    # key 3 must rewrite exactly one file and carry the rest over
    path = _mk(spark, tmp_path, n=100, parts=4)
    m0 = tf._load_manifest(path, 0)
    assert len(m0["files"]) == 4
    updates = spark.createDataFrame([(3, -1)], "k long, v long")
    stats = tf.merge_into(spark, path, updates, ["k"])
    assert stats["files_rewritten"] == 1
    assert stats["files_untouched"] == 3
    m1 = tf._load_manifest(path, 1)
    assert len(set(m0["files"]) & set(m1["files"])) == 3


def test_delete_where_is_file_granular(spark, tmp_path):
    path = _mk(spark, tmp_path, n=100, parts=4)
    deleted = tf.delete_where(spark, path, "k >= 90")
    assert deleted == 10
    assert _rows(spark, path) == {(i, i * 10) for i in range(90)}
    # only the file(s) holding k>=90 were rewritten
    m0, m1 = tf._load_manifest(path, 0), tf._load_manifest(path, 1)
    assert len(set(m0["files"]) & set(m1["files"])) == 3


def test_time_travel_reads_old_versions(spark, tmp_path):
    path = _mk(spark, tmp_path)
    tf.delete_where(spark, path, "k < 50")
    tf.merge_into(
        spark,
        path,
        spark.createDataFrame([(60, -6)], "k long, v long"),
        ["k"],
    )
    assert _rows(spark, path, 0) == {(i, i * 10) for i in range(100)}
    assert _rows(spark, path, 1) == {(i, i * 10) for i in range(50, 100)}
    assert (60, -6) in _rows(spark, path, 2)
    assert [h["op"] for h in tf.history(path)] == ["create", "delete", "merge"]


def test_concurrent_reader_sees_consistent_snapshot(spark, tmp_path):
    """A DataFrame pinned to version N still evaluates to version N's
    exact content after later commits — data files are immutable and
    commits only add manifests."""
    path = _mk(spark, tmp_path)
    reader = tf.read_snapshot(spark, path)  # pinned to v0's files
    tf.merge_into(
        spark,
        path,
        spark.createDataFrame([(0, -100)], "k long, v long"),
        ["k"],
    )
    tf.delete_where(spark, path, "k > 10")
    got = {(r["k"], r["v"]) for r in reader.collect()}
    assert got == {(i, i * 10) for i in range(100)}


def test_crash_before_publish_leaves_old_version(spark, tmp_path, monkeypatch):
    """Crash-mid-commit: data files written, manifest never published.
    Readers still see the old version; vacuum removes the orphan."""
    path = _mk(spark, tmp_path)

    def boom(*a, **kw):
        raise OSError("simulated crash between data write and commit")

    monkeypatch.setattr(tf, "_publish", boom)
    with pytest.raises(OSError, match="simulated crash"):
        tf.merge_into(
            spark,
            path,
            spark.createDataFrame([(1, -1)], "k long, v long"),
            ["k"],
        )
    monkeypatch.undo()
    assert tf.latest_version(path) == 0
    assert _rows(spark, path) == {(i, i * 10) for i in range(100)}
    # the aborted txn left orphan data dirs; vacuum reaps exactly those
    data = os.path.join(path, "data")
    assert len(os.listdir(data)) > 1
    removed = tf.vacuum_table(path)
    assert removed >= 1
    assert _rows(spark, path) == {(i, i * 10) for i in range(100)}


def test_commit_conflict_detected_and_retry_succeeds(spark, tmp_path):
    """Two writers race for the same version: exactly one wins, the
    loser gets CommitConflict and succeeds on retry against the new
    latest — with both updates present at the end."""
    path = _mk(spark, tmp_path)
    u1 = spark.createDataFrame([(1, -1)], "k long, v long")
    u2 = spark.createDataFrame([(2, -2)], "k long, v long")

    real_publish = tf._publish
    state = {"interleaved": False}

    def racing_publish(p, version, manifest):
        if not state["interleaved"]:
            state["interleaved"] = True
            # writer B commits version 1 first, between A's read and link
            tf.merge_into(spark, p, u2, ["k"])
        real_publish(p, version, manifest)

    tf._publish = racing_publish
    try:
        with pytest.raises(tf.CommitConflict):
            tf.merge_into(spark, path, u1, ["k"])
    finally:
        tf._publish = real_publish
    assert tf.latest_version(path) == 1  # B's commit
    tf.merge_into(spark, path, u1, ["k"])  # A retries cleanly
    rows = _rows(spark, path)
    assert (1, -1) in rows and (2, -2) in rows


def test_app_id_gives_exactly_once_merge(spark, tmp_path):
    """The (ledger_key, batch_id) pair rides in the SAME manifest as
    the data: a redelivered batch is skipped, so replay cannot
    double-apply — the atomicity a ledger file written apart from the
    data could not provide."""
    path = _mk(spark, tmp_path, n=10)
    u = spark.createDataFrame([(3, -3)], "k long, v long")
    s1 = tf.merge_into(spark, path, u, ["k"], app_id=("qA", 0))
    assert not s1["skipped"]
    s2 = tf.merge_into(spark, path, u, ["k"], app_id=("qA", 0))  # replay
    assert s2["skipped"]
    assert tf.latest_version(path) == 1
    # a different query's batch 0 is NOT confused with qA's
    s3 = tf.merge_into(
        spark,
        path,
        spark.createDataFrame([(4, -4)], "k long, v long"),
        ["k"],
        app_id=("qB", 0),
    )
    assert not s3["skipped"]


def test_compact_and_vacuum(spark, tmp_path):
    path = _mk(spark, tmp_path, n=100, parts=8)
    tf.compact_table(spark, path, target_files=2)
    m = tf._load_manifest(path, 1)
    assert len(m["files"]) == 2
    assert _rows(spark, path) == {(i, i * 10) for i in range(100)}
    removed = tf.vacuum_table(path, keep_versions=1)
    assert removed == 1  # v0's txn dir dropped
    with pytest.raises(FileNotFoundError):
        tf._load_manifest(path, 0)  # history pruned
    assert _rows(spark, path) == {(i, i * 10) for i in range(100)}


def test_empty_table_after_full_delete_keeps_schema(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    deleted = tf.delete_where(spark, path, "k >= 0")
    assert deleted == 10
    df = tf.read_snapshot(spark, path)
    assert df.columns == ["k", "v"]
    assert df.count() == 0


def _txn_dirs(path):
    return set(os.listdir(os.path.join(path, "data")))


def test_delete_where_keeps_rows_where_predicate_is_null(spark, tmp_path):
    """SQL DELETE removes only rows whose predicate is TRUE: a NULL
    score sharing a file with a matching row survives the rewrite and
    is not counted as deleted."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 0.1), (2, None), (3, 0.9)], "k long, q double"
    ).coalesce(1)
    tf.create_table(df, path)
    assert len(tf._load_manifest(path, 0)["files"]) == 1
    assert tf.delete_where(spark, path, "q < 0.5") == 1
    got = {(r["k"], r["q"]) for r in tf.read_snapshot(spark, path).collect()}
    assert got == {(2, None), (3, 0.9)}


def test_delete_where_drops_fully_matched_file_without_write(spark, tmp_path):
    """A file whose every row matches leaves the manifest with no
    replacement file written; the count comes from the per-file match
    counts and the manifest's row counts."""
    path = _mk(spark, tmp_path, n=100, parts=4)  # files hold k 0-24, 25-49, ...
    before = _txn_dirs(path)
    assert tf.delete_where(spark, path, "k < 25") == 25
    assert _txn_dirs(path) == before
    m0, m1 = tf._load_manifest(path, 0), tf._load_manifest(path, 1)
    assert len(m1["files"]) == 3 and set(m1["files"]) < set(m0["files"])
    # a full file plus part of another: only the partial one is rewritten
    assert tf.delete_where(spark, path, "k < 60") == 35
    m2 = tf._load_manifest(path, 2)
    assert len(_txn_dirs(path) - before) == 1
    assert len(set(m1["files"]) & set(m2["files"])) == 1
    assert _rows(spark, path) == {(i, i * 10) for i in range(60, 100)}


def test_merge_with_duplicate_update_keys_lands_every_row(spark, tmp_path):
    path = _mk(spark, tmp_path)
    updates = spark.createDataFrame(
        [(5, -1), (5, -2), (200, -3), (200, -4)], "k long, v long"
    )
    tf.merge_into(spark, path, updates, ["k"])
    got = sorted(
        (r["k"], r["v"]) for r in tf.read_snapshot(spark, path).collect()
    )
    expect = sorted(
        [(i, i * 10) for i in range(100) if i != 5]
        + [(5, -1), (5, -2), (200, -3), (200, -4)]
    )
    assert got == expect


def _jobs(spark, fn):
    """Spark jobs launched by fn(), counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_delete_and_merge_job_counts(spark, tmp_path):
    """DELETE runs one per-file match count and one rewrite; MERGE adds
    the key-range aggregate and the anti-join. A schema-inference read
    or an extra count() would show up here as additional jobs."""
    path = _mk(spark, tmp_path, n=1000, parts=8)
    assert _jobs(spark, lambda: tf.delete_where(
        spark, path, "k >= 100 AND k < 110")) <= 3
    # a pandas batch, as ingest code builds one (a Python-list batch is
    # an RDD scan without size stats, whose joins plan as shuffles)
    updates = spark.createDataFrame(pd.DataFrame({"k": [300, 301], "v": [-1, -2]}))
    assert _jobs(spark, lambda: tf.merge_into(spark, path, updates, ["k"])) <= 7


# ---------------------------------------------------------------- stats


def test_manifest_records_footer_stats(spark, tmp_path):
    """Every commit carries per-file min/max/null stats harvested from
    the parquet footers (metadata-only), keyed by manifest path."""
    path = _mk(spark, tmp_path, n=100, parts=4)
    m = tf._load_manifest(path, 0)
    assert set(m["stats"]) == set(m["files"])
    total = 0
    for f in m["files"]:
        s = m["stats"][f]
        total += s["rows"]
        ks = s["cols"]["k"]
        assert ks["t"] == "n" and 0 <= ks["lo"] <= ks["hi"] <= 99
        assert ks["nulls"] == 0
    assert total == 100


def test_pruned_read_skips_files_and_matches_full_filter(spark, tmp_path):
    """Data skipping: spark.range files cover disjoint k ranges, so a
    point/range predicate provably excludes most files from the plan —
    and the pruned read returns exactly the full-filter result."""
    path = _mk(spark, tmp_path, n=1000, parts=8)
    kept, total = tf.prune_files(path, None, [("k", "=", 3)])
    assert total == 8 and len(kept) == 1
    kept, _ = tf.prune_files(path, None, [("k", ">=", 900)])
    assert len(kept) == 1
    kept, _ = tf.prune_files(path, None, [("k", "<", 250)])
    assert len(kept) == 2
    got = {
        (r["k"], r["v"])
        for r in tf.read_snapshot(
            spark, path, predicate=[("k", ">=", 900), ("k", "<", 905)]
        ).collect()
    }
    assert got == {(i, i * 10) for i in range(900, 905)}


def test_pruning_is_conservative_without_stats(spark, tmp_path):
    """A manifest with no stats (older table / unsupported column)
    keeps every file — pruning never changes results, only cost."""
    import json as _json

    path = _mk(spark, tmp_path, n=50, parts=4)
    mpath = os.path.join(path, "_commits", f"{0:012d}.json")
    m = tf._load_manifest(path, 0)
    m.pop("stats")
    os.unlink(mpath)
    with open(mpath, "w") as fh:
        _json.dump(m, fh)
    kept, total = tf.prune_files(path, None, [("k", "=", 3)])
    assert len(kept) == total == 4
    got = tf.read_snapshot(spark, path, predicate=[("k", "=", 3)]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(3, 30)]


def test_merge_stats_fastpath_prunes_candidates(spark, tmp_path):
    """A selective merge only SCANS files whose key range intersects
    the update batch: the input_file_name semi-join runs over the
    stats-pruned candidate list, not the table."""
    path = _mk(spark, tmp_path, n=1000, parts=8)
    seen = {}
    real = tf._matched_rows

    def spy(s, p, manifest, files, matcher):
        seen["candidates"] = list(files)
        return real(s, p, manifest, files, matcher)

    tf._matched_rows = spy
    try:
        u = spark.createDataFrame([(5, -5), (17, -17)], "k long, v long")
        r = tf.merge_into(spark, path, u, ["k"])
    finally:
        tf._matched_rows = real
    assert len(seen["candidates"]) == 1  # ids 0..124 live in one file
    assert r["files_rewritten"] == 1 and r["files_untouched"] == 7
    rows = _rows(spark, path)
    assert (5, -5) in rows and (17, -17) in rows and (6, 60) in rows


def test_stats_survive_delete_and_follow_merge(spark, tmp_path):
    """Untouched files keep their stats across DELETE/MERGE commits;
    rewritten files get fresh stats — so skipping keeps working on a
    table that has been mutated many times."""
    path = _mk(spark, tmp_path, n=1000, parts=8)
    tf.delete_where(spark, path, "k < 125")  # drops exactly file 1
    m = tf._load_manifest(path, 1)
    assert set(m["stats"]) == set(m["files"])
    kept, total = tf.prune_files(path, None, [("k", "=", 200)])
    assert total == 7 and len(kept) == 1


# ------------------------------------------------------- schema evolution


def test_append_merge_schema_widens_and_backfills_null(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    batch = spark.createDataFrame([(100, 1000, "en")], "k long, v long, lang string")
    with pytest.raises(ValueError, match="merge_schema"):
        tf.append_table(batch, path)
    tf.append_table(batch, path, merge_schema=True)
    df = tf.read_snapshot(spark, path)
    assert df.columns == ["k", "v", "lang"]
    by_k = {r["k"]: r["lang"] for r in df.collect()}
    assert by_k[100] == "en" and by_k[0] is None
    # time travel still sees the pre-evolution schema
    assert tf.read_snapshot(spark, path, version=0).columns == ["k", "v"]


def test_append_missing_columns_land_as_null(spark, tmp_path):
    path = _mk(spark, tmp_path, n=5)
    tf.append_table(spark.createDataFrame([(200,)], "k long"), path)
    r = [x for x in tf.read_snapshot(spark, path).collect() if x["k"] == 200]
    assert len(r) == 1 and r[0]["v"] is None


def test_append_type_change_rejected(spark, tmp_path):
    path = _mk(spark, tmp_path, n=5)
    bad = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="type change"):
        tf.append_table(bad, path, merge_schema=True)


# ------------------------------------------------------------ change feed


def _multiset(df, cols=("k", "v")):
    from collections import Counter

    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def test_table_changes_append_only_is_exact_cdc(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    tf.append_table(spark.createDataFrame([(100, 1), (101, 2)], "k long, v long"), path)
    ch = tf.table_changes(spark, path, 0)
    rows = ch.collect()
    assert {(r["k"], r["_change_type"], r["_commit_version"]) for r in rows} == {
        (100, "insert", 1), (101, "insert", 1),
    }
    assert tf.table_changes(spark, path, 1).count() == 0


def test_table_changes_net_apply_reconstructs_snapshot(spark, tmp_path):
    """state(to) == state(from) - deletes + inserts as multisets, even
    across rewriting commits (merge + delete + compact)."""
    path = _mk(spark, tmp_path, n=100, parts=4)
    tf.merge_into(
        spark, path,
        spark.createDataFrame([(5, -5), (200, -200)], "k long, v long"),
        ["k"],
    )
    tf.delete_where(spark, path, "k >= 90 AND k < 100")
    tf.compact_table(spark, path, target_files=2)
    v_hi = tf.latest_version(path)
    ch = tf.table_changes(spark, path, 0, v_hi)
    state0 = _multiset(tf.read_snapshot(spark, path, 0))
    ins = _multiset(ch.filter("_change_type = 'insert'"))
    dels = _multiset(ch.filter("_change_type = 'delete'"))
    reconstructed = state0 + ins - dels
    assert reconstructed == _multiset(tf.read_snapshot(spark, path, v_hi))


# ------------------------------------------------- CDC apply / incremental sync


def test_apply_changes_upserts_and_deletes_atomically(spark, tmp_path):
    path = _mk(spark, tmp_path, n=20)
    ups = spark.createDataFrame([(3, -3), (50, -50)], "k long, v long")
    dels = spark.createDataFrame([(7,), (8,)], "k long")
    r = tf.apply_changes(spark, path, ups, dels, ["k"])
    assert not r["skipped"] and tf.latest_version(path) == 1
    rows = _rows(spark, path)
    assert (3, -3) in rows and (50, -50) in rows
    assert not any(k in (7, 8) for k, _ in rows)
    assert (4, 40) in rows  # untouched survives
    # replay with same app_id is skipped
    r2 = tf.apply_changes(spark, path, ups, dels, ["k"], app_id=("c", 5))
    r3 = tf.apply_changes(spark, path, ups, dels, ["k"], app_id=("c", 5))
    assert not r2["skipped"] and r3["skipped"]


def test_incremental_sync_replicates_and_is_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    tf.create_table(df, src)
    tf.create_table(df.limit(0), dst)

    r1 = tf.incremental_sync(spark, src, dst, ["k"])  # initial full copy
    assert not r1.get("skipped")
    assert _rows(spark, dst) == _rows(spark, src)

    tf.merge_into(
        spark, src, spark.createDataFrame([(5, -5), (99, -99)], "k long, v long"), ["k"]
    )
    tf.delete_where(spark, src, "k >= 20 AND k < 25")
    r2 = tf.incremental_sync(spark, src, dst, ["k"])
    assert not r2.get("skipped")
    assert _rows(spark, dst) == _rows(spark, src)
    # nothing new -> cursor already current, no commit
    v = tf.latest_version(dst)
    r3 = tf.incremental_sync(spark, src, dst, ["k"])
    assert r3.get("skipped") and tf.latest_version(dst) == v


def test_compact_small_files_rewrites_only_small(spark, tmp_path):
    """Incremental OPTIMIZE: the big create-time files survive
    byte-identical; only the drip of tiny append files is coalesced."""
    path = _mk(spark, tmp_path, n=1000, parts=2)  # 2 big files (~500 rows)
    for i in range(4):  # 4 one-row appends (streaming-commit pattern)
        tf.append_table(
            spark.createDataFrame([(2000 + i, i)], "k long, v long").coalesce(1),
            path,
        )
    before = set(tf._load_manifest(path, tf.latest_version(path))["files"])
    r = tf.compact_small_files(spark, path, min_rows=100, target_files=1)
    assert r["files_compacted"] == 4 and r["files_kept"] == 2
    after = tf._load_manifest(path, tf.latest_version(path))
    big = {f for f in before if tf._load_manifest(path, 0)["files"].count(f)}
    assert big <= set(after["files"])  # untouched big files carried over
    assert len(after["files"]) == 3
    assert _rows(spark, path) == (
        {(i, i * 10) for i in range(1000)} | {(2000 + i, i) for i in range(4)}
    )
    # second run: nothing small left -> no-op
    assert tf.compact_small_files(spark, path, min_rows=100)["skipped"]


def test_prune_predicate_validation(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    with pytest.raises(ValueError, match="unsupported predicate op"):
        tf.prune_files(path, None, [("k", "!=", 3)])
    with pytest.raises(ValueError, match="numeric literal"):
        tf.prune_files(path, None, [("k", "=", "three")])
    # unknown column: no stats -> conservative keep, not an error
    kept, total = tf.prune_files(path, None, [("nope", "=", 1)])
    assert len(kept) == total


# --------------------------------------------- timestamp-stats safety


def test_tz_aware_timestamp_stats_never_prune(spark, tmp_path):
    """TIMESTAMP_MICROS footers surface as tz-aware datetimes in
    pyarrow; their isoformat carries '+00:00' which lexicographically
    mis-orders against naive session-local literals. Such stats must be
    stored as non-prunable ('s'), so a merge on a timestamp key scans
    every candidate file instead of silently pruning the match and
    committing a duplicate key (round-6 advisor repro)."""
    path = str(tmp_path / "tts")
    prev_out = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.range(8, numPartitions=4).select(
            F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600)
            .alias("ts"),
            F.col("id").alias("v"),
        )
        tf.create_table(df, path)
        m = tf._load_manifest(path, 0)
        for fstats in m["stats"].values():
            ts_col = fstats["cols"].get("ts")
            assert ts_col is None or ts_col["t"] == "s", (
                "tz-aware timestamp stats must be store-only, got "
                f"{ts_col}"
            )
        # merge on the timestamp key: every candidate file must be
        # scanned (no stats pruning), and the matched key replaced
        u = spark.range(1).select(
            F.timestamp_seconds(F.lit(1700000000) + F.lit(3) * 3600)
            .alias("ts"),
            F.lit(-3).cast("long").alias("v"),
        )
        r = tf.merge_into(spark, path, u, ["ts"])
        assert r["files_rewritten"] == 1
        got = {
            row["v"]
            for row in tf.read_snapshot(spark, path).collect()
        }
        assert got == {0, 1, 2, -3, 4, 5, 6, 7}
    finally:
        if prev_out is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev_out)
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_date_predicate_literal_validation(spark, tmp_path):
    """'d'-tagged (date) columns fail loud on malformed literals
    instead of silently mis-pruning via str() coercion, and skip the
    conjunct (conservative keep) for ambiguous tz-aware literals."""
    import datetime

    path = str(tmp_path / "td")
    df = spark.range(10, numPartitions=2).select(
        F.date_add(F.lit("2026-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d"),
        F.col("id").alias("v"),
    )
    tf.create_table(df, path)
    m = tf._load_manifest(path, 0)
    assert any(
        fs["cols"].get("d", {}).get("t") == "d" for fs in m["stats"].values()
    ), "date column should produce prunable 'd' stats"
    # valid forms: date, ISO string
    kept, total = tf.prune_files(path, None, [("d", "=", "2026-01-03")])
    assert 1 <= len(kept) < total
    kept2, _ = tf.prune_files(
        path, None, [("d", "=", datetime.date(2026, 1, 3))]
    )
    assert kept2 == kept
    # malformed string / epoch int: fail loud
    with pytest.raises(ValueError, match="ISO-8601"):
        tf.prune_files(path, None, [("d", "=", "2026/01/03")])
    with pytest.raises(ValueError, match="ISO-8601"):
        tf.prune_files(path, None, [("d", "=", 1700000000)])
    # tz-aware literal: ambiguous -> conservative keep of all files
    aware = datetime.datetime(
        2026, 1, 3, tzinfo=datetime.timezone.utc
    )
    kept3, total3 = tf.prune_files(path, None, [("d", "=", aware)])
    assert len(kept3) == total3


def test_date_stat_granularity_mismatch_never_misprunes(spark, tmp_path):
    """r8 advice (medium): a midnight naive-datetime literal probing a
    DATE column isoformats to 'YYYY-MM-DDT00:00:00', lexicographically
    GREATER than the stored date-only bound 'YYYY-MM-DD' — the
    unpadded compare excluded the one file holding the matching date,
    silently dropping rows the row-level filter matches (Spark casts
    date to midnight timestamp). Both mismatch directions must keep
    the right files."""
    import datetime

    # direction 1: DATE column (date-only bounds), timestamp literal
    path = str(tmp_path / "td")
    df = spark.range(10, numPartitions=2).select(
        F.date_add(F.lit("2026-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d"),
        F.col("id").alias("v"),
    )
    tf.create_table(df, path)
    date_kept, total = tf.prune_files(path, None, [("d", "=", "2026-01-03")])
    assert 1 <= len(date_kept) < total
    for lit in (
        datetime.datetime(2026, 1, 3),  # midnight naive datetime
        "2026-01-03T00:00:00",
        "2026-01-03 00:00:00",  # space separator re-normalizes to 'T'
    ):
        kept, _ = tf.prune_files(path, None, [("d", "=", lit)])
        assert kept == date_kept, f"midnight literal {lit!r} mispruned"
        got = tf.read_snapshot(spark, path, predicate=[("d", "=", lit)])
        assert [r["v"] for r in got.filter(F.col("d") == "2026-01-03").collect()] == [2]
    # non-midnight timestamp can never equal a DATE value: pruning to
    # zero files is allowed, but a RANGE op must still keep correctly
    kept_rng, _ = tf.prune_files(
        path, None, [("d", "<=", datetime.datetime(2026, 1, 1, 5, 0))]
    )
    assert len(kept_rng) >= 1  # the file holding 2026-01-01

    # direction 2: naive TIMESTAMP_NTZ column ('T' bounds), date literal
    path2 = str(tmp_path / "tts")
    df2 = spark.range(8, numPartitions=2).select(
        (
            F.lit("2026-01-01 00:00:00").cast("timestamp_ntz")
            + F.make_dt_interval(F.col("id").cast("int"))
        ).alias("ts"),
        F.col("id").alias("v"),
    )
    tf.create_table(df2, path2)
    m2 = tf._load_manifest(path2, 0)
    assert any(
        fs["cols"].get("ts", {}).get("t") == "d"
        for fs in m2["stats"].values()
    ), "naive timestamp column should produce prunable 'd' stats"
    # midnight row exists on day 1: '=' date literal must KEEP its file
    kept_eq, tot2 = tf.prune_files(
        path2, None, [("ts", "=", datetime.date(2026, 1, 1))]
    )
    assert len(kept_eq) >= 1
    got2 = tf.read_snapshot(
        spark, path2, predicate=[("ts", "=", datetime.date(2026, 1, 1))]
    )
    assert [r["v"] for r in got2.filter(
        F.col("ts") == F.lit("2026-01-01").cast("date")
    ).collect()] == [0]
    # range: >= Jan 4 keeps the later file(s), matches row filter
    kept_ge, _ = tf.prune_files(
        path2, None, [("ts", ">=", datetime.date(2026, 1, 4))]
    )
    assert 1 <= len(kept_ge) <= tot2


def test_apply_changes_noop_batch_skips_commit(spark, tmp_path):
    """A CDC batch with no upserts and delete_keys matching nothing
    must not commit a new identical version (commit churn); with an
    app_id it still advances the exactly-once ledger."""
    path = _mk(spark, tmp_path, n=20, parts=2)
    v0 = tf.latest_version(path)
    misses = spark.createDataFrame([(999,)], "k long")
    r = tf.apply_changes(spark, path, None, misses, ["k"])
    assert r["skipped"] is True and tf.latest_version(path) == v0
    # with app_id: metadata-only commit advances the ledger
    r2 = tf.apply_changes(
        spark, path, None, misses, ["k"], app_id=("job", 7)
    )
    assert r2["skipped"] is False and r2["files_rewritten"] == 0
    v1 = tf.latest_version(path)
    assert v1 == v0 + 1
    m = tf._load_manifest(path, v1)
    assert m["app_ids"]["job"] == 7
    # replay of the same batch id is skipped by the ledger
    r3 = tf.apply_changes(
        spark, path, None, misses, ["k"], app_id=("job", 7)
    )
    assert r3["skipped"] is True and tf.latest_version(path) == v1
    assert _rows(spark, path) == {(i, i * 10) for i in range(20)}


def test_empty_merge_writes_no_file(spark, tmp_path):
    """An empty upsert batch adds no 0-row file: without an app_id it
    commits nothing, with one it commits the ledger alone, so empty
    streaming micro-batches do not accrete files."""
    path = _mk(spark, tmp_path, n=20, parts=2)
    files0 = tf._load_manifest(path, 0)["files"]
    txns0 = _txn_dirs(path)
    empty = spark.createDataFrame([], "k long, v long")
    r = tf.merge_into(spark, path, empty, ["k"])
    assert r["skipped"] is True and tf.latest_version(path) == 0
    r2 = tf.merge_into(spark, path, empty, ["k"], app_id=("s", 1))
    assert r2["skipped"] is False and r2["files_rewritten"] == 0
    m = tf._load_manifest(path, 1)
    assert m["files"] == files0 and m["app_ids"] == {"s": 1}
    assert _txn_dirs(path) == txns0
    assert _rows(spark, path) == {(i, i * 10) for i in range(20)}


def test_delete_where_matching_nothing_commits_nothing(spark, tmp_path):
    path = _mk(spark, tmp_path, n=20, parts=2)
    assert tf.delete_where(spark, path, "k > 100") == 0
    assert tf.latest_version(path) == 0
    assert [h["op"] for h in tf.history(path)] == ["create"]


def _mk_interleaved(spark, tmp_path, n=4000, parts=8):
    """Every file spans the whole key range (round-robin repartition),
    so min/max range stats can never exclude a file for an in-range
    equality probe — only the bloom filter can."""
    path = str(tmp_path / "tb")
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("user-"), F.col("id")).alias("name"),
            (F.col("id") * 10).alias("v"),
        )
        .repartition(parts)
    )
    tf.create_table(df, path, bloom_columns=["k", "name"])
    return path


def test_bloom_point_lookup_prunes_interleaved_files(spark, tmp_path):
    path = _mk_interleaved(spark, tmp_path)
    m = tf._load_manifest(path, 0)
    assert m["bloom_columns"] == ["k", "name"]
    total = len(m["files"])
    assert total == 8
    # int key: range stats keep all 8 (interleaved), bloom narrows to
    # the owning file (+<=1% deterministic false positives)
    kept, tot = tf.prune_files(path, None, [("k", "=", 1234)])
    assert tot == 8 and 1 <= len(kept) <= 2
    res = tf.read_snapshot(spark, path, predicate=[("k", "=", 1234)]).collect()
    assert [(r["k"], r["v"]) for r in res] == [(1234, 12340)]
    # string key: range stats NEVER prune strings — bloom is the only
    # skipping path, and it works
    kept_s, _ = tf.prune_files(path, None, [("name", "=", "user-77")])
    assert 1 <= len(kept_s) <= 2
    res_s = tf.read_snapshot(
        spark, path, predicate=[("name", "=", "user-77")]
    ).collect()
    assert [(r["k"], r["name"]) for r in res_s] == [(77, "user-77")]
    # absent-but-in-range value: provably absent from (almost) every file
    kept_a, _ = tf.prune_files(path, None, [("name", "=", "user-x")])
    assert len(kept_a) <= 1


def test_bloom_never_excludes_a_matching_row(spark, tmp_path):
    """Sweep many probes: the bloom-pruned read must equal the full
    filter for every key — false positives only ever ADD files."""
    path = _mk_interleaved(spark, tmp_path, n=500, parts=4)
    full = tf.read_snapshot(spark, path)
    for k in range(0, 500, 23):
        got = tf.read_snapshot(
            spark, path, predicate=[("k", "=", k)]
        ).collect()
        want = full.filter(F.col("k") == k).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_bloom_survives_merge_delete_compact(spark, tmp_path):
    path = _mk_interleaved(spark, tmp_path, n=1000, parts=4)
    updates = spark.createDataFrame(
        [(5, "user-5", -1), (2000, "user-2000", -2)],
        "k long, name string, v long",
    )
    tf.merge_into(spark, path, updates, ["k"])
    tf.delete_where(spark, path, "k = 7")
    tf.compact_table(spark, path, 3)
    m = tf._load_manifest(path, tf.latest_version(path))
    assert m["bloom_columns"] == ["k", "name"]
    # every live file carries blooms for both declared columns
    for f in m["files"]:
        assert set(m["stats"][f]["bloom"]) == {"k", "name"}
    # lookups through the whole mutation history stay correct
    res = tf.read_snapshot(spark, path, predicate=[("k", "=", 5)]).collect()
    assert [(r["k"], r["v"]) for r in res] == [(5, -1)]
    res2 = tf.read_snapshot(
        spark, path, predicate=[("name", "=", "user-2000")]
    ).collect()
    assert [(r["k"], r["v"]) for r in res2] == [(2000, -2)]
    assert tf.read_snapshot(
        spark, path, predicate=[("k", "=", 7)]
    ).count() == 0


def test_bloom_columns_validated_and_typed(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") / 3.0).alias("x")
    )
    with pytest.raises(ValueError, match="bloom_columns"):
        tf.create_table(df, str(tmp_path / "bad"), bloom_columns=["nope"])
    # float columns are silently not bloom-able: no filter is built,
    # pruning just never uses one (conservative, results unchanged)
    path = str(tmp_path / "fl")
    tf.create_table(df, path, bloom_columns=["x"])
    m = tf._load_manifest(path, 0)
    for f in m["files"]:
        assert "bloom" not in m["stats"][f]
    # equality on the float column still prunes by RANGE stats only,
    # and the read stays correct
    res = tf.read_snapshot(spark, path, predicate=[("x", "=", 1.0)]).collect()
    assert [r["k"] for r in res] == [3]


# Every mutation but the keyed ones commits through the same step as a
# merge; each must carry the app-id ledger, the Bloom column list and
# the stats of the files it keeps.
_MUTATIONS = {
    "append": lambda spark, path: tf.append_table(
        spark.createDataFrame([(500, 5000)], "k long, v long"), path
    ),
    "delete": lambda spark, path: tf.delete_where(spark, path, "k < 10"),
    "compact": lambda spark, path: tf.compact_table(spark, path, 2),
    "compact_small": lambda spark, path: tf.compact_small_files(spark, path, 1000),
    "apply_changes": lambda spark, path: tf.apply_changes(
        spark, path,
        spark.createDataFrame([(60, -6)], "k long, v long"),
        spark.createDataFrame([(90,)], "k long"),
        ["k"],
    ),
}


@pytest.mark.parametrize("mutation", sorted(_MUTATIONS))
def test_commit_metadata_survives_every_mutation(spark, tmp_path, mutation):
    path = str(tmp_path / "t")
    df = spark.range(100, numPartitions=4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tf.create_table(df, path, bloom_columns=["k"])
    updates = spark.createDataFrame([(3, -1), (300, -3)], "k long, v long")
    tf.merge_into(spark, path, updates, ["k"], app_id=("q", 0))
    before = tf._load_manifest(path, 1)

    _MUTATIONS[mutation](spark, path)
    assert tf.latest_version(path) == 2
    after = tf._load_manifest(path, 2)
    assert after["app_ids"] == {"q": 0}
    assert after["bloom_columns"] == ["k"]
    for f in after["files"]:
        if f in before["files"]:
            assert after["stats"][f] == before["stats"][f]
        else:
            assert set(after["stats"][f]["bloom"]) == {"k"}
    replay = tf.merge_into(spark, path, updates, ["k"], app_id=("q", 0))
    assert replay == {"version": 2, "skipped": True, "files_rewritten": 0}
    assert tf.latest_version(path) == 2
