"""``curation_lakehouse``: LLM-data curation feeding a snapshot table.

One client ingests fresh seeded shards (documents + embeddings with
planted near-duplicates). Each shard goes through a chain of registry
entries -- ``dedup_exact_key`` -> ``dedup_minhash_lsh`` ->
``text_quality_score`` -> ``sim_near_dup_pairs`` (an Arrow-UDF stage)
-- with the shard directory as ``sf_dir``; the survivors (exact-key
keepers that are not the later member of a near-duplicate pair) are
appended, with their quality score, to one ``table_format`` table that
is created fresh every run. Around each append the client reads the
table (point and range predicates on the clustered key, a full
aggregate), merges re-scored recent keys, deletes low-quality recent
rows and compacts every three commits.

Shards are never repeated: the operators' module memos would turn a
repeat into a cache hit that one-pass-per-shard traffic never gets.
Reuse inside one chain still happens. Doc ids rise shard by shard, so
appends are key-clustered and predicate reads have files to prune.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gpu_olap_engine_spark.operators import dedup as D
from gpu_olap_engine_spark.queries import load_all
from gpu_olap_engine_spark.queries.tables import T
from gpu_olap_engine_spark.sources import table_format as tf
from perfbench import gen
from perfbench.stats import median
from tests.test_oracle import assert_frames_match

# One cycle (a shard's chain plus ten table ops) takes ~8 s on 3 cores
# after two warm cycles; the timed window is the number of cycles nearest
# --seconds. The JVM is still warming steeply after one cycle (the chain
# takes ~16 s on a cold JVM, ~6.5 s in the second cycle and ~5 s after),
# so a window timed from the second cycle swings with how far warming
# got; two warm cycles put the window on the flatter part of the curve.
CYCLE_SECONDS = 8.0
WARM_CYCLES = 2
COMPACT_FILES = 3
CHAIN = (
    ("dedup_exact_key", "operators.dedup.exact"),
    ("dedup_minhash_lsh", "operators.dedup.minhash"),
    ("text_quality_score", "operators.text.quality"),
    ("sim_near_dup_pairs", "operators.similarity.near_dup"),
)
READS = ("point", "range", "agg")
COMMITS = ("append", "merge", "delete", "compact")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def setup(ctx) -> dict:
    cycles = max(1, round(ctx.seconds / CYCLE_SECONDS))
    phases = {"warm": WARM_CYCLES, "timed": cycles, "reference": cycles if ctx.trace else 0}
    ctx.registry = load_all()
    ctx.table = os.path.join(ctx.work, "corpus")
    ctx.shards, ctx.planted, ctx.curated = {}, {}, {}
    for i in range(sum(phases.values())):
        docs, emb, planted = gen.shard(ctx.seed, i, gen.SHARD_BASE_ID)
        d = os.path.join(ctx.work, "shards", f"s{i}")
        os.makedirs(d)
        pq.write_table(docs, os.path.join(d, "documents.parquet"))
        pq.write_table(emb, os.path.join(d, "embeddings.parquet"))
        ctx.shards[i] = (d, docs)
        ctx.planted[i] = planted
    base = gen.base_docs(ctx.seed)
    with ctx.tracer.span("sources.create"):
        tf.create_table(ctx.spark.createDataFrame(base.to_pandas()), ctx.table)
    ctx.log = [("create", base)]
    out, first = {}, 0
    for phase, n in phases.items():  # shard indexes: warm, then timed, then reference
        out[phase] = [op for i in range(first, first + n) for op in gen.lake_ops(ctx.seed, i)]
        first += n
    ctx.timed_shards = range(WARM_CYCLES, WARM_CYCLES + cycles)
    return out


def _survivors(ctx, i: int) -> pa.Table:
    """Exact-key keepers minus the later member of each near-dup pair,
    with their quality score, sorted by doc id."""
    out = ctx.curated[i]
    docs = ctx.shards[i][1]
    keep = pc.is_in(docs["doc_id"], out["dedup_exact_key"]["keeper_id"])
    keep = pc.and_(keep, pc.invert(
        pc.is_in(docs["doc_id"], out["dedup_minhash_lsh"]["id_b"])))
    kept = docs.filter(keep).select(["doc_id", "lang", "source", "n_chars"])
    q = out["text_quality_score"].select(["doc_id", "quality_score"])
    return kept.join(q, "doc_id").sort_by("doc_id")


def _read(ctx, predicate):
    t = ctx.tracer
    with t.span("sources.read_snapshot"):
        df = tf.read_snapshot(ctx.spark, ctx.table, predicate=predicate)
    if t.enabled:
        kept, total = tf.prune_files(ctx.table, None, predicate or [])
        t.count("sources.reads")
        t.count("sources.snapshot_files", total)
        if predicate:
            t.count("sources.pruned_reads_files", total)
            t.count("sources.prune_kept", len(kept))
    return df


def _commit(ctx, name: str, fn):
    t = ctx.tracer
    before = _dir_bytes(ctx.table) if t.enabled else 0
    with t.span(f"sources.{name}"):
        out = fn()
    if t.enabled:
        t.count("sources.bytes_written", _dir_bytes(ctx.table) - before)
        t.count("sources.commits")
    return out


def run_op(ctx, op) -> None:
    kind, spark, path = op[0], ctx.spark, ctx.table
    if kind == "curate":
        d = ctx.shards[op[1]][0]
        out = {}
        for name, span in CHAIN:
            with ctx.tracer.span(span):
                out[name] = ctx.registry[name].fn(spark, d).toArrow()
        ctx.curated[op[1]] = out
    elif kind == "append":
        rows = ctx.last_appended = _survivors(ctx, op[1])
        _commit(ctx, "append",
                lambda: tf.append_table(spark.createDataFrame(rows.to_pandas()), path))
        ctx.log.append(("append", rows))
    elif kind == "merge":
        _, lo, hi, factor = op
        rows = ctx.last_appended
        rows = rows.filter(pc.and_(pc.greater_equal(rows["doc_id"], lo),
                                   pc.less(rows["doc_id"], hi)))
        rows = rows.set_column(4, "quality_score",
                               pc.multiply(rows["quality_score"], factor))
        info = _commit(ctx, "merge", lambda: tf.merge_into(
            spark, path, spark.createDataFrame(rows.to_pandas()), ["doc_id"]))
        ctx.tracer.count("sources.merge_files_rewritten", info["files_rewritten"])
        ctx.log.append(("merge", rows))
    elif kind == "delete":
        _, lo, hi, q = op
        _commit(ctx, "delete", lambda: tf.delete_where(
            spark, path, f"doc_id >= {lo} AND doc_id < {hi} AND quality_score < {q}"))
        ctx.log.append(("delete", lo, hi, q))
    elif kind == "compact":
        _commit(ctx, "compact", lambda: tf.compact_table(spark, path, COMPACT_FILES))
    elif kind == "point":
        df = _read(ctx, [("doc_id", "=", op[1])])
        with ctx.tracer.span("sources.read_action"):
            ctx.log.append(("read", op, df.toArrow()))
    elif kind == "range":
        df = _read(ctx, [("doc_id", ">=", op[1]), ("doc_id", "<", op[2])])
        with ctx.tracer.span("sources.read_action"):
            ctx.log.append(("read", op, df.toArrow()))
    elif kind == "agg":
        df = _read(ctx, None).groupBy("lang").agg(
            F.count("*").alias("n"), F.sum("n_chars").alias("chars"),
            F.max("quality_score").alias("q_max"))
        with ctx.tracer.span("sources.read_action"):
            ctx.log.append(("read", op, df.toArrow()))
    else:
        raise ValueError(f"unknown op {op!r}")


def _expected(state, op):
    """The pandas answer to a read op on replayed table ``state``."""
    if op[0] == "point":
        return state[state.doc_id == op[1]]
    if op[0] == "range":
        return state[(state.doc_id >= op[1]) & (state.doc_id < op[2])]
    return state.groupby("lang", as_index=False).agg(
        n=("doc_id", "size"), chars=("n_chars", "sum"), q_max=("quality_score", "max"))


def check(ctx) -> int:
    """Untimed output checks; returns the number of failed ops.

    * every curated shard: each chain entry against its own registry
      ``oracle`` SQL on DuckDB, compared as the oracle sweep compares;
      every planted near-dup document pair must be found;
    * the table: every read, and the final snapshot, against a pandas
      replay of the op log.
    """
    bad = 0
    found = planted = 0
    for i, out in sorted(ctx.curated.items()):
        d = ctx.shards[i][0]
        duck = duckdb.connect()
        for t in ("documents", "embeddings"):
            duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        try:
            for name, _ in CHAIN:
                assert_frames_match(out[name].to_pandas(),
                                    duck.sql(ctx.registry[name].oracle).df(), name)
        except AssertionError as e:
            print(f"curation check failed on shard {i}: {e}", flush=True)
            bad += 1
        duck.close()
        pairs = set(zip(out["dedup_minhash_lsh"]["id_a"].to_pylist(),
                        out["dedup_minhash_lsh"]["id_b"].to_pylist()))
        found += len(ctx.planted[i]["doc_pairs"] & pairs)
        planted += len(ctx.planted[i]["doc_pairs"])
    if found != planted:
        print(f"curation check failed: {found} of {planted} planted pairs found", flush=True)
        bad += 1
    ctx.planted_recall = found / planted if planted else 0.0

    state = None
    for entry in ctx.log:
        kind = entry[0]
        if kind == "create":
            state = entry[1].to_pandas()
        elif kind == "append":
            state = pd.concat([state, entry[1].to_pandas()], ignore_index=True)
        elif kind == "merge":
            upd = entry[1].to_pandas()
            state = pd.concat([state[~state.doc_id.isin(upd.doc_id)], upd],
                              ignore_index=True)
        elif kind == "delete":
            _, lo, hi, q = entry
            state = state[~((state.doc_id >= lo) & (state.doc_id < hi)
                            & (state.quality_score < q))]
        else:
            _, op, got = entry
            try:
                assert_frames_match(got.to_pandas(), _expected(state, op), str(op))
            except AssertionError as e:
                print(f"table check failed: {e}", flush=True)
                bad += 1
    final = tf.read_snapshot(ctx.spark, ctx.table).toArrow()
    try:
        assert_frames_match(final.to_pandas(), state, "final snapshot")
    except AssertionError as e:
        print(f"table check failed: {e}", flush=True)
        bad += 1
    ctx.final_bytes = _dir_bytes(ctx.table)
    ctx.final_live_bytes = final.nbytes
    return bad


def bytes_per_user_byte(ctx) -> float:
    """Table-directory bytes at the end per Arrow byte of the final
    snapshot's live rows."""
    return ctx.final_bytes / ctx.final_live_bytes


def layer_metrics(ctx, window) -> dict:
    t = ctx.tracer
    chains = max(t.n("operators.dedup.exact"), 1)
    timed = ctx.timed_shards
    cand = verified = 0
    for i in timed:  # untimed: the LSH candidate set behind the verify
        docs = T(ctx.spark, ctx.shards[i][0], "documents")
        cand += D.lsh_candidate_pairs(
            D.minhash_signatures(D.shingles(docs, "doc_id", "text", 3))).count()
        verified += ctx.curated[i]["dedup_minhash_lsh"].num_rows
    lat = window["lat"]
    commits = [s for k, s in lat if k in COMMITS]
    reads = [s for k, s in lat if k in READS]
    n_reads = max(t.counts["sources.reads"], 1)
    out = {
        f"{span}_s": t.total(span) / chains for _, span in CHAIN
    }
    out.update({
        "operators.dedup.lsh_candidates": cand / len(timed),
        "operators.dedup.verified_pairs": verified / len(timed),
        "operators.dedup.lsh_precision": verified / cand if cand else 0.0,
        "operators.dedup.planted_recall": ctx.planted_recall,
        "sources.merge_files_rewritten": t.counts["sources.merge_files_rewritten"]
        / max(t.n("sources.merge"), 1),
        "sources.bytes_written": t.counts["sources.bytes_written"]
        / max(t.counts["sources.commits"], 1),
        "sources.read_snapshot_s": t.total("sources.read_snapshot") / n_reads,
        "sources.read_action_s": t.total("sources.read_action") / n_reads,
        "sources.prune_kept_ratio": t.counts["sources.prune_kept"]
        / max(t.counts["sources.pruned_reads_files"], 1),
        "sources.snapshot_files": t.counts["sources.snapshot_files"] / n_reads,
        "sources.commit_p50_s": median(commits) if commits else 0.0,
        "sources.read_p50_s": median(reads) if reads else 0.0,
    })
    for kind in ("append", "merge", "delete", "compact"):
        out[f"sources.{kind}_s"] = t.total(f"sources.{kind}") / max(t.n(f"sources.{kind}"), 1)
    return out
