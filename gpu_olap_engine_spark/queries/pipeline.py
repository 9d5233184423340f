"""Training-data curation operators: deterministic sampling, dataset
splits, sequence packing, and the composed end-to-end pipeline.

Sampling and splitting use content hashes, not RNG: hash-based
selection is reproducible across runs, engines and re-partitioning —
the property a 100 TB training-data pipeline actually needs (and what
makes these oracle-checkable at all; seeded RNG differs per engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gpu_olap_engine_spark.operators import dedup as D
from gpu_olap_engine_spark.operators.dedup import base_hash, tokenize
from gpu_olap_engine_spark.persist import persist
from gpu_olap_engine_spark.queries import register
from gpu_olap_engine_spark.queries.dedup import _banded_sql, _JACCARD_TAIL, _mat, _SH, _sig_sql
from gpu_olap_engine_spark.queries.similarity import _block_sql

# embedding near-dup candidate chain (prefixed to avoid clashing with
# the text branch's `cand`); mirrors operators.similarity.near_dup_pairs
_EMB_BLOCK = _block_sql(prefix="e_", include_pairs=False, include_cand=False)
from gpu_olap_engine_spark.queries.tables import T, spread

# doc selector hash: stable per content, uniform in [0, 100)
_H100 = "(('0x' || substr(md5(text), 1, 15))::BIGINT) % 100"


@register(
    "q52_stratified_sample",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang,
               (('0x' || substr(md5(text), 1, 15))::BIGINT) AS hv
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY hv, doc_id
               ) AS BIGINT) AS rn
        FROM h
    )
    SELECT doc_id, lang, rn FROM ranked WHERE rn <= 20
    """,
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: top-20 documents per language
    by content hash — a reproducible per-stratum quota that never
    changes under re-partitioning (unlike rand()-based sampleBy)."""
    docs = T(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("hv", "doc_id")
    return (
        docs.select("doc_id", "lang", base_hash(F.col("text")).alias("hv"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "rn")
    )


@register(
    "q53_dataset_split",
    oracle=f"""
    SELECT lang,
           CASE WHEN {_H100} < 80 THEN 'train'
                WHEN {_H100} < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1, 2
    """,
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-range train/val/test split (80/10/10): membership is a
    pure function of content, so the split is stable across runs and
    resharding — no leakage when the corpus is re-processed."""
    docs = T(spark, sf_dir, "documents")
    h100 = base_hash(F.col("text")) % 100
    split = (
        F.when(h100 < 80, "train").when(h100 < 90, "val").otherwise("test")
    )
    return docs.groupBy("lang", split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "q54_sequence_packing",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT lang, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS start_offset
        FROM toks
    )
    SELECT lang, CAST(start_offset // 4096 AS BIGINT) AS context_bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY 1, 2
    """,
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing plan: documents streamed in stable order per
    language, assigned to 4096-token context bins by cumulative
    offset. Parallel per language (the 100 TB version partitions by
    shard); exact integer window math."""
    docs = spread(T(spark, sf_dir, "documents"))
    n_tok = F.size(tokenize(F.col("text"))).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = docs.select("doc_id", "lang", n_tok.alias("n_tokens"))
    packed = toks.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.groupBy(
        "lang",
        F.floor(F.col("start_offset") / 4096).cast("long").alias("context_bin"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )


@register(
    "q72_sequence_packing_sharded",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               (('0x' || substr(md5(text), 1, 15))::BIGINT) % 8 AS shard,
               CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT lang, shard, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS start_offset
        FROM toks
    )
    SELECT lang, CAST(shard AS BIGINT) AS shard,
           CAST(start_offset // 4096 AS BIGINT) AS context_bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY 1, 2, 3
    """,
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing partitioned by (lang, shard): the 100 TB shape
    of q54. A language is not a unit of parallelism at scale — one
    window partition per language serializes the entire corpus of a
    dominant language through one task. Sharding by content hash keeps
    window state bounded (corpus_size / n_shards) while preserving
    determinism: shard membership is a pure function of content, so
    the packing is stable across runs and re-partitioning.

    r13 (guide §2.4): ONE exchange instead of two. The input used to
    be round-robin spread()-ed (exchange #1, carrying text) and then
    hash-partitioned again by the window keys (exchange #2). Now the
    single repartition is keyed directly on (lang, shard) — it both
    distributes the CPU-heavy tokenize across the cluster and
    establishes exactly the partitioning the window and the final
    group-by need (HashPartitioning(lang, shard) satisfies both
    ClusteredDistributions), so the second exchange vanishes. shard =
    hash(text) % 8 is computed before the exchange (it is the key);
    the token count after it, in parallel."""
    docs = T(spark, sf_dir, "documents")
    n_tok = F.size(tokenize(F.col("text"))).cast("long")
    shard = (base_hash(F.col("text")) % 8).cast("long")
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = (
        docs.select("doc_id", "lang", "text", shard.alias("shard"))
        .repartition("lang", "shard")
        .select("doc_id", "lang", "shard", n_tok.alias("n_tokens"))
    )
    packed = toks.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.groupBy(
        "lang",
        "shard",
        F.floor(F.col("start_offset") / 4096).cast("long").alias("context_bin"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )


@register(
    "q70_joint_dedup_flags",
    # _mat: MATERIALIZED CTE hints keep the ~sf1 DuckDB twin inside
    # the sweep budget (multi-referenced shingle/banding/blocking
    # subtrees otherwise re-execute per reference)
    oracle=_mat(f"""
    WITH {_SH},
    {_sig_sql()},
    {_banded_sql()},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    {_JACCARD_TAIL},
    text_dups AS (
        SELECT DISTINCT doc_id FROM (
            SELECT c.id_a AS doc_id FROM cand c
            JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
            JOIN sizes na ON c.id_a = na.doc_id
            JOIN sizes nb ON c.id_b = nb.doc_id
            WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5
            UNION ALL
            SELECT c.id_b FROM cand c
            JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
            JOIN sizes na ON c.id_a = na.doc_id
            JOIN sizes nb ON c.id_b = nb.doc_id
            WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5
        )
    ),
    {_EMB_BLOCK},
    e_qn AS (
        SELECT vec_id, q, sqrt(list_inner_product(q, q)) AS nrm
        FROM (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> floor(CAST(x AS DOUBLE) * 1000000)) AS q
            FROM embeddings
        )
    ),
    e_bq AS (
        SELECT b.bkey, v.vec_id, v.q, v.nrm
        FROM e_bkeys b JOIN e_qn v USING (vec_id)
    ),
    emb_pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e_bq a
        JOIN e_bq b ON a.bkey = b.bkey AND a.vec_id < b.vec_id
        WHERE list_inner_product(a.q, b.q) / (a.nrm * b.nrm) >= 0.45
    ),
    emb_dups AS (
        SELECT DISTINCT doc_id FROM (
            SELECT id_a AS doc_id FROM emb_pairs
            UNION ALL SELECT id_b FROM emb_pairs
        )
    )
    SELECT d.doc_id,
           CAST(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS by_text,
           CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS by_embedding
    FROM documents d
    LEFT JOIN text_dups t ON d.doc_id = t.doc_id
    LEFT JOIN emb_dups e ON d.doc_id = e.doc_id
    WHERE t.doc_id IS NOT NULL OR e.doc_id IS NOT NULL
    """),
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint dedup signal fusion: documents flagged near-duplicate by
    text MinHash-LSH OR by embedding cosine (vec_id == doc_id links
    the modalities). Production dedup combines signals exactly like
    this; both branches are the oracle-proven operators composed with
    two anti-joinable flag sets."""
    from gpu_olap_engine_spark.operators import similarity as S

    docs = T(spark, sf_dir, "documents")
    # explode(array(id_a, id_b)), not a two-branch union: the union
    # would run each (expensive) pair derivation once per branch
    text_pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    text_dups = (
        text_pairs.select(
            F.explode(F.array("id_a", "id_b")).alias("doc_id")
        )
        .distinct()
        .withColumn("by_text", F.lit(1))
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb_pairs = S.near_dup_pairs(emb, threshold=0.45, dim=64)
    emb_dups = (
        emb_pairs.select(
            F.explode(F.array("id_a", "id_b")).alias("doc_id")
        )
        .distinct()
        .withColumn("by_embedding", F.lit(1))
    )
    return (
        docs.select("doc_id")
        .join(text_dups, "doc_id", "left")
        .join(emb_dups, "doc_id", "left")
        .filter(F.col("by_text").isNotNull() | F.col("by_embedding").isNotNull())
        .select(
            "doc_id",
            F.coalesce(F.col("by_text"), F.lit(0)).cast("long").alias("by_text"),
            F.coalesce(F.col("by_embedding"), F.lit(0))
            .cast("long")
            .alias("by_embedding"),
        )
    )


@register(
    "q71_training_record_assembly",
    oracle=r"""
    WITH norms AS (
        SELECT vec_id,
               sqrt(CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE)
                    * CAST(embedding[i] AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE))
                   / 1e6 AS emb_norm
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        GROUP BY vec_id
    )
    SELECT d.doc_id, d.lang,
           CAST(len(string_split_regex(lower(trim(d.text)), '\s+')) AS BIGINT)
               AS n_tokens,
           CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS modality,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           n.emb_norm
    FROM documents d JOIN norms n ON d.doc_id = n.vec_id
    """,
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal training-record assembly: text stats + binary-asset
    metadata + embedding norm joined into one record per sample — the
    final wide row a training dataloader consumes. Joins three
    subsystems (text analysis, multimodal plumbing, vector math) in
    one lazy plan."""
    from gpu_olap_engine_spark.operators import multimodal as M
    from gpu_olap_engine_spark.operators.similarity import scaled_norm_sq

    docs = T(spark, sf_dir, "documents")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norms = emb.select(
        F.col("vec_id").alias("doc_id"),
        (F.sqrt(scaled_norm_sq(F.col("embedding"))) / 1e6).alias("emb_norm"),
    )
    assets = M.synth_assets(docs).select(
        F.col("asset_id").alias("doc_id"),
        "modality",
        F.length("data").cast("long").alias("n_bytes"),
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .join(assets, "doc_id")
        .join(norms, "doc_id")
        .select("doc_id", "lang", "n_tokens", "modality", "n_bytes", "emb_norm")
    )


@register(
    "q55_training_pipeline",
    oracle=f"""
    WITH {_SH},
    {_sig_sql()},
    {_banded_sql()},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    {_JACCARD_TAIL},
    dup_losers AS (
        SELECT DISTINCT c.id_b AS doc_id
        FROM cand c
        JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
        JOIN sizes na ON c.id_a = na.doc_id
        JOIN sizes nb ON c.id_b = nb.doc_id
        WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5
    ),
    scored AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM scored
    WHERE n_tokens >= 20
      AND doc_id NOT IN (SELECT doc_id FROM dup_losers)
      AND {_H100} < 50
    GROUP BY lang
    """,
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline: length filter -> MinHash-LSH
    dedup (keep the lower doc_id of each near-dup pair) -> 50%
    deterministic hash sample -> per-language corpus stats. Each stage
    is an operator proven above; this query proves they compose into
    one lazy plan (single job, no intermediate materialization)."""
    docs = T(spark, sf_dir, "documents")
    n_tok = F.size(tokenize(F.col("text"))).cast("long")
    losers = (
        D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    kept = (
        docs.withColumn("n_tokens", n_tok)
        .filter(F.col("n_tokens") >= 20)
        .join(losers, "doc_id", "left_anti")
        .filter(base_hash(F.col("text")) % 100 < 50)
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "q73_decontaminate",
    # 8-gram shingle twin of operators.dedup.shingles at k=8 (the
    # list_slice clamp mirrors the Spark short-doc fallback branch).
    oracle=r"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i, i + 7), ' ') AS shingle
        FROM words, unnest(generate_series(1, greatest(len(w) - 7, 1))) AS t(i)
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 0),
    hits AS (
        SELECT s.doc_id, COUNT(*) AS c
        FROM sh s JOIN bench USING (shingle)
        WHERE s.doc_id % 7 != 0
        GROUP BY s.doc_id
    )
    SELECT doc_id, CAST(c AS BIGINT) AS shared_shingles,
           c >= 3 AS contaminated
    FROM hits
    """,
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing long
    n-grams (8-word shingles, the standard decontamination unit) with
    an evaluation set — here the deterministic fixture stand-in
    doc_id % 7 == 0; in production the eval suite itself. Contaminated
    = >= 3 shared distinct 8-grams. One shingle pass over the corpus,
    eval shingles broadcast (an eval suite is always tiny relative to
    100 TB of training data), candidates via equi-join on the shingle
    — never a text-to-text comparison."""
    docs = T(spark, sf_dir, "documents")
    sh = persist(D.shingles(docs, "doc_id", "text", 8))  # columns (id, shingle)
    bench = sh.filter(F.col("id") % 7 == 0).select("shingle").distinct()
    return (
        sh.filter(F.col("id") % 7 != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("shared_shingles"))
        .select(
            F.col("id").alias("doc_id"),
            "shared_shingles",
            (F.col("shared_shingles") >= 3).alias("contaminated"),
        )
    )


@register(
    "q74_temperature_mix",
    # alpha = 0.5 on purpose: sqrt is IEEE-exact on both engines,
    # unlike pow(x, alpha) whose libm differs. The sqrt terms are
    # floor-quantized to int64 (1e-12) and summed exactly, so the
    # normalization is order-independent; names s_q/s_tot avoid
    # DuckDB's case-insensitive identifier collision.
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    t AS (
        SELECT lang, n_docs, SUM(n_docs) OVER () AS n_total,
               CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER ())
                    * 1e12) AS BIGINT) AS s_q
        FROM c
    ),
    u AS (SELECT lang, n_docs, n_total, s_q, SUM(s_q) OVER () AS s_tot FROM t)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs AS DOUBLE) / n_total AS p,
           CAST(s_q AS DOUBLE) / CAST(s_tot AS DOUBLE) AS weight,
           CAST(floor(CAST(s_q AS DOUBLE) / CAST(s_tot AS DOUBLE) * n_total)
                AS BIGINT) AS target_docs
    FROM u
    """,
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language resampling (data mixing): sampling
    weight per language proportional to p^alpha with alpha=0.5 —
    upweights low-resource languages relative to their natural share,
    the standard multilingual-corpus mixing rule. target_docs is the
    resulting per-language quota. Aggregation-only plan (two window
    passes over |languages| rows after one scan-side count)."""
    docs = T(spark, sf_dir, "documents")
    w = Window.partitionBy(F.lit(1))
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    t = counts.withColumn("n_total", F.sum("n_docs").over(w)).withColumn(
        "s_q",
        F.floor(
            F.sqrt(F.col("n_docs") / F.col("n_total")) * F.lit(1e12)
        ).cast("long"),
    )
    u = t.withColumn("s_tot", F.sum("s_q").over(w))
    weight = F.col("s_q").cast("double") / F.col("s_tot").cast("double")
    return u.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        (F.col("n_docs") / F.col("n_total")).alias("p"),
        weight.alias("weight"),
        F.floor(weight * F.col("n_total")).cast("long").alias("target_docs"),
    )


@register(
    "q75_doc_chunks",
    # 50-word chunks, stride 40 (10-word overlap). The last start is
    # 1 + 40*ceil(max(nw-50,0)/40), so the final (possibly partial)
    # chunk always reaches the document's end — no trailing words are
    # dropped; docs <= 50 words emit one whole-text chunk.
    oracle=r"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    ch AS (
        SELECT doc_id, i, len(w) AS nw,
               array_to_string(list_slice(w, i, i + 49), ' ') AS chunk
        FROM words,
             unnest(generate_series(
                   1,
                   1 + 40 * CAST(floor((greatest(len(w) - 50, 0) + 39) / 40.0)
                                 AS BIGINT),
                   40)) AS t(i)
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_start,
           CAST(least(50, nw - i + 1) AS BIGINT) AS n_words, chunk
    FROM ch
    """,
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for training: 50-word chunks
    with stride 40 (10-word overlap keeps context across boundaries).
    Narrow explode — no shuffle; chunk boundaries depend only on the
    document itself, so the operator is embarrassingly parallel and
    reshard-stable at any scale."""
    docs = spread(T(spark, sf_dir, "documents"))
    words = tokenize(F.col("text"))
    n = F.size(words)
    # last start covers the tail: 1 + 40*ceil(max(n-50,0)/40), so the
    # final chunk is partial rather than the trailing words dropped
    last = F.lit(1) + F.lit(40) * F.floor(
        (F.greatest(n - F.lit(50), F.lit(0)) + F.lit(39)) / F.lit(40.0)
    ).cast("long")
    starts = F.sequence(F.lit(1).cast("long"), last, F.lit(40).cast("long"))
    return (
        docs.select(
            "doc_id",
            n.alias("nw"),
            words.alias("w"),
            F.explode(starts).alias("chunk_start"),
        )
        .select(
            "doc_id",
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.least(F.lit(50), F.col("nw") - F.col("chunk_start") + 1)
            .cast("long")
            .alias("n_words"),
            F.concat_ws(" ", F.slice(F.col("w"), F.col("chunk_start"), 50)).alias(
                "chunk"
            ),
        )
    )


@register(
    "q108_curation_v2",
    # line-dedup CTE chain is the proven twin of
    # operators.dedup.line_dedup_keep_first (width 5).
    oracle=r"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    seg AS (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(w, i * 5 + 1, i * 5 + 5), ' ') AS seg,
               doc_id * 1000000 + i AS ord_key
        FROM words,
             unnest(generate_series(0,
                 greatest(CAST(ceil(len(w) / 5.0) AS BIGINT), 1) - 1)) AS t(i)
    ),
    firsts AS (SELECT seg, MIN(ord_key) AS fk FROM seg GROUP BY seg),
    kept AS (
        SELECT s.doc_id, s.pos, s.seg
        FROM seg s JOIN firsts f ON s.seg = f.seg AND s.ord_key = f.fk
    ),
    ka AS (
        SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    base AS (SELECT doc_id, COUNT(*) AS n_segments FROM seg GROUP BY doc_id),
    cleaned AS (
        SELECT b.doc_id,
               COALESCE(k.clean_text, '') AS clean_text,
               b.n_segments,
               b.n_segments - COALESCE(k.n_kept, 0) AS n_removed
        FROM base b LEFT JOIN ka k USING (doc_id)
    ),
    gated AS (
        SELECT c.doc_id, d.lang, c.n_removed,
               CAST(len(string_split_regex(lower(trim(c.clean_text)), '\s+'))
                    AS BIGINT) AS n_tokens
        FROM cleaned c JOIN documents d USING (doc_id)
        WHERE c.n_removed * 10 <= c.n_segments * 3
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_removed) AS BIGINT) AS total_removed
    FROM gated WHERE n_tokens >= 20
    GROUP BY lang
    """,
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v2 over the round-5 operators: line-level
    keep-first dedup cleans each document, documents that lose more
    than 30% of their segments (boilerplate-heavy) are dropped, the
    survivors pass a minimum-length gate ON THE CLEANED text, and the
    result rolls up per language. Proves the segment-granular dedup
    composes lazily with gates and rollups exactly like q55 does for
    the doc-granular path — one plan, no intermediate
    materialization."""
    docs = T(spark, sf_dir, "documents")
    cleaned = D.line_dedup_keep_first(docs, "doc_id", "text", width=5)
    gated = (
        cleaned.withColumnRenamed("id", "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .filter(F.col("n_removed") * 10 <= F.col("n_segments") * 3)
        .withColumn(
            "n_tokens", F.size(tokenize(F.col("clean_text"))).cast("long")
        )
        .filter(F.col("n_tokens") >= 20)
    )
    return gated.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_removed").cast("long").alias("total_removed"),
    )


@register(
    "q119_rendezvous_sharding",
    oracle=r"""
    WITH assign AS (
        SELECT doc_id,
               (SELECT s FROM unnest(generate_series(0, 15)) AS t(s)
                ORDER BY (('0x' || substr(md5(doc_id || '-' || s), 1, 15))::BIGINT)
                         DESC, s
                LIMIT 1) AS shard
        FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM assign GROUP BY shard
    """,
)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding over 16 shards:
    each key goes to the shard maximizing hash(key, shard) — the
    assignment that moves only ~1/(n+1) of keys when a shard is added
    (vs ~all keys under mod-n), i.e. the stable-repartitioning
    primitive for growing a 100 TB layout without a full rewrite
    (stability property unit-tested). Pure expression arithmetic: the
    16 candidate hashes are an unrolled array max — no explode, no
    join, no shuffle before the final count."""
    docs = T(spark, sf_dir, "documents")
    from gpu_olap_engine_spark.operators.dedup import base_hash

    scored = F.array(
        *[
            F.struct(
                base_hash(
                    F.concat(F.col("doc_id").cast("string"), F.lit(f"-{s}"))
                ).alias("h"),
                # negative shard id as tiebreak: array_max picks the
                # LOWEST shard on (astronomically unlikely) hash ties,
                # matching the oracle's ORDER BY h DESC, s LIMIT 1
                F.lit(-s).alias("neg_s"),
            )
            for s in range(16)
        ]
    )
    shard = (-F.array_max(scored)["neg_s"]).cast("long")
    return (
        docs.select("doc_id", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
    )


@register(
    "q125_quality_budget_selection",
    oracle="""
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               SUM(n_chars) OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_chars,
               SUM(n_chars) OVER (PARTITION BY lang) AS total_chars
        FROM documents
    )
    SELECT lang,
           COUNT(CASE WHEN cum_chars * 2 <= total_chars THEN 1 END) AS n_kept,
           CAST(SUM(CASE WHEN cum_chars * 2 <= total_chars
                         THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
           CAST(MAX(total_chars) AS BIGINT) AS total_chars,
           COUNT(*) AS n_docs
    FROM ranked GROUP BY lang
    """,
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained selection (nucleus-style): per language,
    keep the highest-mass documents until the cumulative mass reaches
    half the stratum's total — the "spend X% of the token budget on
    the best data" knob a curation pipeline exposes. One running-sum
    window per stratum (unique (mass, id) order), integer comparison
    `cum * 2 <= total` so the cut is exact on both engines; the
    selection threshold per stratum arrives with the same window pass,
    no second scan. Here mass = n_chars; swap in any quality score
    with the same plan."""
    docs = T(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("lang")
    ranked = docs.select(
        "lang",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum_chars"),
        F.sum("n_chars").over(wt).alias("total_chars"),
    )
    keep = F.col("cum_chars") * 2 <= F.col("total_chars")
    return ranked.groupBy("lang").agg(
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
        F.max("total_chars").cast("long").alias("total_chars"),
        F.count("*").alias("n_docs"),
    )


@register(
    "q136_priority_sample",
    oracle="""
    WITH keyed AS (
        SELECT lang, doc_id, n_chars,
               (CAST(((doc_id % 1000003) * (2654435761 % 1000003))
                     % 1000003 + 1 AS DOUBLE) / 1000004.0)
               / CAST(n_chars AS DOUBLE) AS priority
        FROM documents
    )
    SELECT lang, doc_id, n_chars, priority, rn AS sample_rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY priority, doc_id) AS BIGINT) AS rn
        FROM keyed
    ) WHERE rn <= 5
    """,
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement per language stratum —
    Duffield-Lund-Thorup priority sampling: each doc draws a
    deterministic uniform u from an integer hash of its id and
    competes with priority u/weight (weight = n_chars, so longer docs
    are proportionally likelier); the k smallest priorities per
    stratum are the sample. The data-mixing primitive a training
    pipeline uses to draw a size-biased corpus slice reproducibly.
    Every step is exact int64 arithmetic or a single correctly-rounded
    IEEE division, so both engines produce identical bits — no RNG,
    no libm transcendentals. One window pass per stratum; at 100 TB
    the same shape holds (or swap the window for a per-partition
    top-k heap + merge when k << partition size)."""
    docs = T(spark, sf_dir, "documents")
    u = (
        ((F.col("doc_id") % 1000003) * F.lit(2654435761 % 1000003)) % 1000003 + 1
    ).cast("double") / F.lit(1000004.0)
    keyed = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        (u / F.col("n_chars").cast("double")).alias("priority"),
    )
    w = Window.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= 5)
    )


@register(
    "q142_source_concentration",
    oracle="""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id
               ) AS rnk
        FROM documents
    ),
    agg AS (
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(n_chars) AS total_chars,
               SUM(rnk * n_chars) AS w
        FROM ranked GROUP BY source
    )
    SELECT source, n_docs, CAST(total_chars AS BIGINT) AS total_chars,
           CAST(2 * w - (n_docs + 1) * total_chars AS DOUBLE)
           / CAST(n_docs * total_chars AS DOUBLE) AS gini
    FROM agg
    """,
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document length per source — the
    concentration diagnostic a data-mixing pipeline watches (is one
    source's token budget dominated by a few giant documents?).
    Computed from the rank-weighted sum identity
    G = (2*Sum(i*x_i) - (n+1)*Sum(x)) / (n*Sum(x)) with a
    deterministic (n_chars, doc_id) rank order shared by both
    engines: every accumulation is exact int64, the single final
    division is correctly-rounded IEEE, so the doubles match bit for
    bit. One window pass per source partition + one aggregate — the
    same single-shuffle shape as q96's winsorize."""
    docs = T(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rnk")
    )
    agg = ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.col("rnk") * F.col("n_chars")).alias("w"),
    )
    num = (2 * F.col("w") - (F.col("n_docs") + 1) * F.col("total_chars")).cast(
        "double"
    )
    den = (F.col("n_docs") * F.col("total_chars")).cast("double")
    return agg.select(
        "source",
        "n_docs",
        F.col("total_chars").cast("long").alias("total_chars"),
        (num / den).alias("gini"),
    )


@register(
    "q143_mad_outliers",
    oracle="""
    WITH m1 AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    d AS (
        SELECT e.event_type, e.value, m1.med
        FROM events e JOIN m1 USING (event_type)
    ),
    m2 AS (
        SELECT event_type, any_value(med) AS med,
               quantile_cont(abs(value - med), 0.5) AS mad
        FROM d GROUP BY event_type
    )
    SELECT m2.event_type, m2.med, m2.mad,
           COUNT(*) FILTER (WHERE abs(d.value - m2.med) > 3 * m2.mad)
               AS n_outliers,
           COUNT(*) AS n_rows
    FROM d JOIN m2 USING (event_type)
    GROUP BY m2.event_type, m2.med, m2.mad
    """,
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate: per event_type median and median absolute
    deviation, then the count of values beyond 3 MAD — the
    data-quality screen that survives heavy tails where mean/stddev
    gates break. Both engines use the SAME interpolated-median
    definition (the q64-proven percentile/quantile_cont pairing) and
    the deviation arithmetic is plain IEEE subtract/abs/multiply, so
    med/mad/count all match bit-exactly. Plan: one aggregate per
    statistic with the tiny per-type medians broadcast back — the
    group count is bounded by |event_type|, so at 100 TB this is two
    scans + two broadcast joins, no wide shuffle of the fact table.
    (r13: persisting the narrow (event_type, value) projection to
    serve the three intrinsic passes from cache was measured a small
    LOSS in an in-process alternating A/B — min 1.44 vs 1.39 s at
    sf0.1 — the materialization barrier outweighs two re-scans of a
    2 MB parquet; the three-scan shape stays.)"""
    ev = T(spark, sf_dir, "events").select("event_type", "value")
    m1 = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    d = ev.join(F.broadcast(m1), "event_type")
    m2 = d.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
    )
    return (
        d.join(F.broadcast(m2.select("event_type", F.col("mad"))), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                )
            ).alias("n_outliers"),
            F.count("*").alias("n_rows"),
        )
    )
