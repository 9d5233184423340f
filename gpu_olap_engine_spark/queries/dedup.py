"""Dedup queries over ``documents`` + their DuckDB oracle twins.

The oracle SQL is generated from the SAME constants
(operators.dedup.MINHASH_A/B/P) and the same hash chain
(md5 -> 60-bit int -> affine perms), so signatures match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_olap_engine_spark.operators import dedup as D
from gpu_olap_engine_spark.persist import persist
from gpu_olap_engine_spark.queries import register
from gpu_olap_engine_spark.queries.tables import T

# -- shared oracle fragments ------------------------------------------

# distinct 3-word shingles per doc (twin of operators.dedup.shingles)
_SH = r"""
words AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
    FROM words, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
)
"""

_HASH = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

# candidate-driven verify (used after LSH banding): intersections only
# for `cand` pairs — mirrors the Spark side's candidate-driven
# jaccard_verify and keeps the oracle sub-quadratic too
_JACCARD_TAIL = """
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2
)
"""

# all-pairs variant for the exact (non-LSH) baseline query only
_JACCARD_ALL_PAIRS = """
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, COUNT(*) AS n_inter
    FROM sh sa JOIN sh sb
      ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    GROUP BY 1, 2
)
"""


def _mat(sql: str) -> str:
    """Hint every CTE in `sql` as MATERIALIZED. DuckDB inlines CTEs
    referenced more than once, re-executing the shingle/banding
    subtrees per reference — the unrolled label-propagation oracles
    go from >120 s to ~12 s at ~sf1 with the hint (same lesson as
    q165's MATERIALIZED rounds). Applied only to the oracles measured
    slow; a hint, not a semantics change."""
    import re

    return re.sub(r"^(\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (",
                  sql, flags=re.M)


def _sig_sql() -> str:
    mins = ",\n           ".join(
        f"MIN(({a} * hv + {b}) % {D.MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
    )
    return f"""
h AS (
    SELECT doc_id, {_HASH.format(x='shingle')} % {D.MINHASH_P} AS hv FROM sh
),
sig AS (
    SELECT doc_id,
           {mins}
    FROM h GROUP BY doc_id
)
"""


def _banded_sql() -> str:
    selects = []
    for b in range(D.LSH_BANDS):
        cols = ", ".join(f"mh_{b * D.LSH_ROWS + r}" for r in range(D.LSH_ROWS))
        selects.append(
            f"SELECT doc_id, {b} AS band_idx, concat_ws('-', {cols}) AS band_key FROM sig"
        )
    return "banded AS (\n    " + "\n    UNION ALL ".join(selects) + "\n)"


@register(
    "dedup_exact_key",
    oracle=r"""
    WITH keyed AS (
        SELECT doc_id,
               array_to_string(
                   list_slice(string_split_regex(lower(trim(text)), '\s+'), 1, 3),
                   ' ') AS key3
        FROM documents
    )
    SELECT key3, CAST(MIN(doc_id) AS BIGINT) AS keeper_id, COUNT(*) AS n_docs
    FROM keyed GROUP BY key3
    """,
)
def dedup_exact_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on a derived key (3-word prefix):
    emits one keeper per group (min id, deterministic) + group size.
    One shuffle on the key; at 100 TB the key should be a hash of the
    full normalized text (same plan shape)."""
    docs = T(spark, sf_dir, "documents")
    key3 = f"concat_ws(' ', slice({D._tokenize_sql('text')}, 1, 3))"
    return (
        docs.selectExpr("doc_id", f"{key3} AS key3")
        .groupBy("key3")
        .agg(
            F.expr("CAST(min(doc_id) AS BIGINT) AS keeper_id"),
            F.expr("count(*) AS n_docs"),
        )
    )


@register(
    "dedup_minhash_lsh",
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
    {_JACCARD_TAIL}
    SELECT c.id_a, c.id_b,
           CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) AS jaccard
    FROM cand c
    JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
    JOIN sizes na ON c.id_a = na.doc_id
    JOIN sizes nb ON c.id_b = nb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection (shingle -> 12-perm signature ->
    4x3 banding -> candidate equi-join -> exact-Jaccard verify >= 0.5).
    Sub-quadratic: candidates come from a hash join on band keys.
    The fixtures plant ~25 near-dup pairs (jaccard ~0.99) that this
    must find; the oracle recomputes the identical pipeline in SQL."""
    return D.minhash_dedup_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", k=3, threshold=0.5
    ).selectExpr("CAST(id_a AS BIGINT) AS id_a", "CAST(id_b AS BIGINT) AS id_b", "jaccard")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SH},
    {_JACCARD_ALL_PAIRS}
    SELECT i.id_a, i.id_b,
           CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) AS jaccard
    FROM inter i
    JOIN sizes na ON i.id_a = na.doc_id
    JOIN sizes nb ON i.id_b = nb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard >= 0.2 via the shingle inverted
    index — the exact baseline that validates the LSH path's recall."""
    return D.ngram_jaccard_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", k=3, threshold=0.2
    ).select(F.col("id_a").cast("long"), F.col("id_b").cast("long"), "jaccard")


@register(
    "dedup_clusters",
    oracle=_mat(f"""
    WITH RECURSIVE {_SH.strip().rstrip()},
    {_sig_sql()},
    {_banded_sql()},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    {_JACCARD_TAIL},
    dup_pairs AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
        JOIN sizes na ON c.id_a = na.doc_id
        JOIN sizes nb ON c.id_b = nb.doc_id
        WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM dup_pairs
        UNION SELECT id_b, id_a FROM dup_pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
        SELECT id, id AS root FROM nodes
        UNION
        SELECT e.b AS id, r.root FROM reach r JOIN edges e ON e.a = r.id
    )
    SELECT id AS doc_id, CAST(MIN(root) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components (iterative
    label propagation, operators/graph.py) over the MinHash-LSH pair
    graph. Cluster id = minimum reachable doc_id, a schedule-
    independent fixpoint — the oracle computes the same thing with a
    recursive CTE. This is the iterative-algorithm class a single SQL
    query cannot express; the driver-side loop only steers
    convergence, every step is distributed. Near-dup graphs have tiny
    diameter (clusters are cliques-ish), so label propagation's
    O(diameter) rounds win here; for high-diameter graphs
    operators.graph.connected_components_star gives the same labels in
    O(log n) rounds (equivalence-tested)."""
    from gpu_olap_engine_spark.operators.graph import connected_components

    pairs = D.minhash_dedup_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5
    )
    return connected_components(pairs).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents
    ),
    hw AS (
        SELECT doc_id, {_HASH.format(x='word')} % {2**D.SIMHASH_BITS} AS h FROM words
    ),
    per_bit AS (
        SELECT doc_id, b.bit,
               SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM hw, unnest(generate_series(0, {D.SIMHASH_BITS - 1})) AS b(bit)
        GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
               AS simhash
    FROM per_bit GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (token-multiset sign-sum). Near-dups
    then cluster by hamming distance on this value; the signature
    computation is the oracle-checked part."""
    return (
        D.simhash(T(spark, sf_dir, "documents"), "doc_id", "text")
        .select(F.col("id").alias("doc_id"), "simhash")
    )


@register(
    "dedup_span_stats",
    oracle=r"""
    WITH words AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    g AS (
        SELECT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS gram
        FROM words, unnest(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    ),
    pg AS (SELECT doc_id, gram, COUNT(*) AS occ FROM g GROUP BY 1, 2),
    dup AS (SELECT gram FROM pg GROUP BY gram HAVING SUM(occ) >= 2),
    per_doc AS (
        SELECT doc_id, SUM(occ) AS n_dup
        FROM pg WHERE gram IN (SELECT gram FROM dup)
        GROUP BY doc_id
    ),
    tot AS (
        SELECT doc_id, len(w) - 7 AS n_spans FROM words WHERE len(w) >= 8
    )
    SELECT t.doc_id AS id,
           CAST(t.n_spans AS BIGINT) AS n_spans,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(p.n_dup, 0) AS DOUBLE) / t.n_spans AS dup_frac
    FROM tot t LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup statistics: per-document count and
    fraction of word 8-gram positions whose span occurs >= 2 times
    corpus-wide (within-doc repeats count). Complements the doc-level
    near-dup family: MinHash flags whole documents, this measures HOW
    MUCH of each document is boilerplate — the signal used to cut
    duplicated spans out of a training corpus rather than dropping
    whole docs. See operators.dedup.duplicated_span_stats for the
    scale shape (gram-keyed aggregation, never all-pairs)."""
    return D.duplicated_span_stats(
        T(spark, sf_dir, "documents"), "doc_id", "text", k=8
    )


@register(
    "dedup_lines_keep_first",
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
    firsts AS (SELECT seg, MIN(ord_key) AS first_key FROM seg GROUP BY seg),
    kept AS (
        SELECT s.doc_id, s.pos, s.seg
        FROM seg s JOIN firsts f ON s.seg = f.seg AND s.ord_key = f.first_key
    ),
    kept_agg AS (
        SELECT doc_id,
               string_agg(seg, ' ' ORDER BY pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    base AS (SELECT doc_id, COUNT(*) AS n_segments FROM seg GROUP BY doc_id)
    SELECT b.doc_id AS id,
           COALESCE(k.clean_text, '') AS clean_text,
           CAST(b.n_segments AS BIGINT) AS n_segments,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(b.n_segments - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
    FROM base b LEFT JOIN kept_agg k USING (doc_id)
    """,
)
def dedup_lines_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level exact dedup, keep-first: every duplicated
    5-word segment survives only at its globally first (doc, position)
    occurrence; documents are reassembled in order from surviving
    segments. The segment-granular sibling of doc-level exact dedup
    and span-level dup statistics. See
    operators.dedup.line_dedup_keep_first for the scale shape."""
    return D.line_dedup_keep_first(
        T(spark, sf_dir, "documents"), "doc_id", "text", width=5
    )


@register(
    "dedup_canonical_docs",
    oracle=_mat(f"""
    WITH RECURSIVE {_SH.strip().rstrip()},
    {_sig_sql()},
    {_banded_sql()},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    {_JACCARD_TAIL},
    dup_pairs AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
        JOIN sizes na ON c.id_a = na.doc_id
        JOIN sizes nb ON c.id_b = nb.doc_id
        WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM dup_pairs
        UNION SELECT id_b, id_a FROM dup_pairs
    ),
    gnodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
        SELECT id, id AS root FROM gnodes
        UNION
        SELECT e.b AS id, r.root FROM reach r JOIN edges e ON e.a = r.id
    ),
    clusters AS (SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id),
    ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn
        FROM clusters c JOIN documents d USING (doc_id)
    ),
    stats AS (
        SELECT cluster_id, COUNT(*) AS n_members, SUM(n_chars) AS total_chars
        FROM ranked GROUP BY cluster_id
    )
    SELECT CAST(r.cluster_id AS BIGINT) AS cluster_id,
           CAST(r.doc_id AS BIGINT) AS rep_doc_id,
           CAST(s.n_members AS BIGINT) AS n_members,
           CAST(s.total_chars AS BIGINT) AS total_chars
    FROM ranked r JOIN stats s USING (cluster_id) WHERE r.rn = 1
    """),
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document election per near-dup cluster: the curation
    step AFTER clustering — keep the best representative (max n_chars,
    doc_id tiebreak) of each transitive MinHash cluster and report
    member/char counts. Composes dedup_clusters' component labels with
    a per-cluster window election; the window partitions are dup
    clusters (tiny), so the row_number is a cheap per-group sort after
    one shuffle on cluster_id."""
    from pyspark.sql import Window

    from gpu_olap_engine_spark.operators.graph import connected_components

    docs = T(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    clusters = connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
    )
    stats = ranked.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"), F.sum("n_chars").alias("total_chars")
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .join(stats, "cluster_id")
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("doc_id").cast("long").alias("rep_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("total_chars").cast("long").alias("total_chars"),
        )
    )


from gpu_olap_engine_spark.queries import REGISTRY as _REG  # noqa: E402


@register(
    "dedup_span_stats_hashed",
    # IDENTICAL oracle to dedup_span_stats: hashing only changes the
    # shuffle-key representation, never the counts — and an xxhash64
    # collision (odds ~2^-64 per gram pair), if one ever occurred,
    # would surface right here as a value mismatch.
    oracle=_REG["dedup_span_stats"].oracle,
)
def dedup_span_stats_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_span_stats with the documented 100 TB key swap applied:
    the (doc, gram) pre-aggregation and the gram-total shuffle carry
    an 8-byte xxhash64 instead of the ~50-byte gram string — same
    rows moved, ~6x narrower shuffle payload on the widest exchange.
    r12: the hash is a TUPLE hash (xxhash64 chained over the k word
    columns), so the gram string is never constructed at all — that
    construction was 10.6 s of the sf10 string path and made the
    r11 hash-the-built-string variant an honest negative (sf10
    isolated: 10.0 s vs the string path's 17.7 s). Shares the
    string-keyed entry's oracle verbatim (see oracle comment)."""
    return D.duplicated_span_stats(
        T(spark, sf_dir, "documents"), "doc_id", "text", k=8, hash_keys=True
    )


@register(
    "dedup_minhash_lsh_blocked",
    oracle=_mat(f"""
    WITH {_SH.strip().rstrip()},
    {_sig_sql()},
    {_banded_sql()},
    bl AS (SELECT doc_id, lang FROM documents),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN bl la ON la.doc_id = a.doc_id
        JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        JOIN bl lb ON lb.doc_id = b.doc_id AND lb.lang = la.lang
    ),
    {_JACCARD_TAIL}
    SELECT c.id_a, c.id_b,
           CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) AS jaccard
    FROM cand c
    JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
    JOIN sizes na ON c.id_a = na.doc_id
    JOIN sizes nb ON c.id_b = nb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.5
    """),
)
def dedup_minhash_lsh_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup with LANGUAGE blocking composed into the
    band join key: cross-language candidates are never generated (a
    curation policy choice — near-dups across languages are a
    different problem — AND a scale lever: the band-key space splits
    per block, shrinking candidate volume and band skew before the
    shuffle). Same verify threshold as dedup_minhash_lsh; the result
    is its same-language subset, computed without ever materializing
    the cross-language candidates a post-filter would."""
    docs = persist(D.minhash_docs(
        T(spark, sf_dir, "documents"), "doc_id", "text", 3, extra_cols=("lang",)
    ))
    pairs = D.lsh_candidate_pairs(docs, block_col="lang")
    return D.jaccard_verify(docs, pairs).filter(F.col("jaccard") >= 0.5)


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SH},
    {_JACCARD_ALL_PAIRS}
    SELECT i.id_a, i.id_b,
           CAST(n_inter AS DOUBLE) / least(na.n, nb.n) AS containment
    FROM inter i
    JOIN sizes na ON i.id_a = na.doc_id
    JOIN sizes nb ON i.id_b = nb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / least(na.n, nb.n) >= 0.6
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 3-gram containment >= 0.6: catches a short document
    embedded verbatim inside a longer one (quote inclusion, boilerplate
    wrapping), which symmetric Jaccard under-scores by the size ratio.
    Same sub-quadratic inverted-index plan as dedup_ngram_jaccard —
    only the scoring denominator changes to min(|A|,|B|)."""
    return D.ngram_containment_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", k=3, threshold=0.6
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "containment"
    )


@register(
    "dedup_hamming_keys",
    oracle="""
    WITH k AS (
        SELECT doc_id,
               rpad(lower(replace(substr(text, 1, 24), chr(0), ' ')),
                    24, chr(0)) AS key
        FROM documents
    ),
    segs AS (
        SELECT doc_id, key, i AS seg_idx, substr(key, i * 8 + 1, 8) AS seg
        FROM k, unnest([0, 1, 2]) AS t(i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.key AS key_a, b.key AS key_b
        FROM segs a
        JOIN segs b ON a.seg_idx = b.seg_idx AND a.seg = b.seg
                   AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(mismatches(key_a, key_b) AS BIGINT) AS hamming
    FROM cand WHERE mismatches(key_a, key_b) <= 2
    """,
)
def dedup_hamming_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-key near-dup pairs: Hamming distance <= 2 over the
    lowercased 24-char document prefix, found via LOSSLESS pigeonhole
    blocking (3 segments of 8 chars; <= 2 mismatches can touch at
    most 2 segments, so one segment matches exactly). Candidates come
    from three (segment_index, segment) equi-joins — never an
    all-pairs scan — and verification is a JVM-side character
    aggregate; the oracle runs the SAME blocking (it is exact, so the
    result set is definitionally identical) with DuckDB's
    mismatches(). Catches the typo'd-title / near-identical-header
    duplicates that exact-key dedup (dedup_exact_key) misses and
    shingle Jaccard over-pays for."""
    return D.hamming_key_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", key_len=24, max_dist=2
    )


@register(
    "dedup_hamming_keys_hashed",
    # IDENTICAL oracle to dedup_hamming_keys: the hashed blocking key
    # can only ADD candidates on an xxhash64 collision, and the exact
    # character-wise verify removes them — result sets are equal by
    # construction (see operators.dedup.hamming_key_pairs).
    oracle=_REG["dedup_hamming_keys"].oracle,
)
def dedup_hamming_keys_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_hamming_keys with the documented 100 TB key swap: the
    pigeonhole blocking join shuffles an 8-byte xxhash64(segment)
    instead of the 8-char segment string (same trade as
    dedup_span_stats_hashed, but here even a collision cannot change
    the output — the exact verify filters it). Shares the string-
    keyed entry's oracle verbatim."""
    return D.hamming_key_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text",
        key_len=24, max_dist=2, hash_keys=True,
    )
