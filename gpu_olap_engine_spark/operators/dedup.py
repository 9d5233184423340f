"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Everything here is expressed with built-in Spark SQL functions (no
Python UDFs): tokenize -> shingle -> hash -> min -> band -> self-join.
The hash chain is engine-agnostic (md5 -> 60-bit int -> affine
permutations mod a Mersenne prime) so the DuckDB oracle can reproduce
signatures bit-for-bit — see queries/dedup.py for the SQL twins built
from the same constants.

Scale design: MinHash-LSH derives each document's shingle set and
signature inside its own row (minhash_docs), so the only shuffles are
the LSH band join — an equi-join on (band_index, band_key) instead of
comparing all O(n^2) pairs — and the verify joins of candidate pairs
to their documents on the document id. Skewed bands (giant clusters)
are handled by AQE skew-join at runtime.

Construction rule: the derives the curation chain builds per call
(minhash_docs, lsh_candidate_pairs, jaccard_verify) are written as
parsed SQL (selectExpr / F.expr over _shingle_sql and the SQL twins
of tokenize and base_hash), and fixture reads pin their schema
(queries/tables.py). Every Column node and Python lambda is a
driver -> JVM gateway call of about 0.2-0.5 ms; a parsed expression
is a handful of calls whatever its size. dedup_minhash_lsh went from
~2,100 calls (~0.8 s before its first job) to ~150 (~0.25 s) on a
1000-doc shard, with the same optimized plan. The Column helpers stay
public for the per-row queries that compose them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpu_olap_engine_spark.persist import persist, query_scoped
from gpu_olap_engine_spark.queries.tables import qident

# Persist policy. MinHash-LSH's per-document arrays (minhash_docs)
# feed three consumers in one query (the band join and both verify
# joins), and their derive (tokenize, shingle, md5 per shingle) is the
# expensive part; the n-gram operators' exploded (id, shingle)
# relation feeds three as well (the size aggregate and both sides of
# the self-join). Both are persisted for the life of the query's
# result (persist.py), so each derive runs once and the plan scans the
# documents once (SCAN_BUDGETS in tests/test_plans.py). r13 measured
# where persist does not pay: cheap scan+explode subtrees with two
# consumers (span-stats `per`, lines `occ`, simhash `wc`, q143's
# events projection) LOST every in-process A/B at sf0.1 (span 4.41 vs
# 1.39 s, lines 2.26 vs 1.13 s, simhash 10.0 vs 3.55 s, q143 1.44 vs
# 1.39 s): the materialization barrier (eager full evaluation +
# columnar write) cost more than the second scan+explode it saved.

# Affine permutation constants for MinHash: h_i(x) = (A[i]*x + B[i]) % P.
# P is prime; A,B < 2^31 so A*x never overflows int64 (x < P < 2^31).
# These exact literals are embedded in the DuckDB oracle SQL too.
MINHASH_P = 2_147_483_647  # 2^31 - 1, Mersenne prime
MINHASH_A = [
    1000000007, 998244353, 1000000021, 1000000033,
    1000000087, 1000000093, 1000000097, 1000000103,
    1000000123, 1000000181, 1000000207, 1000000223,
]
MINHASH_B = [
    15485863, 32452843, 49979687, 67867967,
    86028121, 104395301, 122949823, 141650939,
    160481183, 179424673, 198491317, 217645177,
]
NUM_HASHES = len(MINHASH_A)
LSH_BANDS = 4
LSH_ROWS = NUM_HASHES // LSH_BANDS  # 3 rows per band

SIMHASH_BITS = 32


def tokenize(text: Column) -> Column:
    """Lowercased whitespace tokens (oracle twin:
    string_split_regex(lower(trim(text)), '\\s+'))."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def base_hash(s: Column) -> Column:
    """Engine-agnostic 60-bit hash of a string: first 15 hex digits of
    md5, as int64. Twin: ('0x' || substr(md5(s), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# SQL twins of tokenize and base_hash for the parsed-SQL derives: the
# Column helpers take any Column, which a SQL string cannot embed, so
# both forms exist; tests/test_operators.py::test_sql_twins_match_column_helpers
# pins them equal on NULL, empty, short and multi-space texts.


def _tokenize_sql(text: str) -> str:
    """SQL twin of tokenize over a SQL operand (same expression tree)."""
    return f"split(lower(trim({text})), '\\\\s+')"


def _base_hash_sql(s: str) -> str:
    """SQL twin of base_hash over a SQL operand (same expression tree)."""
    return f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"


def _shingle_sql(words: str, k: int) -> str:
    """Distinct k-word shingles of a token-array column (a SQL column
    name); a document shorter than k words is one shingle, its whole
    (joined) text.

    ``words`` must be a materialized column, not an expression (r12):
    interpreted higher-order lambdas do not CSE, so slice(tokenize(
    text), i, k) inside the lambda re-ran the split() once per shingle
    POSITION; against the attribute it runs once per document. The
    array is deduped in place: duplicates can only occur within one
    document, so array_distinct gives exact set semantics with zero
    shuffle."""
    return (
        f"array_distinct(CASE WHEN size({words}) >= {k} THEN "
        f"transform(sequence(1, size({words}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({words}, i, {k}))) "
        f"ELSE array(concat_ws(' ', {words})) END)"
    )


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle).

    The input is spread across the cluster first (shingling is the
    CPU-bound stage; a single-split input would otherwise serialize
    it), then one narrow explode.
    """
    from gpu_olap_engine_spark.queries.tables import spread

    base = spread(df).selectExpr(
        f"{qident(id_col)} AS id", f"{_tokenize_sql(qident(text_col))} AS w"
    )
    return base.selectExpr("id", f"explode({_shingle_sql('w', k)}) AS shingle")


def minhash_signatures(shingle_df: DataFrame) -> DataFrame:
    """(id, mh_0..mh_{n-1}): MinHash signature per document.

    Single hash-aggregate over the exploded shingles — the n
    permutations are n cheap affine expressions over ONE md5 per row
    (the hash is projected first so codegen cannot re-evaluate it per
    permutation), evaluated in one pass.
    """
    hashed = shingle_df.select(
        "id", (base_hash(F.col("shingle")) % MINHASH_P).alias("hv")
    )
    mins = [
        F.min((F.lit(a) * F.col("hv") + F.lit(b)) % MINHASH_P).alias(f"mh_{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return hashed.groupBy("id").agg(*mins)


def lsh_candidate_pairs(
    sig_df: DataFrame, block_col: str | None = None
) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing at least one LSH band.

    Bands the signature into LSH_BANDS keys, explodes (one row per
    band), and self-joins on (band_idx, band_key): an equi-join, so it
    hash-partitions instead of cross-comparing — the whole point of
    LSH at 100 TB.

    ``block_col`` (present on sig_df) adds metadata blocking INTO the
    join key — e.g. language: cross-block pairs are never generated,
    not merely filtered after the fact, so the candidate volume (and
    the band-key skew: common bands split per block) shrinks before
    the shuffle.
    """
    band_keys = ", ".join(
        "concat_ws('-', "
        + ", ".join(f"mh_{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + ")"
        for b in range(LSH_BANDS)
    )
    extra = [qident(block_col)] if block_col else []
    banded = sig_df.selectExpr(
        "id", *extra,
        f"posexplode(array({band_keys})) AS (band_idx, band_key)",
    )
    cond = "a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id"
    if block_col:
        cond += f" AND a.{extra[0]} = b.{extra[0]}"
    return (
        banded.alias("a").join(banded.alias("b"), F.expr(cond))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )


def minhash_docs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *extra_cols, sh, mh_0..mh_{n-1}): one row per document with
    its distinct shingle array and MinHash signature.

    Array-native twin of minhash_signatures(shingles(...)), with
    identical signatures: the shingle hash is computed ONCE per
    shingle into an array column, then each permutation is one
    array_min(transform(...)) over it — no explode, no shuffle, no
    re-aggregation. ``hv`` is a separate projection for the same no-CSE
    reason as the token array (12 lambdas over md5 would re-hash 12
    times); Catalyst keeps it un-collapsed because it is referenced
    more than once. Ids must be unique: each input row is one document.

    Each projection is one parsed SQL list (the tokenize, shingle and
    hash twins above): the same expression trees as the Column
    helpers, built in ~4 gateway calls per projection instead of one
    per Column node and lambda.
    """
    from gpu_olap_engine_spark.queries.tables import spread

    keep = ["id", *map(qident, extra_cols)]
    perms = [
        f"array_min(transform(hv, x -> ({a} * x + {b}) % {MINHASH_P})) AS mh_{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return (
        spread(df)
        .selectExpr(
            f"{qident(id_col)} AS id", *keep[1:],
            f"{_tokenize_sql(qident(text_col))} AS w",
        )
        .selectExpr(*keep, f"{_shingle_sql('w', k)} AS sh")
        .selectExpr(
            *keep, "sh",
            f"transform(sh, s -> {_base_hash_sql('s')} % {MINHASH_P}) AS hv",
        )
        .selectExpr(*keep, "sh", *perms)
    )


def jaccard_verify(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs:
    (id_a, id_b, jaccard), from minhash_docs' per-document arrays.

    Candidate-driven: each pair picks up side a's and side b's shingle
    arrays by two equi-joins on the document id, and the intersection
    is size(array_intersect(...)) inside the row. Cost is
    O(|candidates| * shingles-per-doc), proportional to what LSH
    surfaced; both joins shuffle on a document id, so nothing caps
    parallelism. A zero-overlap pair gets jaccard 0; callers drop it
    with any positive threshold."""
    a = docs.selectExpr("id AS id_a", "sh AS sh_a")
    b = docs.selectExpr("id AS id_b", "sh AS sh_b")
    n_inter = "size(array_intersect(sh_a, sh_b))"
    return pairs.join(a, "id_a").join(b, "id_b").selectExpr(
        "id_a",
        "id_b",
        f"CAST({n_inter} AS DOUBLE) / (size(sh_a) + size(sh_b) - {n_inter}) "
        "AS jaccard",
    )


@query_scoped
def minhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle and sign per
    document -> band -> candidate join -> exact-Jaccard verify ->
    threshold.

    The per-document relation (minhash_docs) feeds three consumers
    (the band self-join and both verify joins); it is persisted for
    the life of the returned result, so the tokenize, shingle and hash
    derive runs once per document, not once per consumer. There is no
    exploded shingle relation to shuffle. At 100 TB the equivalent is
    writing the per-document relation to storage once per corpus
    snapshot.
    """
    docs = persist(minhash_docs(df, id_col, text_col, k))
    pairs = lsh_candidate_pairs(docs)
    return jaccard_verify(docs, pairs).filter(F.col("jaccard") >= threshold)


@query_scoped
def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.2
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via the shingle inverted index
    (no LSH): sub-quadratic because only pairs sharing >= 1 shingle
    materialize. The exact baseline the LSH path is validated against."""
    sh = persist(shingles(df, id_col, text_col, k))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        sa.join(sb, (F.col("sa.shingle") == F.col("sb.shingle")) & (F.col("sa.id") < F.col("sb.id")))
        .groupBy(F.col("sa.id").alias("id_a"), F.col("sb.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


@query_scoped
def ngram_containment_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.6
) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / min(|A|,|B|): the
    quote-inclusion detector Jaccard misses — a short document fully
    embedded in a long one has containment ~1 but Jaccard ~|A|/|B|.
    Same inverted-index candidate plan as ngram_jaccard_pairs (only
    pairs sharing a shingle materialize, never corpus-quadratic); the
    scoring denominator is the smaller set."""
    sh = persist(shingles(df, id_col, text_col, k))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        sa.join(
            sb,
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.id") < F.col("sb.id")),
        )
        .groupBy(F.col("sa.id").alias("id_a"), F.col("sb.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / F.least(F.col("n_a"), F.col("n_b"))
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): 32-bit SimHash over the token multiset.

    Per bit b: s_b = sum over words of (+cnt if bit b of the word's
    hash is set else -cnt); the signature packs the sign bits.

    Plan shape (r10): ONE groupBy("id") carrying 32 conditional SUM
    aggregates over the (id, word, cnt, h) relation. The original
    plan exploded a literal `bit` column (32 rows per word) and
    aggregated (id, bit) — 32x the shuffle volume for the identical
    integer sums; at sf10 (500k docs, ~25M distinct (id, word) pairs)
    that was an ~800M-row exchange where this is a 25M-row one. Wide
    aggregates stay in whole-stage codegen and combine map-side
    exactly like the exploded form. Bit-identical output (same exact
    integer sums, same s > 0 tie rule).

    r13 (guide §2.4): the word hash is computed INLINE on the
    (id, word, cnt) relation — one md5 per distinct (id, word) pair —
    instead of the previous broadcast word->h dimension built from a
    second scan+explode+distinct of the corpus. That removes a whole
    branch (scan, explode, distinct exchange, broadcast exchange,
    broadcast join build): 2 scans -> 1, 4 exchanges -> 2; paired
    in-process A/B min 1.91 vs 2.19 s at sf0.1, faster on 5/6 reps,
    bit-identical output. (Persisting wc to share it instead was a
    measured 3x LOSS — see the persist note above minhash.) The
    dimension shape also broadcast the full VOCABULARY, which at
    100 TB is a driver/executor-memory liability; inline hashing has
    no such cliff and trades it for |wc|/|vocab| extra md5s that
    vectorize inside the same codegen stage."""
    from gpu_olap_engine_spark.queries.tables import spread

    words = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("word"),
    )
    # Token multisets repeat words heavily: aggregate to (id, word,
    # cnt) first so each distinct (id, word) pair is hashed once, not
    # once per occurrence.
    wc = words.groupBy("id", "word").agg(F.count("*").alias("cnt"))
    wch = wc.withColumn(
        "h", base_hash(F.col("word")) % F.lit(2**SIMHASH_BITS)
    )
    per_doc = (
        wch.groupBy("id")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.expr(f"(h >> {b}) & 1 = 1"), F.col("cnt")
                    ).otherwise(-F.col("cnt"))
                ).alias(f"s{b}")
                for b in range(SIMHASH_BITS)
            ]
        )
    )
    packed = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return per_doc.select("id", packed.cast("long").alias("simhash"))


def exact_dedup(df: DataFrame, keys: list[str]) -> DataFrame:
    """Exact dedup on key columns (hash groupBy keeping first by a
    deterministic order is the caller's job; this is the plain
    dropDuplicates surface)."""
    return df.dropDuplicates(keys)


def duplicated_span_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 8,
    hash_keys: bool = False
) -> DataFrame:
    """Exact duplicated-span statistics: for each document, how many of
    its word k-gram positions carry a span that occurs >= 2 times in
    the whole corpus (counting every occurrence, including repeats
    inside one document) — the span-level analog of suffix-array
    substring dedup ("Deduplicating Training Data Makes Language
    Models Better" builds these spans with a suffix array; the
    distributed formulation is a gram-keyed aggregation).

    Returns (id, n_spans, n_dup_spans, dup_frac). Docs with fewer than
    k words have no spans and are omitted.

    Scale shape: one narrow explode of all gram POSITIONS, a
    (id, gram) pre-aggregation (map-side combinable — repeats inside a
    doc collapse before the shuffle), a gram-keyed total to find
    duplicated grams, and a join back. Never text-to-text, never
    all-pairs; the widest shuffle moves one row per DISTINCT
    (doc, gram). At 100 TB the gram string key would be replaced by
    xxhash64(gram) to shrink shuffle width (collision-safe for
    counting at ~2^-64 per pair); the string key is kept here so the
    DuckDB oracle is definitionally identical.

    r13 (guide §2.4): the per-doc totals are derived from `per`
    (SUM(occ) per doc == number of gram positions, since occ counts
    every position), so the separate totals scan of the documents
    table disappears outright (3 scans -> 2,
    plans/r13/dedup_span_stats_before.txt vs _after), and
    n_dup_spans/n_spans come out of ONE aggregation over dup-tagged
    rows instead of an aggregate + a separate totals join. Persisting
    `per` to also collapse the remaining two scans was measured a 3x
    LOSS in an in-process alternating A/B (min 4.41 s vs 1.39 s at
    sf0.1 — the cache materialization barrier costs more than the
    second scan+explode saves), so the two consumers recompute.
    Output is identical row-for-row: same (id, n_spans, n_dup_spans,
    dup_frac), same short-doc exclusion (docs with < k words produce
    no gram rows on either shape).
    """
    from gpu_olap_engine_spark.queries.tables import spread

    df = spread(df)
    # r12: materialize the token array as a COLUMN before the per-
    # position transform. Interpreted higher-order lambdas do not
    # common-subexpression-eliminate: referencing tokenize(text)
    # directly inside the lambda re-ran the split() per element_at —
    # 8 splits per gram position on the hashed path (measured 189 s at
    # sf10) and one per position on the string path (~40 s). Against
    # the materialized attribute the same plans run 10.0 s / 17.7 s.
    base = df.select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("w")
    )
    words = F.col("w")
    if hash_keys:
        # the documented 100 TB swap, made concrete: key grams by an
        # 8-byte hash instead of the gram string. r12: the hash is a
        # TUPLE hash — xxhash64 chained over the k word columns
        # directly — so the k-word gram STRING is never built
        # (concat_ws construction was 10.6 s of the sf10 string path's
        # ~24 s core; hashing the built string on top of that made the
        # r11 twin an honest negative). Tuple-distinct == string-
        # distinct (tokenize splits on whitespace, so the space-joined
        # string is a bijection of the tuple) and counting is
        # collision-safe to ~2^-64 per gram pair, so results are
        # bit-identical to the string-keyed path (the registered
        # hashed variant shares the string-keyed oracle, which would
        # catch a collision if one ever occurred).
        gram_keys = F.when(
            F.size(words) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (k - 1)),
                lambda i: F.xxhash64(
                    *[F.element_at(words, i + j) for j in range(k)]
                ),
            ),
        )
        g = base.select("id", F.explode(gram_keys).alias("gram"))
    else:
        grams = F.when(
            F.size(words) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(words, i, k)),
            ),
        )
        g = base.select("id", F.explode(grams).alias("gram"))
    per = g.groupBy("id", "gram").agg(F.count("*").alias("occ"))
    dup = (
        per.groupBy("gram")
        .agg(F.sum("occ").alias("occ_total"))
        .filter(F.col("occ_total") >= 2)
        .select("gram", F.lit(True).alias("is_dup"))
    )
    return (
        per.join(dup, "gram", "left")
        .groupBy("id")
        .agg(
            F.sum("occ").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("is_dup"), F.col("occ")).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .select(
            "id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans").cast("double") / F.col("n_spans")).alias(
                "dup_frac"
            ),
        )
    )


def line_dedup_keep_first(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 5,
    hash_keys: bool = False,
) -> DataFrame:
    """C4/CCNet-style line-level exact dedup with keep-first semantics.

    The fixture corpus has no newlines, so a "line" is a fixed
    non-overlapping ``width``-word segment (the plumbing — explode,
    global first-occurrence election, order-preserving reassembly —
    is identical for newline-split lines). Every occurrence of a
    segment except the globally FIRST one (ordered by (doc id,
    position)) is removed; each document is re-assembled from its
    surviving segments in original order.

    Returns (id, clean_text, n_segments, n_kept, n_removed).

    Scale shape: one narrow explode (one row per segment position,
    ~n_words/width rows per doc), a groupBy on the segment text to
    elect the first occurrence (map-side combinable MIN of an encoded
    (doc, pos) order key — no window over the whole corpus), an
    equi-join back on the segment, and a per-doc sort-collect whose
    groups are single documents (bounded state). Mirrors C4's
    "discard duplicated three-sentence spans" pass (reference analog:
    corpus curation stage; reference repo has no line-level pass —
    gap mandated by the pipeline brief).

    ``hash_keys`` (r13 — the swap this docstring had only promised):
    the first-occurrence ELECTION aggregation and the membership
    equi-join run on ``xxhash64(seg)`` instead of the segment string,
    so the election shuffle carries 16 bytes/row instead of the
    ~30-byte segment (unlike duplicated_span_stats the string must
    still be BUILT — reassembly emits it — so only the shuffle
    narrows, not construction). Default stays the raw string so the
    registry entry remains definitionally identical to its DuckDB
    oracle; the hashed path is pinned row-identical to the string
    path in tests (test_line_dedup_hashed_twin_identical), the same
    collision argument as dedup_span_stats_hashed (a 64-bit collision
    would merge two segments and flip keep-first rows the twin check
    catches; at 100 TB the ~n^2/2^65 risk is the documented trade).
    """
    from gpu_olap_engine_spark.queries.tables import spread

    df = spread(df)
    # materialized token column (r12): same interpreted-HOF no-CSE
    # lesson as duplicated_span_stats — the lambda's slice() against
    # the raw tokenize(text) expression re-split the document once per
    # SEGMENT position
    base_w = df.select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("w")
    )
    words = F.col("w")
    n_seg = F.greatest(F.ceil(F.size(words) / width).cast("int"), F.lit(1))
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * width + 1, width)),
    )
    occ = base_w.select(
        "id", F.posexplode(seg_arr).alias("pos", "seg")
    )
    # r13 (guide §2.4): the per-doc segment COUNT is pure arithmetic
    # on the token count — ceil(|w|/width), floored at 1 — so the
    # third consumer of `occ` (a groupBy(id) over the exploded
    # segments, i.e. a full scan+tokenize+EXPLODE pass) is replaced by
    # an explode-free projection of the documents scan. 3 documents
    # scans -> 2 and one Generate fewer
    # (plans/r13/dedup_lines_keep_first_before.txt vs _after);
    # measured 3.50 -> 1.13 s min-of-6 at sf0.1 in an in-process
    # alternating A/B (which also showed persisting `occ` to share
    # the remaining two consumers is a 2x LOSS — materialization
    # barrier again — and a window-min election is 2.1x slower than
    # the aggregate+join election, so both stay as they are).
    seg_counts = base_w.select(
        "id",
        F.greatest(F.ceil(F.size(words) / width).cast("int"), F.lit(1))
        .cast("long")
        .alias("n_segments"),
    )
    # globally-first occurrence per segment: encode (id, pos) into one
    # BIGINT order key (pos < 1e6 for any realistic doc) so MIN is a
    # plain map-side-combinable aggregate on both engines.
    occ = occ.withColumn("ord_key", F.col("id") * 1_000_000 + F.col("pos"))
    if hash_keys:
        occ = occ.withColumn("sk", F.xxhash64("seg"))
    else:
        occ = occ.withColumn("sk", F.col("seg"))
    firsts = occ.groupBy("sk").agg(F.min("ord_key").alias("first_key"))
    kept = (
        occ.join(firsts, "sk")
        .filter(F.col("ord_key") == F.col("first_key"))
    )
    kept_agg = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return seg_counts.join(kept_agg, "id", "left").select(
        "id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("n_segments").cast("long").alias("n_segments"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def hamming_key_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    key_len: int = 24,
    max_dist: int = 2,
    hash_keys: bool = False,
) -> DataFrame:
    """Near-duplicate pairs on a fixed-length normalized key under a
    Hamming-distance threshold, with LOSSLESS pigeonhole blocking.

    The key is the lowercased first ``key_len`` characters of the
    text (NUL bytes normalized to spaces — see below), NUL-rpadded to
    exactly ``key_len`` so shorter texts still produce full-width keys
    (without the pad, pigeonhole segments degrade to empty strings —
    every short text blocks with every other — and the DuckDB
    oracle's mismatches() raises on unequal-length keys). Split the
    key into ``max_dist + 1`` contiguous segments: any pair within
    Hamming distance ``max_dist`` must agree EXACTLY on at least one
    segment (pigeonhole — at most ``max_dist`` positions differ, so
    at most ``max_dist`` segments are touched). Candidates are
    therefore the union of ``max_dist + 1`` plain (segment_index,
    segment_text) equi-joins — never an all-pairs comparison — then
    each distinct candidate pair is verified with an exact
    character-wise mismatch count (a JVM-side higher-order
    ``aggregate`` over positions; no UDF).

    Short texts (r9 advice): a segment that lies entirely in the pad
    region is the same all-NUL string for EVERY text shorter than its
    start, so on a short-doc-heavy corpus the blocking self-join
    would degenerate to all-pairs across the short population. Pad
    segments therefore block on the effective key length instead:
    side a emits ("P:", eff) and side b emits ("P:", eff+d) for d in
    [-max_dist, max_dist]. This is LOSSLESS: if the only agreeing
    segment of a near pair is all-NUL on both sides, every position
    in (min_eff, max_eff] mismatches (real char vs NUL — guaranteed
    because key construction translates NUL bytes in the text to
    spaces, making "non-pad char != NUL" an invariant), so
    hamming <= max_dist forces |eff_a - eff_b| <= max_dist and the
    banded keys collide. Same-length short texts still block
    together — intrinsic, since a key shorter than the segment grid
    cannot fill max_dist + 1 informative segments.

    This is the PassJoin/"partition into d+1 segments" scheme
    restricted to fixed-length keys, where it is exact for Hamming
    distance (variable-length edit distance would additionally need
    shifted segment probes). Returns (id_a, id_b, hamming) with
    id_a < id_b.

    Scale shape: the blocking join shuffles on (segment index,
    8-char segment), so candidate volume is bounded by per-block
    duplicate density, not corpus size^2; verification touches
    key_len chars per candidate. At 100 TB the segment string would
    be xxhash64'd to shrink the shuffle key (same trade documented in
    duplicated_span_stats). Reference analog: none — the reference
    engine (parser.rs:24-31) has no string-similarity surface; this
    is the LLM-pipeline mandate's fuzzy-key dedup.

    hash_keys=True applies that 100 TB swap: the blocking join keys
    on xxhash64(segment) (8 bytes) instead of the segment string. A
    hash collision can only ADD a candidate, never drop one, and the
    exact character-wise verify filters any collision out — so the
    result set is identical BY CONSTRUCTION, not just with
    overwhelming probability (stronger than the span-stats hashed
    twin, where a collision would corrupt a count).
    """
    cand = _hamming_candidates(
        df, id_col, text_col, key_len, max_dist, hash_keys
    )
    dist = F.expr(
        f"aggregate(sequence(1, {key_len}), 0, (acc, i) -> acc +"
        " IF(substring(key_a, i, 1) = substring(key_b, i, 1), 0, 1))"
    )
    return (
        cand.withColumn("hamming", dist.cast("long"))
        .filter(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
    )


def _hamming_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    key_len: int,
    max_dist: int,
    hash_keys: bool = False,
) -> DataFrame:
    """The distinct pigeonhole candidate relation
    (id_a, id_b, key_a, key_b) — exposed so tests can assert blocking
    volume directly (see hamming_key_pairs for the scheme)."""
    n_seg = max_dist + 1
    seg_w = key_len // n_seg
    assert seg_w * n_seg == key_len, "key_len must divide into segments"

    # pure-Column construction (no name capture inside a SQL-string
    # lambda: that binds `key` by name and breaks under project
    # collapse + self-join attribute dedup with
    # [INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] on local-relation inputs);
    # built fresh per join side so the two Generate nodes have
    # independent lineage
    key_expr = F.rpad(
        F.lower(
            F.translate(F.substring(F.col(text_col), 1, key_len), "\x00", " ")
        ),
        key_len,
        "\x00",
    )
    # effective key length: the translate above guarantees no NUL
    # inside the text region, so eff = min(len(text), key_len)
    eff = F.least(F.length(F.col(text_col)), F.lit(key_len))

    def segs(band: bool) -> DataFrame:
        deltas = range(-max_dist, max_dist + 1) if band else (0,)
        entries = F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_seg - 1)),
                lambda i: F.when(
                    eff > i * seg_w,
                    F.array(
                        F.struct(
                            i.alias("seg_idx"),
                            key_expr.substr(
                                i * seg_w + F.lit(1), F.lit(seg_w)
                            ).alias("seg"),
                        )
                    ),
                ).otherwise(
                    F.array(
                        *[
                            F.struct(
                                i.alias("seg_idx"),
                                F.concat(
                                    F.lit("P:"),
                                    (eff + F.lit(d)).cast("string"),
                                ).alias("seg"),
                            )
                            for d in deltas
                        ]
                    )
                ),
            )
        )
        seg_out = (
            F.xxhash64(F.col("e.seg")) if hash_keys else F.col("e.seg")
        )
        return df.select(
            F.col(id_col).alias("id"),
            key_expr.alias("key"),
            F.explode(entries).alias("e"),
        ).select(
            "id",
            "key",
            F.col("e.seg_idx").alias("seg_idx"),
            seg_out.alias("seg"),
        )

    cand = (
        segs(band=False).alias("a")
        .join(
            segs(band=True).alias("b"),
            (F.col("a.seg_idx") == F.col("b.seg_idx"))
            & (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
        )
        .distinct()
    )
    return cand
