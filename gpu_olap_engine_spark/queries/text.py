"""Text-analysis queries over ``documents`` + DuckDB oracles.

All heuristics are deterministic integer/ratio arithmetic, replicated
verbatim in the oracle SQL (same marker lists, same formula constants
— imported from operators.text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_olap_engine_spark.operators import text as X
from gpu_olap_engine_spark.queries import register
from gpu_olap_engine_spark.queries.tables import T, spread

_WORDS = r"string_split_regex(lower(trim(text)), '\s+')"
_HASH = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@register(
    "text_token_stats",
    oracle=f"""
    WITH w AS (SELECT doc_id, n_chars, {_WORDS} AS words FROM documents)
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(words, t -> length(t))) AS BIGINT)
               AS n_token_chars,
           CAST(list_sum(list_transform(words,
                t -> CAST(ceil(length(regexp_replace(t, '[^\\p{{L}}\\p{{N}}]', '', 'g')) / 4)
                     AS BIGINT))) AS BIGINT) AS n_subwords,
           CAST(list_sum(list_transform(words, t -> length(t))) AS DOUBLE)
               / len(words) AS avg_token_len,
           n_chars
    FROM w
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, token chars, BPE-ish subword
    estimate (ceil(alnum_len/4) per word), average token length.
    Pure codegen expressions — no Python in the hot path."""
    docs = spread(T(spark, sf_dir, "documents"))
    toks = X.tokenize(F.col("text"))
    tok_chars = F.aggregate(
        F.transform(toks, F.length),
        F.lit(0).cast("long"),
        lambda a, x: a + x.cast("long"),
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        tok_chars.alias("n_token_chars"),
        X.bpe_ish_token_count(F.col("text")).alias("n_subwords"),
        (tok_chars.cast("double") / F.size(toks)).alias("avg_token_len"),
        "n_chars",
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH w AS (SELECT doc_id, text, {_WORDS} AS words FROM documents),
    feat AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(words,
                    t -> t IN ({_in_list(X.STOPWORDS)}))) AS BIGINT) AS n_stopwords,
               CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT)
                   AS n_punct,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM w
    )
    SELECT doc_id, n_tokens, n_stopwords, n_punct,
           CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
           0.5 * (CAST(n_stopwords AS DOUBLE) / n_tokens)
           + 0.3 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100)
           + 0.2 * (1 - CAST(n_punct AS DOUBLE) / n_chars) AS quality_score
    FROM feat
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features (stopword/punct/length ratios) and a
    composite score — the standard cheap pre-filter in training-data
    pipelines."""
    return X.quality_features(spread(T(spark, sf_dir, "documents")), "doc_id", "text")


def _langid_oracle() -> str:
    scores = ",\n               ".join(
        f"CAST(len(list_filter(words, t -> t IN ({_in_list(m)}))) AS BIGINT) AS s_{lang}"
        for lang, m in X.LANG_MARKERS.items()
    )
    langs = list(X.LANG_MARKERS)
    whens = []
    for i, lang in enumerate(langs[:-1]):
        conds = []
        for j, other in enumerate(langs):
            if other == lang:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"s_{lang} {op} s_{other}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"
    return f"""
    WITH w AS (SELECT doc_id, lang, {_WORDS} AS words FROM documents),
    scored AS (
        SELECT doc_id, lang,
               {scores}
        FROM w
    )
    SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang
    FROM scored
    """


@register("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram heuristic): argmax of per-lang
    stopword hits, ties broken in a fixed lang order. Emitted next to
    the fixture's label column for accuracy eyeballing."""
    docs = spread(T(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        X.predict_lang(F.col("text")).alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    pos AS (
        SELECT doc_id, i, words[i] AS word
        FROM w, unnest(generate_series(1, len(words))) AS t(i)
    ),
    terms AS (
        SELECT doc_id,
               (({_HASH.format(x='word')} % {X.FP_P}) * ((i - 1) % 64 + 1))
                   % {X.FP_P} AS term
        FROM pos
    )
    SELECT doc_id, CAST(SUM(term) % {X.FP_P} AS BIGINT) AS fingerprint
    FROM terms GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-sensitive rolling-hash document fingerprint (31-bit):
    order-independent exact integer sum, so it distributes — see
    operators.text.fingerprint."""
    docs = spread(T(spark, sf_dir, "documents"))
    return docs.select("doc_id", X.fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "q76_gopher_gate",
    # Composite curation gate: every rule is exact-integer-ratio
    # arithmetic, so the pass/fail booleans are bit-deterministic
    # cross-engine. The 3-gram CTE mirrors operators.dedup.shingles
    # at k=3 (DISTINCT per doc; total = greatest(n_tokens - 2, 1)).
    oracle=rf"""
    WITH w AS (SELECT doc_id, text, {_WORDS} AS words FROM documents),
    feat AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(words,
                    t -> t IN ({{stop}}))) AS BIGINT) AS n_stop,
               CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT)
                   AS n_punct,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM w
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(words, i, i + 2), ' ') AS shingle
        FROM w, unnest(generate_series(1, greatest(len(words) - 2, 1))) AS t(i)
    ),
    d3 AS (SELECT doc_id, COUNT(*) AS n_distinct FROM sh GROUP BY doc_id),
    rules AS (
        SELECT f.doc_id, f.n_tokens,
               CAST(f.n_stop AS DOUBLE) / f.n_tokens AS stopword_ratio,
               CAST(f.n_punct AS DOUBLE) / f.n_chars AS punct_ratio,
               CAST(d3.n_distinct AS DOUBLE)
                   / greatest(f.n_tokens - 2, 1) AS distinct_3gram_ratio
        FROM feat f JOIN d3 USING (doc_id)
    )
    SELECT doc_id, n_tokens, stopword_ratio, punct_ratio,
           distinct_3gram_ratio,
           n_tokens >= 20 AS r_len,
           stopword_ratio >= 0.02 AS r_stop,
           punct_ratio <= 0.2 AS r_punct,
           distinct_3gram_ratio >= 0.5 AS r_dup,
           (n_tokens >= 20 AND stopword_ratio >= 0.02
            AND punct_ratio <= 0.2 AND distinct_3gram_ratio >= 0.5)
               AS passes
    FROM rules
    """.replace("{stop}", _in_list(X.STOPWORDS)),
)
def q76_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate: minimum length, stopword
    floor (gibberish detector), punctuation ceiling (markup/code
    detector), and duplicate-3-gram ceiling (repetition detector) —
    the standard rule stack a curation pipeline applies before any
    model-based scoring. One scan; every rule is a per-document
    expression, so the gate is reshard-stable and embarrassingly
    parallel at 100 TB. The distinct-3-gram count is the size of the
    row's own deduped shingle array: no shuffle or join, and a
    duplicated doc_id keeps each row's own count."""
    from gpu_olap_engine_spark.operators import dedup as D

    docs = (
        spread(T(spark, sf_dir, "documents"))
        .selectExpr("doc_id", "text", f"{D._tokenize_sql('text')} AS w")
        .selectExpr(
            "doc_id", "text", f"size({D._shingle_sql('w', 3)}) AS n_distinct"
        )
    )
    feats = X.quality_features(docs, "doc_id", "text", keep=("n_distinct",))
    dup_ratio = F.col("n_distinct").cast("double") / F.greatest(
        F.col("n_tokens") - 2, F.lit(1)
    )
    r_len = F.col("n_tokens") >= 20
    r_stop = F.col("stopword_ratio") >= 0.02
    r_punct = F.col("punct_ratio") <= 0.2
    r_dup = dup_ratio >= 0.5
    return feats.select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "punct_ratio",
        dup_ratio.alias("distinct_3gram_ratio"),
        r_len.alias("r_len"),
        r_stop.alias("r_stop"),
        r_punct.alias("r_punct"),
        r_dup.alias("r_dup"),
        (r_len & r_stop & r_punct & r_dup).alias("passes"),
    )


@register(
    "text_per_lang_quality_gate",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, text, {_WORDS} AS words FROM documents),
    feat AS (
        SELECT doc_id, lang,
               CAST(len(words) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(words,
                    t -> t IN ({{stop}}))) AS BIGINT) AS n_stop,
               CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT)
                   AS n_punct,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM w
    ),
    q AS (
        SELECT doc_id, lang,
               CAST(floor((0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
                    + 0.3 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100)
                    + 0.2 * (1 - CAST(n_punct AS DOUBLE) / n_chars))
                    * 1000000) AS BIGINT) AS score_q
        FROM feat
    ),
    med AS (SELECT lang, quantile_cont(score_q, 0.5) AS lang_median
            FROM q GROUP BY lang)
    SELECT q.doc_id, q.lang, q.score_q, med.lang_median
    FROM q JOIN med USING (lang)
    WHERE q.score_q > med.lang_median
    """.replace("{stop}", _in_list(X.STOPWORDS)),
)
def text_per_lang_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language relative quality gate: keep documents whose quality
    score clears their OWN language's median — the percentile-per-
    stratum filter curation pipelines use so low-resource languages are
    not judged by the dominant language's distribution. Scores quantize
    to 1e-6 integers before the exact median so the threshold compare
    is bit-identical across engines. Shape: per-doc scoring is narrow;
    the per-language medians are |languages| rows, broadcast back —
    at 100 TB the only shuffle is the tiny percentile aggregation
    (an approx sketch would replace the exact median there)."""
    docs = spread(T(spark, sf_dir, "documents")).select("doc_id", "lang", "text")
    feats = X.quality_features(docs, "doc_id", "text", keep=("lang",))
    scored = feats.select(
        "doc_id",
        "lang",
        F.floor(F.col("quality_score") * 1000000).cast("long").alias("score_q"),
    )
    med = scored.groupBy("lang").agg(
        F.expr("percentile(score_q, 0.5)").alias("lang_median")
    )
    return (
        scored.join(F.broadcast(med), "lang")
        .filter(F.col("score_q") > F.col("lang_median"))
        .select("doc_id", "lang", "score_q", "lang_median")
    )


@register(
    "text_rare_term_scores",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    t AS (SELECT doc_id, unnest(words) AS term FROM w),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    s AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               CAST(tf.tf * (SELECT n_docs FROM n) AS DOUBLE) / dfreq.df
                   AS score
        FROM tf JOIN dfreq USING (term)
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term
        ) AS rn FROM s
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           score
    FROM r WHERE rn <= 3
    """,
)
def text_rare_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted term scoring (TF-IDF family): score = tf x
    N/df, top-3 terms per document with (score DESC, term) as the
    deterministic tiebreak. The log-free rational form keeps the score
    an exact small-integer product/quotient, so ranking is bit-stable
    across engines (ln() is not guaranteed identically rounded).
    Shape: one explode, two map-side-combinable aggregations, a
    term-keyed join (the document-frequency side is |vocab| rows —
    broadcast), one per-doc window."""
    docs = spread(T(spark, sf_dir, "documents"))
    toks = X.tokenize(F.col("text"))
    t = docs.select("doc_id", F.explode(toks).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_row = docs.agg(F.count("*").alias("n_docs"))
    s = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n_row))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
            ).alias("score"),
        )
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    )


@register(
    "text_frequent_terms",
    oracle=f"""
    WITH w AS (
        SELECT unnest({_WORDS}) AS word FROM documents
    ),
    cnt AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    tot AS (SELECT SUM(cnt) AS n FROM cnt)
    SELECT word, cnt, CAST((cnt * 1000000) // t.n AS BIGINT) AS support_ppm
    FROM cnt, tot t
    WHERE cnt * 200 >= t.n
    """,
)
def text_frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters at RELATIVE support >= 0.5% of all token
    occurrences (vocabulary-pruning / stopword-discovery pass).
    Distinct from text_rare_term_scores (per-doc TF-IDF): the
    threshold is a fraction of the corpus total, carried as a scalar
    via a 1-row broadcast; support reported in exact integer ppm.
    Scale: word-keyed count with map-side combine is the whole cost;
    at 100 TB this is the same one-shuffle shape (the candidate set a
    Misra-Gries pass would prefilter is already sub-shuffle here
    because partial aggregation collapses per-partition repeats)."""
    docs = spread(T(spark, sf_dir, "documents"))
    cnt = (
        docs.select(F.explode(X.tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    tot = cnt.agg(F.sum("cnt").alias("n"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 200 >= F.col("n"))
        .select(
            "word",
            "cnt",
            F.expr("(cnt * 1000000) div n").alias("support_ppm"),
        )
    )


@register(
    "text_heavy_hitters_sketch",
    oracle=f"""
    WITH w AS (
        SELECT unnest({_WORDS}) AS word FROM documents
    ),
    cnt AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    tot AS (SELECT SUM(cnt) AS n FROM cnt)
    SELECT word, cnt, CAST((cnt * 1000000) // t.n AS BIGINT) AS support_ppm
    FROM cnt, tot t
    WHERE cnt * 200 >= t.n
    """,
)
def text_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Misra-Gries candidate pruning + exact verify
    (operators.text.heavy_hitters_sketch): identical output to
    text_frequent_terms — the oracle is literally the same SQL — but
    the shuffle carries only sketch candidates instead of the full
    vocabulary. The sketch-with-exact-verify pattern that stays
    oracle-checkable: intermediate candidate sets are partition-
    dependent, the final set is provably the true hitters."""
    return X.heavy_hitters_sketch(
        spread(T(spark, sf_dir, "documents")), "text", support_denom=200,
        capacity=400,
    )


@register(
    "text_drift_chi2",
    oracle="""
    WITH o AS (
        SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY source, lang
    ),
    srcs AS (SELECT source, SUM(o) AS rt FROM o GROUP BY source),
    langs AS (SELECT lang, SUM(o) AS ct FROM o GROUP BY lang),
    grand AS (SELECT SUM(o) AS n FROM o),
    grid AS (
        SELECT s.source, l.lang, s.rt, l.ct, g.n,
               COALESCE(o.o, 0) AS obs
        FROM srcs s CROSS JOIN langs l CROSS JOIN grand g
        LEFT JOIN o ON o.source = s.source AND o.lang = l.lang
    ),
    terms AS (
        SELECT source,
               CAST(floor(
                   (obs - CAST(rt * ct AS DOUBLE) / n)
                   * (obs - CAST(rt * ct AS DOUBLE) / n)
                   / (CAST(rt * ct AS DOUBLE) / n) * 1000000
               ) AS BIGINT) AS tq
        FROM grid
    )
    SELECT source, CAST(SUM(tq) AS DOUBLE) / 1000000 AS chi2_contrib,
           COUNT(*) AS n_cells
    FROM terms GROUP BY source
    """,
)
def text_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring: each source's contribution to
    the chi-squared homogeneity statistic of the language distribution
    (observed vs expected-under-independence counts over the FULL
    source x lang grid, zero cells included). The pipeline-health
    check that catches a crawler segment going off-distribution.
    Expected counts are one double division written identically on
    both engines; per-cell terms are quantized to 1e-6 before the sum
    so accumulation order cannot matter. All inputs are two tiny
    aggregates of one count pass — |sources| + |langs| rows broadcast
    everywhere, nothing rescans the corpus."""
    docs = T(spark, sf_dir, "documents")
    o = docs.groupBy("source", "lang").agg(F.count("*").alias("o"))
    srcs = o.groupBy("source").agg(F.sum("o").alias("rt"))
    langs = o.groupBy("lang").agg(F.sum("o").alias("ct"))
    grand = o.agg(F.sum("o").alias("n"))
    grid = (
        srcs.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(grand))
        .join(o, ["source", "lang"], "left")
        .withColumn("obs", F.coalesce(F.col("o"), F.lit(0)))
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    term = (F.col("obs") - e) * (F.col("obs") - e) / e
    tq = F.floor(term * 1_000_000).cast("long")
    return grid.select("source", tq.alias("tq")).groupBy("source").agg(
        (F.sum("tq").cast("double") / 1_000_000).alias("chi2_contrib"),
        F.count("*").alias("n_cells"),
    )


@register(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH w AS (
        SELECT unnest({_WORDS}) AS word FROM documents
    ),
    pairs AS (
        SELECT substr(word, i, 2) AS pair
        FROM w, unnest(generate_series(1, len(word) - 1)) AS t(i)
        WHERE len(word) >= 2
    ),
    cnt AS (SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair),
    tot AS (SELECT SUM(cnt) AS n FROM cnt)
    SELECT pair, cnt, CAST((cnt * 1000000) // t.n AS BIGINT) AS freq_ppm
    FROM cnt, tot t
    WHERE cnt * 100 >= t.n
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-induction step 1: adjacent character-pair frequencies
    across the corpus (the statistic BPE training greedily merges on),
    reported for pairs at >= 1% of all pair occurrences. The full BPE
    loop is this count -> merge -> recount iterated; the count is the
    distributed-heavy part (one word explode + one pair explode + a
    pair-keyed combine), the merge rewrites are narrow per-word maps.
    Corpus total rides a 1-row broadcast like text_frequent_terms."""
    docs = spread(T(spark, sf_dir, "documents"))
    words = docs.select(F.explode(X.tokenize(F.col("text"))).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    cnt = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    tot = cnt.agg(F.sum("cnt").alias("n"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 100 >= F.col("n"))
        .select("pair", "cnt", F.expr("(cnt * 1000000) div n").alias("freq_ppm"))
    )


@register(
    "text_top_terms_per_lang",
    oracle=f"""
    WITH w AS (SELECT lang, {_WORDS} AS words FROM documents),
    t AS (SELECT lang, unnest(words) AS term FROM w),
    c AS (SELECT lang, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
    r AS (
        SELECT lang, term, cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY cnt DESC, term
               ) AS rn
        FROM c
    )
    SELECT lang, term, cnt, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 5
    """,
)
def text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 terms — the per-group heavy-hitters report
    (text_frequent_terms is the corpus-global twin). Two-phase
    (lang, term) count with map-side combine collapses the corpus to
    vocabulary size BEFORE the ranking window, so the per-lang
    ROW_NUMBER shuffles |vocab|×|langs| rows, never tokens; ties
    break on the term itself, making the top-5 deterministic. At
    100 TB a per-partition partial top-k before the window bounds the
    exchange further without changing these results."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    docs = spread(T(spark, sf_dir, "documents"))
    c = (
        docs.select("lang", F.explode(X.tokenize(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        c.select(
            "lang", "term", "cnt", F.row_number().over(w).cast("long").alias("rn")
        )
        .filter(F.col("rn") <= 5)
    )
