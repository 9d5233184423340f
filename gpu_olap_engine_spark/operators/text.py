"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

All built-in SQL expressions (JVM-side); the heuristics are simple and
deterministic by design so the DuckDB oracle reproduces them exactly.
These are the Spark-idiomatic analog of the reference's "custom CUDA
kernel" extension point (README.md:354-378): per-row compute fused
into whole-stage codegen instead of a hand-launched kernel.

Construction rule (operators/dedup.py): quality_features, a chain
stage run once per shard, is one parsed SQL projection — the same
expression tree as Column helpers would build, in ~30 gateway calls
(each ~0.2-0.5 ms) instead of ~400.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpu_olap_engine_spark.operators.dedup import _tokenize_sql, base_hash, tokenize
from gpu_olap_engine_spark.queries.tables import qident

FP_P = 2_147_483_647  # fingerprint modulus (2^31-1)

# Marker vocabularies for the n-gram language-ID heuristic. Tiebreaks
# resolve in this order (first wins).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "it", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "una", "por"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "dans"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "zh": ["的", "是", "了", "在", "我", "有"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
PUNCT_CLASS = "[.!?,;:]"


def token_count(text: Column) -> Column:
    """Whitespace token count (BIGINT)."""
    return F.size(tokenize(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword count: word-piece regex splits on non-alnum and
    counts ~4-char chunks — a cheap, deterministic token estimator
    (the usual chars/4 heuristic, but per-word exact)."""
    words = tokenize(text)
    per_word = F.transform(
        words, lambda w: F.ceil(F.length(F.regexp_replace(w, r"[^\p{L}\p{N}]", "")) / 4)
    )
    return F.aggregate(per_word, F.lit(0).cast("long"), lambda a, x: a + x.cast("long"))


def marker_score(text: Column, markers: list[str]) -> Column:
    """How many tokens of `text` appear in the marker list (BIGINT)."""
    toks = tokenize(text)
    hits = F.filter(toks, lambda w: w.isin(*markers))
    return F.size(hits).cast("long")


def predict_lang(text: Column) -> Column:
    """Argmax over marker scores, ties resolved by LANG_MARKERS order."""
    scores = {lang: marker_score(text, m) for lang, m in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    expr = F.lit(langs[-1])
    # Build the CASE chain back-to-front so earlier langs win ties.
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = (
                scores[lang] >= scores[other]
                if langs.index(other) > langs.index(lang)
                else scores[lang] > scores[other]
            )
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_features(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document quality features + a composite score in [0, 1].

    Components (all exact integer ratios -> IEEE doubles):
      stopword_ratio  — stopword tokens / tokens
      punct_ratio     — punctuation chars / chars
      len_score       — min(tokens, 100) / 100
    score = 0.5*stopword + 0.3*len + 0.2*(1 - punct)

    ``keep`` lists extra input columns carried through unchanged
    (e.g. a language label for per-language thresholds downstream).
    """
    text = qident(text_col)
    toks = _tokenize_sql(text)
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_tok = f"CAST(size({toks}) AS BIGINT)"
    n_stop = f"CAST(size(filter({toks}, w -> w IN ({stops}))) AS BIGINT)"
    n_chars = f"CAST(length({text}) AS BIGINT)"
    n_punct = (
        f"CAST(length(regexp_replace({text}, '[^{PUNCT_CLASS[1:-1]}]', '')) AS BIGINT)"
    )
    stop_ratio = f"(CAST({n_stop} AS DOUBLE) / {n_tok})"
    punct_ratio = f"(CAST({n_punct} AS DOUBLE) / {n_chars})"
    len_score = f"(CAST(least({n_tok}, 100) AS DOUBLE) / 100)"
    return df.selectExpr(
        qident(id_col),
        *map(qident, keep),
        f"{n_tok} AS n_tokens",
        f"{n_stop} AS n_stopwords",
        f"{n_punct} AS n_punct",
        f"{stop_ratio} AS stopword_ratio",
        f"{punct_ratio} AS punct_ratio",
        f"{stop_ratio} * 0.5D + {len_score} * 0.3D + (1 - {punct_ratio}) * 0.2D "
        "AS quality_score",
    )


def fingerprint(text: Column) -> Column:
    """Position-sensitive 31-bit document fingerprint (BIGINT).

    fp = SUM_i ((hash(word_i) % P) * (i % 64 + 1) % P) % P — integer
    terms summed exactly (order-independent), so reordering words
    changes the value but execution order never does. A rolling-hash
    analog that distributes (unlike a true Rabin-Karp chain, which is
    sequential and would force a single-threaded pass)."""
    words = tokenize(text)
    terms = F.transform(
        words,
        lambda w, i: (base_hash(w) % FP_P) * (i % 64 + 1) % FP_P,
    )
    total = F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)
    return (total % FP_P).cast("long")


def heavy_hitters_sketch(
    df, text_col: str, support_denom: int = 200, capacity: int = 400
):
    """Corpus heavy hitters (relative support >= 1/support_denom of
    all token occurrences) via a Misra-Gries candidate pass + exact
    verification — the sketch-pruned 100 TB path whose OUTPUT is still
    exactly the true heavy-hitter set.

    Guarantee chain: any token with global relative frequency
    >= 1/support_denom has, in at least one partition (pigeonhole),
    local relative frequency >= 1/support_denom > 1/capacity; a
    Misra-Gries summary of `capacity` counters never evicts an item
    with local frequency > n_p/capacity, so the UNION of per-partition
    candidate sets contains every true hitter regardless of data
    placement. The exact second pass counts ONLY candidates (semi join
    on a broadcast of <= capacity x partitions words) and filters by
    the true threshold, removing all false positives. The result is
    deterministic and partition-layout invariant even though each
    partition's intermediate candidate set is not.

    vs the plain groupBy formulation (queries.text.text_frequent_terms,
    same output): that shuffles one row per DISTINCT token; this
    shuffles only the candidates — the win when the vocabulary is
    huge (URLs, n-grams) and the hitters few. Python cost is one
    Arrow-batched mapInPandas over the exploded tokens.
    """
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    if capacity <= support_denom:
        # the pigeonhole step needs 1/support_denom > 1/capacity, or a
        # true hitter sitting exactly at threshold can be evicted
        raise ValueError(
            f"capacity ({capacity}) must exceed support_denom "
            f"({support_denom}) for the no-false-negative guarantee"
        )

    words = df.select(F.explode(tokenize(F.col(text_col))).alias("word"))

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for w in pdf["word"]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < capacity:
                    counters[w] = 1
                else:
                    # decrement-all step; drop zeros
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        yield pd.DataFrame({"word": list(counters.keys())})

    cand = words.mapInPandas(mg, "word string").distinct()
    counted = (
        words.join(F.broadcast(cand), "word", "left_semi")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    total = words.agg(F.count("*").alias("n"))
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * support_denom >= F.col("n"))
        .select(
            "word",
            "cnt",
            F.expr("(cnt * 1000000) div n").alias("support_ppm"),
        )
    )
