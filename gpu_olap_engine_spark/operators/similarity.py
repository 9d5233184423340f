"""Similarity search over embedding columns (array<float>).

The reference cannot even represent list types
(arrow-interop/src/schema_utils.rs:29-33 rejects them); this module is
part of the beyond-reference LLM-pipeline mandate.

Numeric determinism: each product term is scaled to an integer
(floor(x*y * 1e12) as BIGINT) and summed exactly — integer addition is
order-independent, and every step (float->double cast, IEEE multiply,
floor) is bit-identical on Spark and DuckDB, so cosine values match
the oracle exactly. The 1e-12 term quantization is far below any
meaningful similarity resolution.

Scale design: brute-force top-k is the exact baseline (a broadcast
nested-loop against the query set — fine when the query set is small
and the corpus streams). The bucketed variant prunes the corpus by a
deterministic coarse quantizer (sign bits of leading dimensions), the
IVF idea: candidates shrink ~2^bits-fold before scoring; at 100 TB the
bucket column becomes a partition key so a probe touches one
partition. A pyspark.ml random-hyperplane LSH variant lives in
queries/similarity.py as the library path.

Construction rule (operators/dedup.py): per-call derives are parsed
SQL (_centroid_dists, _lsh_sigs, _blocked_groups' tiling transform),
not Column trees — each Column node or Python lambda is a driver ->
JVM gateway call of about 0.2-0.5 ms, a parsed expression a handful
whatever its size.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gpu_olap_engine_spark.persist import persist, query_scoped
from gpu_olap_engine_spark.queries.tables import qident

SCALE = 1e12  # term quantization: floor(x*y*SCALE) summed as int64


def _fold_scaled(products: Column) -> Column:
    """Exact order-independent sum: quantize each double term to an
    int64 (floor at 1e-12) and add exactly; emit as double (sums stay
    < 2^53, so the cast is exact).

    A NaN term quantizes to NULL (not floor(NaN) -> cast-to-long 0,
    the cast artifact r9 ADVICE flagged), and NULL poisons the
    integer fold, so any NaN-bearing input yields NULL — the same
    total rule as the Arrow batch twin (scaled_dot_batch). The check
    rides inside the existing per-element transform: zero extra array
    traversals (an exists(isnan) guard was measured at +30-45% on the
    brute-force scoring row; this is noise-level)."""
    terms = F.transform(
        products,
        lambda x: F.when(~F.isnan(x), F.floor(x * F.lit(SCALE)).cast("long")),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x).cast("double")


def scaled_dot(a: Column, b: Column) -> Column:
    """Quantized dot product of two float arrays, in SCALE units.

    NaN-bearing vectors yield NULL — the same total rule as the Arrow
    batch twin (scaled_dot_batch), where element-NULLs and NaNs are
    indistinguishable at the Arrow list boundary; the NaN -> NULL
    mapping lives in _fold_scaled's transform so the two
    implementations agree on every input at no extra pass
    (r9 ADVICE low #4)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _fold_scaled(prods)


def scaled_norm_sq(a: Column) -> Column:
    """Quantized squared L2 norm, in SCALE units."""
    prods = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return _fold_scaled(prods)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; deterministic cross-engine (exact integer
    sums, IEEE sqrt/divide; the SCALE factors cancel)."""
    return scaled_dot(a, b) / (F.sqrt(scaled_norm_sq(a)) * F.sqrt(scaled_norm_sq(b)))


def scaled_dot_batch() -> Column:
    """Arrow-vectorized twin of scaled_dot for the candidate-VERIFY
    hot path: bit-identical quantized math (float32 -> float64 exact
    widening, float64 products, floor to SCALE-unit int64 terms,
    exact integer sum — numpy and Catalyst execute the same IEEE ops),
    but over whole Arrow batches instead of Catalyst's interpreted
    per-element ArrayAggregate/ZipWith fold. Higher-order functions
    never enter whole-stage codegen, so at ~sf1 the interpreted fold
    inside the candidate join's bound condition dominated the
    near-dup runtime by minutes; the numpy batch path does the same
    arithmetic at C speed.

    Degenerate inputs (r9 advice hardening): NULL arrays and ragged
    pairs return NULL (matching Catalyst's zip_with/null propagation);
    rows with a NaN element return NULL too — element-level NULLs
    arrive as NaN through the Arrow list boundary, so NaN-means-NULL
    is the only total rule. Catalyst's scaled_dot applies the same
    rule via the per-element NaN->NULL guard inside _fold_scaled's
    transform (a NaN term nulls the array sum; the up-front
    exists(isnan) pass was measured 30-45% slower and rejected — see
    _fold_scaled), so the two implementations agree on EVERY input,
    degenerate or not. An all-NULL batch stacks
    into an object array (TypeError, not ValueError) — both fall
    back."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        av, bv = a.to_numpy(), b.to_numpy()
        out = np.full(len(av), np.nan, dtype=np.float64)
        try:
            A = np.stack(av).astype(np.float64)
            B = np.stack(bv).astype(np.float64)
            sums = (
                np.floor(A * B * SCALE).astype(np.int64).sum(axis=1)
            ).astype(np.float64)
            bad = np.isnan(A).any(axis=1) | np.isnan(B).any(axis=1)
            out[:] = np.where(bad, np.nan, sums)
        except (ValueError, TypeError):  # ragged / null rows
            for i in range(len(av)):
                x, y = av[i], bv[i]
                if x is None or y is None or len(x) != len(y):
                    continue
                xa = np.asarray(x, dtype=np.float64)
                ya = np.asarray(y, dtype=np.float64)
                if np.isnan(xa).any() or np.isnan(ya).any():
                    continue
                t = np.floor(xa * ya * SCALE).astype(np.int64)
                out[i] = float(t.sum())
        return pd.Series(out)

    return dot


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    queries is expected to be small -> broadcast; the corpus streams
    through a nested-loop scoring pass, then per-query top-k via
    window rank (TakeOrdered shape). Ties broken by neighbor id.
    Returns (query_id, neighbor_id, cosine, rank).
    """
    from gpu_olap_engine_spark.queries.tables import spread

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def sign_bucket(vec: Column, bits: int = 3) -> Column:
    """Deterministic coarse quantizer: sign bits of the first `bits`
    dimensions -> bucket id 0..2^bits-1."""
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(vec.getItem(i) > 0, F.lit(2 ** (bits - 1 - i))).otherwise(0)
    return b.cast("long")


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 3,
) -> DataFrame:
    """IVF-style ANN: score only corpus vectors in the query's bucket.

    Approximate (recall measured against brute force in tests); the
    candidate set shrinks ~2^bits-fold. At scale, write the corpus
    partitioned by `bucket` so each probe prunes to one partition.
    Returns (query_id, neighbor_id, cosine, rank).
    """
    from gpu_olap_engine_spark.queries.tables import spread

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _dlit(x: float) -> str:
    """Exact SQL double literal. repr() emits the shortest decimal
    that round-trips to the identical double, and the SQL lexer's
    D-suffixed literal parses it back bit-for-bit (verified against
    F.lit on the fixture values). Non-finite values fold to the same
    doubles via constant expressions."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'' if x > 0 else '-'}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _arr_sql(values: list[float]) -> str:
    """SQL array literal of exact doubles."""
    return "array(" + ",".join(_dlit(x) for x in values) + ")"


def _sq_l2_sql(vec_sql: str, centroid: list[float]) -> str:
    """SQL fragment: squared L2 distance between a vector expression
    and one centroid literal — (cast(x as double) - y)^2 folded
    left-to-right from 0.0, the exact arithmetic every assignment
    path (and the DuckDB oracle twin) shares."""
    return (
        f"aggregate(zip_with({vec_sql}, {_arr_sql(centroid)}, (x, y) -> "
        "(cast(x as double) - y) * (cast(x as double) - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _dot_sql(vec_sql: str, plane_sql: str) -> str:
    """SQL fragment: quantized dot product (SCALE units, emitted as
    double) between a vector expression and a plane expression —
    op-for-op the scaled_dot/_fold_scaled pipeline (double casts,
    IEEE multiply, per-term NaN -> NULL guard, floor to int64,
    exact integer fold from 0, final double cast), so the value is
    bit-identical on every input. Parity pinned by
    tests/test_similarity_kernels.py::test_lsh_signature_parity."""
    return (
        f"CAST(aggregate(transform(zip_with({vec_sql}, {plane_sql}, "
        "(x_, y_) -> cast(x_ as double) * cast(y_ as double)), "
        "p_ -> CASE WHEN NOT isnan(p_) THEN "
        f"cast(floor(p_ * {_dlit(SCALE)}) as bigint) END), "
        "cast(0 as bigint), (a_, t_) -> a_ + t_) AS DOUBLE)"
    )


def _centroid_dists(vec_sql: str, centroids: list[list[float]]) -> Column:
    """Array of (squared-L2 distance, centroid index) structs.
    Struct sort order = (d ASC, ci ASC): ties resolve to the lowest
    cluster id, matching _nearest_centroid's strict `<` update rule.

    r13: ONE parsed SQL expression — a transform lambda over a literal
    array-of-centroids — instead of k separate per-centroid Column
    trees. The per-element arithmetic, fold order and (d, ci) struct
    shape are identical op-for-op (parity pinned by
    tests/test_similarity_kernels.py::test_compact_centroid_exprs);
    what changes is construction cost: O(k*dim) py4j round trips
    (~1-2 s of pure driver time PER K-MEANS ITERATION) collapse into
    one parse, and the analyzer sees an O(1)-size tree."""
    carr = "array(" + ",".join(_arr_sql(c) for c in centroids) + ")"
    return F.expr(
        f"transform({carr}, (c, i) -> struct("
        f"aggregate(zip_with({vec_sql}, c, (x, y) -> "
        "(cast(x as double) - y) * (cast(x as double) - y)), "
        "0.0D, (acc, x) -> acc + x) as d, "
        "cast(i as bigint) as ci))"
    )


def _nearest_centroid(vec_sql: str, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid: the first element of the sorted
    (distance, index) struct array. Ties resolve to the lowest index
    (struct order (d, ci)). Takes the vector as a SQL fragment (column
    name or slice expression) so the whole assignment is one parsed
    expression — see _centroid_dists."""
    return (
        F.array_sort(_centroid_dists(vec_sql, centroids))
        .getItem(0)
        .getField("ci")
        .cast("long")
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means: init = the k lowest-id vectors;
    fixed iteration count; centroid means computed from exact integer
    sums (floor(x*1e6) per element), so every run — regardless of
    partitioning or evaluation order — produces identical centroids.
    Each iteration: one assignment+aggregation job; centroids (k x dim
    doubles) round-trip through the driver, the standard Spark ML
    shape."""
    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("kmeans_centroids requires a non-empty corpus "
                         "with non-null vectors")
    dim = len(head[0])
    init = corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [[float(x) for x in r[0]] for r in init]
    q = 1_000_000
    # r13: the per-dimension quantized sums are parsed SQL fragments
    # (one py4j call each, identical arithmetic: cast(element_at(..)
    # as double) * 1000000 is the same double multiply, floor/cast
    # unchanged) — Column-building them cost ~0.3 s of driver time
    # per iteration at dim=64. The assignment stage is per-row
    # compute-bound (interpreted HOF distances), so the corpus is
    # spread first (module convention — single-file fixtures otherwise
    # evaluate it on one core); results are partitioning-independent
    # (exact integer sums).
    from gpu_olap_engine_spark.queries.tables import spread

    # r14 (ADVICE r13 #3, pq_codebooks precedent): persist the spread
    # working relation for the iteration loop — each of the `iters`
    # assignment jobs consumed the source scan AND the round-robin
    # repartition again; one materialization serves them all.
    # Unpersisted before return; values are partitioning-independent
    # (exact integer sums), so caching cannot change the result.
    work = spread(corpus.select(vec_col)).persist()
    sum_cols = [
        F.expr(
            f"sum(cast(floor(cast(element_at(v, {i + 1}) as double)"
            f" * {q}) as bigint))"
        ).alias(f"s{i}")
        for i in range(dim)
    ]
    try:
        for _ in range(iters):
            assigned = work.select(
                F.col(vec_col).alias("v"),
                _nearest_centroid(qident(vec_col), centroids).alias("c"),
            )
            sums = assigned.groupBy("c").agg(
                F.count("*").alias("n"), *sum_cols
            )
            rows = {r["c"]: r for r in sums.collect()}
            # float(s) first: mirrors the oracle's CAST(s AS DOUBLE)
            # /1e6/n op-for-op, so the cross-engine bit-match holds
            # even when the int64 sums exceed 2^53 (int/int division
            # would round the exact rational instead and silently
            # diverge there).
            centroids = [
                [
                    float(rows[c][f"s{i}"]) / q / rows[c]["n"]
                    for i in range(dim)
                ]
                if c in rows
                else centroids[c]  # empty cluster keeps its centroid
                for c in range(len(centroids))
            ]
    finally:
        work.unpersist()
    return centroids


def kmeans_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 8,
    iters: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-ANN with a learned coarse quantizer: k-means clusters the
    corpus; each query probes its `nprobe` nearest clusters and scores
    only those members. Real IVF recall (vs the sign-bucket
    quantizer's fixed planes) at the same sub-linear scan cost; at
    scale the corpus is written partitioned by cluster id.
    Returns (query_id, neighbor_id, cosine, rnk)."""
    from gpu_olap_engine_spark.queries.tables import spread

    cents = kmeans_centroids(corpus, id_col, vec_col, n_clusters, iters)
    # spread: the post-train assignment is the same per-row
    # compute-bound stage as the training iterations (see
    # kmeans_centroids); values are per-row, partitioning-free.
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _nearest_centroid(qident(vec_col), cents).alias("cluster"),
    )
    # query probes: distributed — centroids (k x dim scalars) embed as
    # literals, each query row computes all k distances JVM-side, sorts
    # the (dist, cluster) structs, and explodes its nprobe smallest.
    # No collect of the query relation (the round-1 driver-side loop).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        F.explode(
            F.slice(
                F.array_sort(_centroid_dists(qident(vec_col), cents)), 1, nprobe
            )
        ).alias("probe"),
    ).select("query_id", "q_vec", F.col("probe.ci").alias("cluster"))
    scored = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def hyperplane_weight(t: int, p: int, d: int, n_planes: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1]:
    a multiplicative integer hash of (table, plane, dim), divided by
    1e6. Pure int64 arithmetic + one IEEE divide, so Spark, DuckDB and
    Python all produce the identical double — the cross-engine-
    checkable replacement for JVM-seeded random projections."""
    k = (t * n_planes + p) * 1000003 + d
    return (k * 2654435761 % 2000001 - 1000000) / 1e6


def hyperplane_tables(n_tables: int, n_planes: int, dim: int) -> list[list[list[float]]]:
    """[table][plane][dim] deterministic hyperplane weights."""
    return [
        [
            [hyperplane_weight(t, p, d, n_planes) for d in range(dim)]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _lsh_sigs(vec_sql: str, planes: list[list[list[float]]]) -> Column:
    """Array of (table, bucket) signature structs as ONE parsed SQL
    expression (r14, VERDICT r13 #4 — the same collapse
    _centroid_dists got in r13): a transform over the literal
    [table][plane][dim] array replaces the n_tables x n_planes
    per-plane `when` Column trees (24 separate zip_with/aggregate
    folds at the defaults) that the analyzer had to type-check as one
    giant expression per signature. Arithmetic is op-for-op the old
    loop: bit p = CASE WHEN scaled_dot(vec, plane) > 0 THEN 2^p ELSE
    0 END (NULL dot -> ELSE 0, exactly as when().otherwise(0)), bits
    left-folded in ascending p from a bigint 0 — parity pinned by
    tests/test_similarity_kernels.py::test_lsh_signature_parity."""
    tarr = (
        "array("
        + ",".join(
            "array(" + ",".join(_arr_sql(p) for p in table) + ")"
            for table in planes
        )
        + ")"
    )
    return F.expr(
        f"transform({tarr}, (tp_, ti_) -> struct("
        "cast(ti_ as bigint) as t, "
        f"aggregate(transform(tp_, (pl_, pi_) -> "
        f"CASE WHEN {_dot_sql(vec_sql, 'pl_')} > 0D "
        "THEN shiftleft(cast(1 as bigint), pi_) "
        "ELSE cast(0 as bigint) END), "
        "cast(0 as bigint), (ba_, bb_) -> ba_ + bb_) as bucket))"
    )


def scaled_sq_dist(a: Column, b: Column) -> Column:
    """Quantized squared L2 distance (SCALE units, exact int64 sum)."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return _fold_scaled(prods)


def hyperplane_lsh_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 3,
    n_planes: int = 8,
    max_dist: float = 8.0,
) -> DataFrame:
    """Sign-random-projection LSH near-neighbor pairs, fully
    deterministic and oracle-checkable.

    Each vector gets an ``n_planes``-bit signature per hash table
    (bit p = sign of its quantized dot with hyperplane (t, p));
    candidate pairs share a full signature in >=1 table (equi-join on
    (table, bucket) — never all-pairs), then only candidates get the
    exact quantized euclidean verify ``dist <= max_dist``. At 100 TB
    the (table, bucket) key is the shuffle/partition key and AQE
    splits hot buckets. Returns (id_a, id_b, dist).
    """
    from gpu_olap_engine_spark.queries.tables import spread

    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        # empty corpus -> empty pair set (matching the oracle's empty
        # join result), not a driver-side TypeError
        spark = corpus.sparkSession
        return spark.createDataFrame(
            [], "id_a long, id_b long, dist double"
        )
    dim = len(head[0])
    planes = hyperplane_tables(n_tables, n_planes, dim)
    vecs = spread(corpus).selectExpr(
        f"{qident(id_col)} AS vid", f"{qident(vec_col)} AS vec"
    )
    # r14 (VERDICT r13 #4): the whole signature array is ONE parsed
    # SQL expression — see _lsh_sigs for the arithmetic-parity
    # argument; the r13 form still built n_tables x n_planes `when`
    # Column trees driver-side
    keyed = vecs.select(
        "vid", F.explode(_lsh_sigs("`vec`", planes)).alias("sig")
    ).select(
        "vid", F.col("sig.t").alias("t"), F.col("sig.bucket").alias("bucket")
    )
    ka = keyed.select(F.col("vid").alias("id_a"), "t", "bucket")
    kb = keyed.select(F.col("vid").alias("id_b"), "t", "bucket")
    cand = (
        ka.join(kb, ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vecs.select(F.col("vid").alias("id_a"), F.col("vec").alias("va"))
    vb = vecs.select(F.col("vid").alias("id_b"), F.col("vec").alias("vb"))
    dist = F.sqrt(scaled_sq_dist(F.col("va"), F.col("vb"))) / F.lit(1e6)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 8,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector is split into `m`
    contiguous subspaces and each gets its own deterministic k-means
    codebook (same exact arithmetic as kmeans_centroids: init = the k
    lowest-id vectors' slices, int64-quantized centroid updates, fixed
    iterations, ties to the lowest code).

    All m subspaces train in ONE job per iteration: the sliced corpus
    is persisted once, each iteration explodes rows into (subspace,
    assigned-code, slice) and aggregates per (subspace, code) in a
    single shuffle — not m independent k-means drivers re-scanning the
    corpus (m x iters redundant scans). Returns
    [subspace][code][sub_dim] doubles."""
    head = corpus.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("pq_codebooks requires a non-empty corpus "
                         "with non-null vectors")
    dim = len(head[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    from gpu_olap_engine_spark.queries.tables import spread

    # spread before persist: the cached slices feed the per-row
    # compute-bound assignment each iteration (one shuffle total;
    # single-file fixtures otherwise pin every iteration to one core)
    sl = spread(corpus).select(
        F.col(id_col).alias("vid"),
        *[F.slice(F.col(vec_col), j * sub + 1, sub).alias(f"s{j}") for j in range(m)],
    ).persist()
    try:
        init = sl.orderBy("vid").limit(k_codes).collect()
        books = [
            [[float(x) for x in r[f"s{j}"]] for r in init] for j in range(m)
        ]
        q = 1_000_000
        # r13: quantized-sum fragments parsed once (same arithmetic as
        # before, see kmeans_centroids) — the m*k*sub Column trees this
        # loop used to build cost seconds of pure driver time per
        # iteration.
        sum_cols = [
            F.expr(
                f"sum(cast(floor(cast(element_at(v, {i + 1}) as double)"
                f" * {q}) as bigint))"
            ).alias(f"s{i}")
            for i in range(sub)
        ]
        for _ in range(iters):
            subs = F.array(
                *[
                    F.struct(
                        F.lit(j).cast("long").alias("j"),
                        _nearest_centroid(f"`s{j}`", books[j]).alias("c"),
                        F.col(f"s{j}").alias("v"),
                    )
                    for j in range(m)
                ]
            )
            ex = sl.select(F.explode(subs).alias("e")).select("e.j", "e.c", "e.v")
            sums = ex.groupBy("j", "c").agg(F.count("*").alias("n"), *sum_cols)
            rows = {(r["j"], r["c"]): r for r in sums.collect()}
            books = [
                [
                    # float(s) first — same double-first rounding as the
                    # oracle's CAST(s AS DOUBLE)/1e6/n (safe past 2^53).
                    [
                        float(rows[(j, c)][f"s{i}"]) / q / rows[(j, c)]["n"]
                        for i in range(sub)
                    ]
                    if (j, c) in rows
                    else books[j][c]  # empty code keeps its centroid
                    for c in range(k_codes)
                ]
                for j in range(m)
            ]
        return books
    finally:
        sl.unpersist()


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 8,
    iters: int = 2,
    k: int = 5,
) -> DataFrame:
    """PQ-compressed ANN with asymmetric distance (ADC): the corpus is
    stored as m code bytes per vector (8 bytes vs 256 here — the
    memory trick that makes billion-scale ANN fit in RAM); a query
    scores a candidate as the sum of its subspace distances to the
    candidate's code centroids (query side stays exact — asymmetric).

    Every step is deterministic: codebooks from exact k-means,
    assignment ties to the lowest code, ADC terms summed in fixed
    subspace order (left-to-right IEEE adds), rank ties to the lowest
    neighbor id — PQ collapses distinct vectors to identical codes by
    design, so the tiebreaker carries real weight.

    At 100 TB the encoded corpus (codes only) is the resident set and
    the codebooks (m x k x sub doubles) broadcast as literals — the
    scan is a narrow projection of 8 small ints per row. Returns
    (query_id, neighbor_id, adc_dist, rnk).
    """
    from gpu_olap_engine_spark.queries.tables import spread

    books = pq_codebooks(corpus, id_col, vec_col, m, k_codes, iters)
    sub = len(books[0][0])
    enc = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        *[
            _nearest_centroid(
                f"slice({qident(vec_col)}, {j * sub + 1}, {sub})", books[j]
            ).alias(f"c{j}")
            for j in range(m)
        ],
    )
    # r13: the per-subspace ADC lookup tables depend only on the query
    # vector, so they are computed ON the (tiny) query side BEFORE the
    # join — the identical _sq_l2 expressions over the identical q_vec
    # values, evaluated once per query row instead of once per scored
    # (query x candidate) row; post-join each row is just m
    # element_at picks. Bit-identical by construction.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[
            F.expr(
                "array("
                + ",".join(
                    _sq_l2_sql(
                        f"slice({qident(vec_col)}, {j * sub + 1}, {sub})", c
                    )
                    for c in books[j]
                )
                + ")"
            ).alias(f"lut{j}")
            for j in range(m)
        ],
    )
    adc = None
    for j in range(m):
        term = F.element_at(F.col(f"lut{j}"), (F.col(f"c{j}") + 1).cast("int"))
        adc = term if adc is None else adc + term
    scored = (
        enc.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def top_dim_keys(vec: Column, m: int = 6) -> Column:
    """Blocking keys for similarity self-joins: the `m` highest-|value|
    dimensions of the vector, signed — key = dim*2 + (val > 0).

    Prefix-filtering idea (AllPairs/PPJoin family): cosine-similar
    vectors share heavy coordinates, so an inverted index on each
    vector's top-m signed dims yields an equi-join candidate set
    instead of an all-pairs product. Deterministic: ranked by
    |val| DESC with ties broken by lowest dim (cross-engine stable —
    exact float widening + total order on (abs, dim)).

    Empty/NULL vectors yield an empty key array (no candidates — the
    oracle's generate_series(1, 0) likewise emits nothing); without
    the guard, sequence(0, -1) counts DOWN and element_at(vec, 0)
    aborts the whole job.

    r11: this Catalyst form is the SPEC and parity reference — the
    hot path derives the same keys in one Arrow-vectorized
    mapInPandas pass (_near_dup_keyed; interpreted HOFs never enter
    codegen and cost ~5 s at sf10), pinned row-for-row against this
    expression by test_near_dup_keyed_matches_catalyst."""
    idx = F.sequence(F.lit(0), F.size(vec) - 1)
    structs = F.transform(
        idx,
        lambda i: F.struct(
            (-F.abs(F.element_at(vec, i.cast("int") + 1).cast("double"))).alias("a"),
            i.alias("d"),
            F.when(F.element_at(vec, i.cast("int") + 1) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("s"),
        ),
    )
    top = F.slice(F.array_sort(structs), 1, m)
    keys = F.transform(top, lambda t: (t.getField("d") * 2 + t.getField("s")).cast("long"))
    return F.when(F.size(vec) > 0, keys).otherwise(F.array().cast("array<long>"))


QSCALE = 1_000_000  # vector-level quantization for the matmul verify



def _f32_margin(dim: int, threshold: float) -> np.float32:
    """Absolute cosine-units slack for the float32 Gram PREFILTER.

    r11 (supersedes r10's f64 multiply-form `_prefilter_lim`): the
    prefilter only needs to be a SUPERSET test — survivors are
    re-verified with the exact integer dot + IEEE division — so it
    runs entirely in float32 on PRE-NORMALIZED rows: w32 = q32 / n32
    once per group, then the bound test per Gram cell is the bare
    compare ``w32a @ w32b.T >= t - margin`` with no per-slab outer
    matrix and no bound-side multiply at all (the post-GEMM
    elementwise work, not the GEMM, dominated the r10 kernel: 1.4 s
    of a 3.3 s per-bucket wall at sf10; the outer-matrix temp was
    the biggest surviving term after the first f32 rewrite). Error
    budget, all ABSOLUTE in cosine units (Cauchy-Schwarz on the
    normalized rows bounds sum|w_a||w_b| <= ~1):

    - normalization rounding: w32 = fl(q32 / n32), 1 ulp per element
      plus 1 ulp from the f32 norm cast — contributes ~2 * 2^-24
      relative to each |cos| <= 1;
    - f32 sgemm over dim normalized terms: |g32w - cos| <=
      (dim+2) * 2^-24 (standard gamma_n bound on unit-ish rows);
    - the exact predicate's own division rounding: ~2^-53, noise.

    The margin is (dim+16) * 2^-24 * 8 * (1+|t|) — an 8x safety
    factor over the summed worst case — subtracted ABSOLUTELY from
    the threshold (r10's relative slack would vanish at t -> 0 while
    the GEMM error does not; the absolute form is sign-safe for any
    t). A zero norm makes w32 NaN, and NaN fails every ``>=``
    compare — the same drop the exact path's NaN cosine produced."""
    return np.float32((dim + 16) * 2.0 ** -24 * 8.0 * (1.0 + abs(threshold)))


def _unit_rows_f32(q32: np.ndarray, nrm: np.ndarray) -> np.ndarray:
    """Row-normalized float32 matrix for the prefilter GEMM; zero
    norms yield NaN rows that fail every bound compare (see
    _f32_margin)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return q32 / nrm.astype(np.float32)[:, None]


_SCRATCH: dict = {}


def _slab(name: str, dtype, rows: int, cols: int) -> np.ndarray:
    """Persistent per-worker scratch slab, reused across groups and
    reps (r12): the verify loop used to allocate a fresh ~70 MB Gram
    slab plus two bool temporaries PER SLAB per group — with 32
    concurrent Python workers the resulting mmap/munmap + page-fault
    storm serialized in the kernel and cost ~5x the kernel's
    single-process rate (measured: 8.9 ns/cell alone vs ~47 ns/cell
    effective in-job). One worker runs one task at a time, so a
    module-level buffer is safe; it grows to the largest (rows x
    cols) seen and returns a CONTIGUOUS view (matmul out= and
    np.nonzero both take their fast paths on contiguous arrays).
    Peak footprint per worker: block_rows x max_bucket x 5 bytes
    (~85 MB at the defaults)."""
    n = rows * cols
    buf = _SCRATCH.get(name)
    if buf is None or buf.size < n:
        buf = np.empty(n, dtype=dtype)
        _SCRATCH[name] = buf
    return buf[:n].reshape(rows, cols)


def _bound_hits(wa32, wb32, tl, s: int, e: int) -> tuple:
    """Float32 bound scan of one slab: rows wa32[s:e] against columns
    wb32 (already restricted by the caller), returning LOCAL (r, c)
    survivor indices. matmul and the compare write into reused
    scratch (see _slab); arithmetic is unchanged from r11 — same
    GEMM, same `>= tl` compare, same survivors."""
    rows, cols = e - s, wb32.shape[0]
    g32 = np.matmul(
        wa32[s:e], wb32.T, out=_slab("g32", np.float32, rows, cols)
    )
    b = np.greater_equal(g32, tl, out=_slab("b", np.bool_, rows, cols))
    return np.nonzero(b)


def _mask_words(rb: pa.RecordBatch) -> tuple:
    """The minimal-shared-key gate's per-row key-set bitmasks (two
    uint64 words covering blocking keys 0..127), as shipped by
    _near_dup_keyed. Scalar longs deliberately — an array<smallint>
    key column was measured to DOUBLE the grouped relation's Arrow
    boundary cost at sf10 (per-row list boxing, not bytes: movement
    14 -> 29 s) while two int64 columns are plain numpy vectors.
    NULL masks mean some key >= 128 (vector dim > 64): the gate's
    single-emission guarantee cannot hold, so fail loudly rather
    than emit silently-duplicated or dropped pairs."""
    lo, hi = rb.column("mlo"), rb.column("mhi")
    if lo.null_count or hi.null_count:
        raise ValueError(
            "minimal-shared-key gating needs blocking keys < 128 "
            "(vector dim <= 64); drop the mlo/mhi columns from the "
            "keyed relation so gram_pairs takes the terminal-distinct "
            "path (near_dup_pairs does this automatically when the "
            "corpus is wider than 64 dims)"
        )
    return lo.to_numpy().view(np.uint64), hi.to_numpy().view(np.uint64)


def _mask_gate(
    bkey: int,
    ua: tuple, ub: tuple,
    r: np.ndarray, c: np.ndarray,
) -> np.ndarray:
    """Keep mask: pair (r_i, c_i) is kept iff the two rows share NO
    blocking key below `bkey` — i.e. `bkey` is their minimal shared
    key (both rows carry `bkey` by construction of the bucket), so
    exactly ONE bucket in the whole job emits any given pair and the
    operator needs no terminal distinct. ~6 uint64 ops per survivor."""
    b = int(bkey)
    if b < 64:
        blo = np.uint64((1 << b) - 1)
        bhi = np.uint64(0)
    else:
        blo = np.uint64((1 << 64) - 1)
        bhi = np.uint64((1 << (b - 64)) - 1)
    return ((ua[0][r] & ub[0][c] & blo) == 0) & (
        (ua[1][r] & ub[1][c] & bhi) == 0
    )


class _GramSide(NamedTuple):
    """One side of a Gram verify: ids, the exact float64 rows and norms,
    the float32 unit rows the bound scan reads, and the gate's mask
    words (None when ungated)."""

    ids: np.ndarray
    q: np.ndarray
    nrm: np.ndarray
    w32: np.ndarray
    masks: tuple | None


def _gram_side(rows: dict, gated: bool, sel=None) -> _GramSide:
    """The Gram side of a group's rows (all of them, or those the bool
    mask `sel` picks), from the numpy columns _arrow_rows decodes."""
    def pick(c):
        return rows[c] if sel is None else rows[c][sel]

    q32 = pick("qvec")
    if q32.dtype == object:  # ragged batch: a length mix raises here
        q32 = np.stack(q32)
    q32 = q32.astype(np.float32, copy=False)
    q = q32.astype(np.float64)  # exact: integer-valued < 2^24
    nrm = np.sqrt((q * q).sum(axis=1))  # exact integer sums
    return _GramSide(
        pick("vid"), q, nrm, _unit_rows_f32(q32, nrm),
        (pick("mlo"), pick("mhi")) if gated else None,
    )


def _ragged(vectors) -> np.ndarray:
    """One vector per row, copied into an object array: the vector
    column of rows whose vectors differ in length."""
    out = np.empty(len(vectors), dtype=object)
    for i, v in enumerate(vectors):
        out[i] = np.array(v)
    return out


def _arrow_rows(rb: pa.RecordBatch, gated: bool) -> dict:
    """One Arrow batch as row-aligned numpy columns: every scalar
    column as is, the gate's mask words when gated (_mask_words), and
    `qvec` as an (n, dim) view of its flat values — or, when the
    batch's vectors differ in length, an object array of rows."""
    rows = {
        c: rb.column(c).to_numpy(zero_copy_only=False)
        for c in rb.schema.names if c not in ("qvec", "mlo", "mhi")
    }
    if gated:
        rows["mlo"], rows["mhi"] = _mask_words(rb)
    qv = rb.column("qvec")
    flat = qv.flatten().to_numpy(zero_copy_only=False)
    lens = pc.list_value_length(qv).fill_null(0).to_numpy()
    if (lens == lens[0]).all():
        rows["qvec"] = flat.reshape(len(lens), lens[0])
    else:
        rows["qvec"] = _ragged(np.split(flat, np.cumsum(lens)[:-1]))
    return rows


def _concat_rows(a: dict, b: dict) -> dict:
    out = {c: np.concatenate([x, b[c]]) for c, x in a.items() if c != "qvec"}
    qa, qb = a["qvec"], b["qvec"]
    if qa.shape[1:] != qb.shape[1:] or qa.dtype != qb.dtype:
        qa, qb = _ragged(qa), _ragged(qb)  # vectors of two widths
    out["qvec"] = np.concatenate([qa, qb])
    return out


def _sorted_groups(batches, keys: list, gated: bool):
    """Cut a partition's key-sorted Arrow batches into groups of equal
    `keys`, yielding each group's numpy rows. The last group of a batch
    is copied out and carried into the next batch, so memory is one
    batch plus the largest group."""
    carry = None
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        rows = _arrow_rows(rb, gated)
        change = np.zeros(n - 1, dtype=bool)
        for c in keys:
            change |= rows[c][1:] != rows[c][:-1]
        bounds = [0, *(np.flatnonzero(change) + 1).tolist(), n]
        groups = [
            {c: v[s:e] for c, v in rows.items()}
            for s, e in zip(bounds, bounds[1:])
        ]
        if carry is not None:
            if all(carry[c][0] == groups[0][c][0] for c in keys):
                groups[0] = _concat_rows(carry, groups[0])
            else:
                yield carry
        yield from groups[:-1]
        carry = {c: v.copy() for c, v in groups[-1].items()}
    if carry is not None:
        yield carry


def _gram_walk(df: DataFrame, keys: list, names: tuple, verify) -> DataFrame:
    """Run `verify` on every `keys` group of `df` — a generator of
    (ids_a, ids_b, cosine) arrays per group — in one Arrow pass per
    partition: rows shuffle on the keys, sort within partitions, and
    one mapInArrow call walks each partition's groups in numpy
    (_sorted_groups). Returns (names[0] long, names[1] long, cosine
    double), emitted in batches of about 64k rows."""
    gated = "mlo" in df.columns
    schema = pa.schema(
        [(names[0], pa.int64()), (names[1], pa.int64()), ("cosine", pa.float64())]
    )

    def emit(hits):
        return pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(col), type=f.type)
             for col, f in zip(zip(*hits), schema)],
            schema=schema,
        )

    def walk(batches):
        hits, held = [], 0
        for rows in _sorted_groups(batches, keys, gated):
            for h in verify(rows):
                if len(h[2]):
                    hits.append(h)
                    held += len(h[2])
            if held >= 65536:
                yield emit(hits)
                hits, held = [], 0
        if hits:
            yield emit(hits)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInArrow(walk, f"{names[0]} long, {names[1]} long, cosine double")
    )


def _exact_hits(bkey: int, a: _GramSide, b: _GramSide, r, c, threshold: float):
    """(ids_a, ids_b, cosine) of the bound-scan survivors (r, c) that
    pass the minimal-shared-key gate and the exact predicate: integer
    dot, then the oracle's IEEE division."""
    if a.masks is not None and len(r):
        keep = _mask_gate(bkey, a.masks, b.masks, r, c)
        r, c = r[keep], c[keep]
    gex = np.einsum("ij,ij->i", a.q[r], b.q[c])  # exact ints
    cos = gex / (a.nrm[r] * b.nrm[c])
    keep = cos >= threshold
    return a.ids[r][keep], b.ids[c][keep], cos[keep]


def _gram_rect(bkey: int, a: _GramSide, b: _GramSide, threshold: float, block_rows: int):
    """Every (a-row, b-row) pair with cosine >= threshold, scanned in
    ``block_rows``-row slabs of a: normalized f32 bound scan (bare
    compare, no outer matrix), then the exact predicate on survivors
    only (see _f32_margin); scratch-buffered GEMM + compare (r12, see
    _slab). Yields (ids_a, ids_b, cosine) per slab."""
    tl = np.float32(threshold) - _f32_margin(a.q.shape[1], threshold)
    for s in range(0, len(a.ids), block_rows):
        e = min(s + block_rows, len(a.ids))
        r, c = _bound_hits(a.w32, b.w32, tl, s, e)
        yield _exact_hits(bkey, a, b, r + s, c, threshold)


@query_scoped
def near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    block_m: int = 10,
    max_bucket: int = 16384,
    chunk: int = 8192,
    block_rows: int = 1024,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold:
    inverted-index blocking on top-m signed dims (top_dim_keys), then
    per-BUCKET exact matmul verification in one mapInArrow pass per
    partition (_gram_walk).

    Result = {(a, b): a, b share >= 1 top-m signed dim AND
    cosine(a, b) >= threshold}, a < b.

    Why per-bucket matmul (round-8 redesign): on 64-dim embeddings the
    single-dim key space is only 128 slots, so by the birthday bound a
    random pair shares a top-10 dim with p ~ 0.55 — the candidate set
    is ~57% of ALL pairs (measured: 1.14M of 2M at sf0.1, 114M of 200M
    at ~sf1), and materializing it (ids + both vectors) made the old
    join-then-verify path shuffle/Arrow-transfer ~58 GB at ~sf1
    (334 s). The verify set is intrinsic to the operator's definition;
    what is NOT intrinsic is paying per-pair data movement for it.
    This path moves each vector ONCE per blocking key (linear: the
    grouped relation is |corpus| x block_m rows) and computes all
    within-bucket pairs as ONE dense Gram matmul per bucket — the
    quadratic part becomes in-core BLAS-rate compute, the distributed
    part stays linear. Cross-bucket duplicate pairs collapse with one
    distinct over the (tiny) post-threshold output.

    Bit-exact cross-engine arithmetic WITHOUT per-pair folds: vectors
    quantize ONCE to integers q_i = floor(x_i * 1e6) (|x| < 2 ->
    every product q_i*q_j <= 4e12 and every 64-term sum <= 2.6e14,
    far under 2^53), so float64 Gram partial sums NEVER round — any
    summation order gives the same exact integer. The DuckDB twin
    is list_inner_product over the same quantized lists; sqrt/divide
    are single IEEE ops on identical inputs. (The per-term 1e-12
    quantization used by cosine_similarity/_TERMS remains the
    convention for the ranked top-k operators, where pair counts are
    small; this vector-level scheme is the bulk-verify convention.)
    r11: the quantized integers ship as float32 (exact below 2^24 —
    half the shuffle/Arrow bytes), the bound scan runs in float32
    with a proven-superset margin (_f32_margin) so only survivors
    pay the exact integer dot, and the `keys` column's minimal-
    shared-key gate makes every pair single-emission (no terminal
    distinct; at sf10 the ungated path carried 3.85x duplicates).

    Recall on the fixture embeddings at the deliberately hard 0.45
    threshold is unchanged by the redesign (the blocking is
    identical): block_m=10 retains 14/14 true pairs at sf0.01 and
    142/144 at sf0.1.

    Hot buckets (r9): bucket skew is the scale hazard — a
    pathologically hot blocking key would concentrate one Gram block
    into a single Python worker. Buckets larger than ``max_bucket``
    rows are now TILED: rows hash-partition (xxhash64 of the id, so
    deterministic) into ``ceil(size / chunk)`` chunks and every
    unordered chunk pair (ci <= cj) becomes its own verify group,
    so per-group rows are bounded by ~2*chunk in expectation
    whatever the bucket size; the tiling replicates each hot-bucket
    row nchunks times — the unavoidable data-movement cost of a
    bounded-memory quadratic verify, paid ONLY by hot buckets
    (non-hot buckets get nchunks = 1: one group, zero replication,
    the round-8 plan unchanged). Inside a group the Gram product is
    computed in ``block_rows``-row slabs, so peak memory is
    block_rows x k doubles (not k x k, and no O(k^2) triu index
    arrays). Every Gram entry is the same exact integer under any
    tiling/slabbing (integer-valued doubles, sums < 2^53), so the
    output set is bit-identical to the untiled matmul. At 100 TB the
    grouped shuffle stays linear in corpus size except for the
    hot-bucket replication factor, which max_bucket/chunk bound.

    Returns (id_a, id_b, cosine).
    """
    keyed = _near_dup_keyed(corpus, id_col, vec_col, block_m)
    # The minimal-shared-key gate's two mask words cover blocking
    # keys 0..127, i.e. vector dim <= 64. Wider corpora drop the
    # masks so gram_pairs takes the terminal-distinct path instead of
    # failing at verify time. r13 (retires the r12 first-row probe —
    # it was order-dependent on ragged corpora and an eager Spark job
    # on an otherwise-lazy construction path): callers that know the
    # corpus width pass `dim=` and construction stays job-free; only
    # when unspecified does a one-scalar agg probe MAX vector length
    # (order-INDEPENDENT — a ragged corpus hiding one wide vector now
    # takes the distinct path instead of relying on the loud
    # _mask_words failure). A WRONG dim hint <= 64 on a wider corpus
    # still fails loudly in _mask_words (never a silently wrong pair
    # set); a wrong hint > 64 merely forfeits the gate's speedup.
    if dim is None:
        probe = corpus.agg(F.max(F.size(F.col(vec_col)))).first()
        dim = probe[0] if probe is not None else None
    if dim is not None and dim > 64:
        keyed = keyed.drop("mlo", "mhi")
    return gram_pairs(keyed, threshold, max_bucket, chunk, block_rows)


@query_scoped
def gram_pairs(
    keyed: DataFrame,
    threshold: float,
    max_bucket: int = 16384,
    chunk: int = 8192,
    block_rows: int = 1024,
    assume_unique: bool = False,
) -> DataFrame:
    """Within-bucket cosine pairs >= threshold over a
    (vid, qvec[, mlo, mhi], bkey) relation via the tiled per-bucket Gram
    verify (see near_dup_pairs for the full rationale) — shared by the
    top-dim-blocked near-dup and the cluster-blocked SemDeDup.

    qvec must be integer-valued (floor(x * QSCALE)), float or double;
    workers widen to float64 where every Gram partial sum is exact in
    any order. When shipped as float32 the values must stay < 2^24
    (|x| < 16 at QSCALE=1e6 — the module convention is |x| < 2), so
    the integers survive the narrower storage exactly.

    r11 kernel: the bound scan runs in FLOAT32 (2.4x faster sgemm,
    half-size slab temps; within-chunk slabs only materialize columns
    >= the slab start, halving the triangle's cell count), slackened
    by the proven _f32_margin so it passes a strict SUPERSET of the
    exact predicate; survivors get the exact integer dot + the
    oracle's IEEE division — output bit-identical to the full f64
    scan (measured 3.6x on the sf10 median bucket).

    r12 kernel: the GEMM and the bound compare write into persistent
    per-worker scratch (_slab — the per-slab fresh allocations had
    serialized 32 concurrent workers on mmap/page faults), and the
    strict-upper-triangle constraint is a post-scan filter on the
    rare survivors instead of an O(cells) bool matrix. The verify
    MASS itself is provably irreducible at low thresholds: any
    lossless projection band is bounded by sqrt(2(1-t)) in
    unit-projection units (1.05 at t=0.45 — wider than the whole
    range), and min-key sub-blocking removes only 4% of cells
    (measured at sf10); see BENCH_SCALE.md round-12.

    Dedup of multi-key pairs: when `keyed` carries mlo/mhi key-set
    bitmask columns (as _near_dup_keyed emits), each survivor pair is
    gated on `bkey == its minimal shared key` (_mask_gate), so every
    pair is emitted by exactly one bucket and the terminal distinct
    disappears — at sf10 the ungated path emitted 97.4M rows (3.85x
    multiplicity) that a ~12 s distinct then collapsed to 25.3M.
    Without masks, `assume_unique=True` (bkey is a partition of the
    corpus, e.g. SemDeDup's cluster ids) also skips the distinct;
    otherwise the legacy distinct remains. Returns distinct
    (id_a, id_b, cosine), id_a < id_b, under every mode."""
    gated = "mlo" in keyed.columns
    grouped = _blocked_groups(persist(keyed), max_bucket, chunk)

    def verify(rows):
        bkey, gi, gj = rows["bkey"][0], rows["gi"][0], rows["gj"][0]
        if gi == gj:  # within-chunk: strict-upper-triangle pairs
            if len(rows["vid"]) < 2:
                return
            a = _gram_side(rows, gated)
            tl = np.float32(threshold) - _f32_margin(a.q.shape[1], threshold)
            hits = []
            for s in range(0, len(a.ids), block_rows):
                e = min(s + block_rows, len(a.ids))
                # columns < s can never satisfy col > row here — skip
                # them in the GEMM itself (halves the triangle's
                # cells). r12: the strict-upper-triangle constraint
                # moved from a per-slab bool matrix (`tri`, an O(cells)
                # temporary) to a post-scan filter on the (rare)
                # survivors — same pair set, no O(cells) allocation.
                r, c = _bound_hits(a.w32, a.w32[s:], tl, s, e)
                keep = c > r  # local coords: col > row <=> global too
                hits.append(_exact_hits(bkey, a, a, r[keep] + s, c[keep] + s, threshold))
        else:  # cross-chunk: full rectangle, each pair in ONE group
            in_a, in_b = rows["ck"] == gi, rows["ck"] == gj
            if not in_a.any() or not in_b.any():
                return
            hits = _gram_rect(
                bkey, _gram_side(rows, gated, in_a), _gram_side(rows, gated, in_b),
                threshold, block_rows,
            )
        for ia, jb, cos in hits:
            lo, hi = np.minimum(ia, jb), np.maximum(ia, jb)
            good = lo != hi  # a vector appears once per bucket; belt+braces
            yield lo[good], hi[good], cos[good]

    result = _gram_walk(grouped, ["bkey", "gi", "gj"], ("id_a", "id_b"), verify)
    return result if gated or assume_unique else result.distinct()


@query_scoped
def gram_cross_pairs(
    keyed_big: DataFrame,
    keyed_small: DataFrame,
    threshold: float,
    max_bucket: int = 16384,
    chunk: int = 8192,
    block_rows: int = 1024,
) -> DataFrame:
    """Cross-relation cosine pairs >= threshold between a BIG keyed
    relation and a SMALL one (both (vid, qvec, bkey), ids disjoint,
    same quantization as gram_pairs): the asymmetric complement of
    gram_pairs for eval-vs-corpus shapes (decontamination, labeled
    probes). The big side hash-tiles exactly like gram_pairs' hot
    buckets; the small side REPLICATES into every chunk of its bucket
    — the grouped-shuffle analog of broadcasting the tiny side, so
    big-side rows still move ONCE per blocking key and no big-big
    pair is ever formed (gram_pairs would verify the big side against
    itself too — quadratic work this shape never needs).

    r11: shares gram_pairs' float32 bound scan (exact survivors only)
    and minimal-shared-key gate — with `keys` on both sides each
    (big, small) pair is emitted by exactly one bucket, so the
    terminal distinct disappears. Returns distinct
    (id_big, id_small, cosine) under every mode."""
    gated = "mlo" in keyed_big.columns and "mlo" in keyed_small.columns
    kcols = ["mlo", "mhi"] if gated else []
    # r14 (guide §2.4/§4, same fix as _blocked_groups): keyed_big (the
    # corpus derive, a Python mapInPandas pass) has two consumers (size
    # aggregate + join back), so it is persisted; keyed_small has one.
    # Callers whose sides filter one keyed relation persist that
    # relation (sim_decontaminate), so the derive runs once. A
    # union+window one-pass form was A/B-equal locally but REJECTED
    # for the bare-bkey shuffle's <=128-way parallelism cap at scale.
    keyed_big = persist(keyed_big)
    sizes = keyed_big.groupBy("bkey").agg(F.count("*").alias("bsz"))
    nch = (
        F.when(F.col("bsz") <= max_bucket, F.lit(1))
        .otherwise(F.ceil(F.col("bsz") / chunk))
        .cast("int")
    )
    big = (
        keyed_big.join(F.broadcast(sizes), "bkey")
        .select(
            "bkey", "vid", "qvec", *kcols,
            F.pmod(F.xxhash64(F.col("vid")), nch).cast("int").alias("ci"),
            F.lit(0).alias("side"),
        )
    )
    small = (
        keyed_small.join(F.broadcast(sizes), "bkey")  # inner: buckets
        # with no big rows can hold no cross pairs
        .select(
            "bkey", "vid", "qvec", *kcols,
            F.explode(F.sequence(F.lit(0), nch - 1)).alias("ci"),
            F.lit(1).alias("side"),
        )
    )
    both = big.unionByName(small)

    def verify(rows):
        big, small = rows["side"] == 0, rows["side"] == 1
        if big.any() and small.any():
            yield from _gram_rect(
                rows["bkey"][0], _gram_side(rows, gated, big),
                _gram_side(rows, gated, small), threshold, block_rows,
            )

    result = _gram_walk(both, ["bkey", "ci"], ("id_big", "id_small"), verify)
    return result if gated else result.distinct()


def _near_dup_keyed(
    corpus: DataFrame, id_col: str, vec_col: str, block_m: int
) -> DataFrame:
    """(vid, qvec, mlo, mhi, bkey): one row per vector per top-m
    blocking key. r11 transfer layout:

    - qvec ships as FLOAT32: the quantized values floor(x * 1e6) are
      integers < 2^24 under the module's |x| < 2 convention, so the
      narrower storage is exact and halves the vector bytes through
      the grouped shuffle + Arrow boundary (the dominant bytes of the
      relation); workers widen back to float64 for the exact path.
    - mlo/mhi pack the vector's FULL top-m key set into two int64
      bitmask words (keys are dim*2+sign, so 128 slots cover dim <=
      64), enabling the verify's minimal-shared-key gate: each
      surviving pair is emitted by exactly one bucket, so
      gram_pairs/gram_cross_pairs skip their terminal distinct (at
      sf10 the ungated path emitted 3.85x duplicate rows). Scalar
      longs, NOT an array column: an array<smallint> key list doubled
      the grouped relation's Arrow-boundary cost (per-row list
      boxing). When any key is >= 128 (dim > 64) both words are NULL
      and the verify fails loudly (_mask_words) instead of emitting a
      silently wrong pair set.

    Derivation runs in ONE Arrow-vectorized mapInPandas pass (r11):
    top_dim_keys is an interpreted higher-order expression
    (array_sort over dim structs per vector, never whole-stage
    codegen — the scaled_dot_batch lesson), and at sf10 the Catalyst
    derivation cost ~5 s of a ~25 s row. The numpy twin is
    semantics-identical by construction: np.argsort(-|x|, stable)
    equals the (-abs, dim) struct sort (stable keeps dim-ascending
    tie order; NaN sorts last on both engines), sign/quantization
    are the same IEEE ops, and
    tests/test_operators.py::test_near_dup_keyed_matches_catalyst
    pins the full relation against the Catalyst form."""
    from gpu_olap_engine_spark.queries.tables import spread

    vecs = spread(corpus).selectExpr(
        f"{qident(id_col)} AS vid", f"{qident(vec_col)} AS vec"
    )

    def derive(batches):
        one = np.uint64(1)
        for pdf in batches:
            vids = pdf["vid"].to_numpy()
            arrs = pdf["vec"].to_numpy()
            if len(vids) == 0:
                continue
            try:
                X = np.stack(arrs).astype(np.float64)
            except ValueError:  # ragged corpus: group rows by length
                lens = np.fromiter(
                    (len(a) if a is not None else -1 for a in arrs),
                    dtype=np.int64,
                    count=len(arrs),
                )
                for ln in np.unique(lens):
                    if ln <= 0:
                        continue  # NULL/empty vectors emit no keys
                    sel = np.nonzero(lens == ln)[0]
                    sub = pdf.iloc[sel][["vid", "vec"]]
                    yield from derive(iter([sub]))
                continue
            if X.ndim != 2:
                # an ALL-NULL batch stacks into a 1-D NaN array (no
                # ValueError to catch); NULL vectors emit no keys —
                # same contract as the ragged branch's ln <= 0 skip
                continue
            if X.shape[1] == 0:
                continue
            m = min(block_m, X.shape[1])
            # stable ascending sort of -|x| == |x| DESC with dim-ASC
            # ties == top_dim_keys' (-abs, dim) struct sort; NaN
            # sorts last on both engines
            order = np.argsort(-np.abs(X), axis=1, kind="stable")[:, :m]
            top = np.take_along_axis(X, order, axis=1)
            # Spark NaN semantics: NaN compares larger than any value,
            # so element_at(vec, i) > 0 is TRUE for NaN — numpy's
            # (x > 0) alone would diverge on NaN dims (only reachable
            # when a vector has fewer than m finite dims)
            signs = (np.isnan(top) | (top > 0)).astype(np.int64)
            keys = order.astype(np.int64) * 2 + signs  # (n, m)
            Qd = np.floor(X * QSCALE)
            # Spark's floor returns LONG: floor(NaN * 1e6) -> 0, not
            # NaN — match it so qvec stays bit-equal to the Catalyst
            # spec (floor(x*QSCALE).cast("float")) on NaN dims
            Qd[np.isnan(Qd)] = 0.0
            if np.abs(Qd).max() >= 2.0**24:
                raise ValueError(
                    "near-dup qvec ships as float32, exact only for "
                    "|floor(x*1e6)| < 2^24 (the module's |x| < 2 "
                    "convention, hard limit |x| < ~16.7); this corpus "
                    f"reaches {np.abs(Qd).max():.3g} — rescale the "
                    "embeddings (the bit-exact guarantee would "
                    "silently break otherwise)"
                )
            Q = Qd.astype(np.float32)
            valid = (keys < 128).all(axis=1)
            ksh = keys.astype(np.uint64)
            lo = np.bitwise_or.reduce(
                np.where(keys < 64, one << (ksh & np.uint64(63)), 0),
                axis=1,
            ).view(np.int64)
            hi = np.bitwise_or.reduce(
                np.where(
                    (keys >= 64) & (keys < 128),
                    one << ((ksh - np.uint64(64)) & np.uint64(63)),
                    0,
                ),
                axis=1,
            ).view(np.int64)
            n = len(vids)
            # ONE row per vector (r12): the per-KEY layout boxed m
            # python list objects per vector into the Arrow boundary
            # (2M qvec lists at sf10); emitting the key array once per
            # vector and exploding it in Catalyst moves the m-fold
            # duplication JVM-side (columnar copy), cutting the
            # python->Arrow emission mass m-fold.
            if valid.all():
                mlo_col, mhi_col = lo, hi
            else:
                # keys >= 128: masks must be NULL. Build nullable
                # Int64 — assigning None into an int64 column upcasts
                # it to float64, and masks whose set bits span > 52
                # positions silently lose low bits through the Arrow
                # cast back to long (r12 advice: reproduced bits 0/3
                # dropped on a 63-bit-span mask), corrupting the
                # minimal-shared-key gate for the batch's VALID rows.
                mlo_col = pd.array(lo, dtype="Int64")
                mhi_col = pd.array(hi, dtype="Int64")
                mlo_col[~valid] = pd.NA
                mhi_col[~valid] = pd.NA
            out = pd.DataFrame(
                {
                    "vid": vids,
                    "qvec": list(Q),
                    "mlo": mlo_col,
                    "mhi": mhi_col,
                    "keys": list(keys),
                }
            )
            yield out

    one_per_vec = vecs.mapInPandas(
        derive,
        "vid long, qvec array<float>, mlo long, mhi long, "
        "keys array<long>",
    )
    return one_per_vec.selectExpr(
        "vid", "qvec", "mlo", "mhi", "explode(keys) AS bkey"
    )


def _blocked_groups(
    keyed: DataFrame, max_bucket: int, chunk: int
) -> DataFrame:
    """Tile hot blocking buckets into bounded chunk-pair groups.

    Buckets with <= max_bucket rows form a single (bkey, 0, 0) group;
    larger buckets hash rows into nchunks = ceil(size / chunk) chunks
    (xxhash64(vid) — deterministic) and each row replicates into the
    nchunks groups (min(ck, o), max(ck, o)); a pair lands in exactly
    one group (its two chunk ids), so no pair is verified twice within
    a bucket and per-group rows are ~2*chunk in expectation. The
    bucket-size relation is tiny (|distinct bkey| <= 2 * vector dims)
    so it broadcasts. A `keys` column (the minimal-shared-key gate's
    input) rides along when present.

    r14 (guide §2.4/§4 — profiled in 5d6d881:scripts/r14_prof_neardup.py):
    `keyed` is read twice — bucket-size aggregate + the join back —
    and it is the operator's expensive relation (a Python mapInPandas
    derive for near-dup/decontaminate, a k-means assignment scan for
    semdedup), so the caller passes it persisted (gram_pairs does, for
    the life of its result) and the Python/assignment pass runs once
    per query. Every shuffle stays on scalable keys (sizes aggregates
    map-side; rows move only on the exploded (bkey, gi, gj) group
    keys). A COUNT-window alternative was A/B-equal locally but
    REJECTED: it shuffles the corpus on bare bkey — a <=128-way
    parallelism ceiling at 100 TB."""
    cols = ["bkey", "vid", "qvec"] + (
        ["mlo", "mhi"] if "mlo" in keyed.columns else []
    )
    sizes = keyed.groupBy("bkey").agg(F.expr("count(*) AS bsz"))
    nch = (
        f"CAST(CASE WHEN bsz <= {max_bucket} THEN 1 "
        f"ELSE ceil(bsz / {chunk}) END AS INT)"
    )
    ck = "CAST(pmod(xxhash64(vid), nch) AS INT)"
    groups = (
        "transform(sequence(0, nch - 1), "
        f"o -> struct(least({ck}, o) AS gi, greatest({ck}, o) AS gj))"
    )
    return (
        keyed.join(F.broadcast(sizes), "bkey")
        .withColumn("nch", F.expr(nch))
        .withColumn("ck", F.expr(ck))
        .selectExpr(*cols, "ck", f"explode({groups}) AS g")
        .selectExpr(*cols, "ck", "g.gi AS gi", "g.gj AS gj")
    )


@query_scoped
def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    iters: int = 3,
    threshold: float = 0.45,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then dropping every vector
    that has a LOWER-id near-duplicate (cosine >= threshold) in its
    own cluster. The k-means stage bounds the quadratic: pairs are
    generated by a cluster-id equi-join, so the cost is sum over
    clusters of |cluster|^2, never corpus^2 — at 100 TB n_clusters
    scales with the corpus (the paper uses ~100k clusters for
    billions of docs) keeping clusters O(10^4) rows, and the
    per-cluster pairing shuffles once on the cluster id. Keep-lowest-id
    election is single-pass (no transitive chasing): deterministic,
    order-independent, and the paper's own policy.

    Returns (vec_id, cluster, is_kept) for EVERY corpus vector.
    Reference has no similarity surface at all (README.md:288-315);
    this composes our kmeans_centroids + gram_pairs primitives.

    r9: the within-cluster verify is the same tiled per-cluster Gram
    matmul as near_dup_pairs (gram_pairs with bkey = cluster id) —
    vectors move once per cluster instead of once per PAIR (the old
    a x b join shipped both vectors through every candidate row), a
    pathologically hot cluster tiles into bounded chunk-pair groups,
    and the cosine arithmetic is the vector-level quantization
    convention (floor(x*1e6) once per vector, exact integer Gram) —
    the bulk-verify convention shared with near_dup_pairs, mirrored
    bit-for-bit by the DuckDB array_inner_product twin.
    """
    from gpu_olap_engine_spark.queries.tables import spread

    cents = kmeans_centroids(corpus, id_col, vec_col, n_clusters, iters)
    # spread: per-row compute-bound assignment + quantization (module
    # convention; values are per-row, partitioning-free)
    m = spread(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _nearest_centroid(qident(vec_col), cents).alias("cluster"),
    )
    keyed = m.select(
        F.col("vec_id").alias("vid"),
        F.transform(
            F.col("vec"),
            lambda x: F.floor(x.cast("double") * QSCALE).cast("float"),
        ).alias("qvec"),
        F.col("cluster").alias("bkey"),
    )
    # assume_unique: cluster ids PARTITION the corpus (one bucket per
    # vector), so every pair already lands in exactly one group and
    # gram_pairs' terminal distinct would dedupe nothing
    dropped = (
        gram_pairs(keyed, threshold, assume_unique=True)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        m.join(dropped.withColumn("__dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("is_kept"),
        )
    )
