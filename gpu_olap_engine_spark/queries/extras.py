"""Surface completions, round-1 tail: derived-table joins, edit
distance, exact percentiles, FILTER clause, ordered group-concat,
UNION DISTINCT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_olap_engine_spark.queries import register
from gpu_olap_engine_spark.queries.tables import T, dsum, o_dsum


@register(
    "q62_derived_table_join",
    oracle=f"""
    SELECT big.o_custkey, COUNT(*) AS n_big_orders,
           {o_dsum('big.o_totalprice')} AS big_total
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) big
    JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000) rich
      ON big.o_custkey = rich.c_custkey
    GROUP BY big.o_custkey
    """,
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join of two derived tables (subselects in FROM) — the reference
    example's self-join-on-subselect shape (python_usage.py:314-316)."""
    big = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    rich = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey")
    )
    return (
        big.join(rich, big.o_custkey == rich.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_big_orders"),
            dsum("o_totalprice", "big_total"),
        )
    )


@register(
    "q63_edit_distance",
    oracle="""
    SELECT c_custkey,
           CAST(levenshtein(c_name, 'Customer#000000001') AS BIGINT) AS dist_to_first,
           CAST(levenshtein(lower(c_mktsegment), 'building') AS BIGINT) AS dist_seg
    FROM customer WHERE c_custkey < 100
    """,
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance — the fuzzy string matcher for entity
    resolution (exact integer DP, deterministic on both engines)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return c.select(
        "c_custkey",
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000001"))
        .cast("long")
        .alias("dist_to_first"),
        F.levenshtein(F.lower("c_mktsegment"), F.lit("building"))
        .cast("long")
        .alias("dist_seg"),
    )


@register(
    "q64_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation over the sorted group —
    both engines implement the same continuous-quantile definition).
    The exact counterpart of q41's sketch path; at 100 TB prefer the
    sketch, but the exact form must exist for parity."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        )
    )


@register(
    "q65_filter_clause",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS finished,
           COUNT(*) FILTER (WHERE o_totalprice > 300000) AS big,
           {o_dsum('o_totalprice')} AS total
    FROM orders GROUP BY o_orderpriority
    """,
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause (ANSI conditional aggregation syntax;
    the CASE-WHEN spelling is exercised in q24)."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("finished"),
        F.count(F.when(F.col("o_totalprice") > 300000, 1)).alias("big"),
        dsum("o_totalprice", "total"),
    )


@register(
    "q66_group_concat",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
               AS priorities
    FROM orders GROUP BY o_orderstatus
    """,
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct group-concat: collect_set -> sort_array ->
    concat_ws — emitted as a string so the list representation never
    reaches the comparator."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderpriority"))).alias(
                "priorities"
            )
        )
    )


@register(
    "q68_redact_patterns",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]+', '<NUM>', 'g') AS name_redacted,
           CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g'))
                AS BIGINT) AS n_digits
    FROM customer WHERE c_custkey < 100
    """,
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern redaction (PII-scrub shape): replace digit runs with a
    placeholder and count removed characters — the regexp scrubbing
    pass of a training-data pipeline (DuckDB needs the 'g' flag;
    Spark replaces all matches by default)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]+", "<NUM>").alias("name_redacted"),
        (
            F.length("c_name") - F.length(F.regexp_replace("c_name", "[0-9]", ""))
        )
        .cast("long")
        .alias("n_digits"),
    )


@register(
    "q69_repetition_runs",
    oracle=r"""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
        FROM documents
    ),
    pos AS (
        SELECT doc_id, i, words[i] AS word
        FROM w, unnest(generate_series(1, len(words))) AS t(i)
    ),
    islands AS (
        SELECT doc_id, word,
               i - ROW_NUMBER() OVER (
                   PARTITION BY doc_id, word ORDER BY i
               ) AS grp
        FROM pos
    ),
    runs AS (
        SELECT doc_id, COUNT(*) AS run_len
        FROM islands GROUP BY doc_id, word, grp
    )
    SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS max_run
    FROM runs GROUP BY doc_id
    """,
)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (training-data quality): longest run of
    identical consecutive words per document, via the gaps-and-islands
    transform (position minus per-word rank is constant within a run).
    Degenerate repeated-token documents are a standard pre-training
    filter target."""
    from pyspark.sql.window import Window

    from gpu_olap_engine_spark.operators.dedup import tokenize
    from gpu_olap_engine_spark.queries.tables import spread

    docs = spread(T(spark, sf_dir, "documents"))
    pos = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("i0", "word")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "word")
    w = Window.partitionBy("doc_id", "word").orderBy("i")
    islands = pos.withColumn("grp", F.col("i") - F.row_number().over(w))
    runs = islands.groupBy("doc_id", "word", "grp").agg(
        F.count("*").alias("run_len")
    )
    return runs.groupBy("doc_id").agg(
        F.max("run_len").cast("long").alias("max_run")
    )


@register(
    "q67_union_distinct",
    oracle="""
    SELECT c_nationkey AS nkey FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT s_nationkey AS nkey FROM supplier
    """,
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT (q15 covers UNION ALL) — dedup across branches."""
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nkey"))
    )
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nkey"))
    return c.unionByName(s).distinct()


@register(
    "q90_merge_upsert",
    oracle="""
    WITH t AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    src AS (
        SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 1000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 31 = 0
    )
    SELECT s.o_orderkey, s.o_totalprice, s.o_orderstatus,
           CASE WHEN t.o_orderkey IS NOT NULL
                THEN 'updated' ELSE 'inserted' END AS action
    FROM src s LEFT JOIN t ON s.o_orderkey = t.o_orderkey
    UNION ALL
    SELECT t.o_orderkey, t.o_totalprice, t.o_orderstatus, 'kept'
    FROM t WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM src)
    """,
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (operators.joins.merge_by_key): a change
    batch — price updates for keys % 7, brand-new keys for % 31 —
    merges into the orders snapshot in ONE full-outer shuffle join;
    matched keys take the source row ('updated'), source-only keys
    insert, the rest persist ('kept'). The oracle states the same
    semantics as src-wins union + anti. This is the semantics layer
    under a table format's MERGE (sources.table_format.merge_into); the
    reference has no write path at all (parser.rs rejects
    non-SELECT)."""
    from gpu_olap_engine_spark.operators.joins import merge_by_key  # noqa: PLC0415

    t = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    upd = t.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        "o_orderstatus",
    )
    ins = t.filter(F.col("o_orderkey") % 31 == 0).select(
        (F.col("o_orderkey") + 1_000_000).alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
    )
    return merge_by_key(t, upd.unionByName(ins), ["o_orderkey"], "action")


@register(
    "q98_pagerank",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
    r1 AS (
        SELECT n.id,
               CAST(150000 + (85 * COALESCE(SUM(r.r // d.deg), 0)) // 100
                    AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.id
        LEFT JOIN r0 r ON r.id = e.src
        LEFT JOIN outdeg d ON d.src = e.src
        GROUP BY n.id
    ),
    r2 AS (
        SELECT n.id,
               CAST(150000 + (85 * COALESCE(SUM(r.r // d.deg), 0)) // 100
                    AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.id
        LEFT JOIN r1 r ON r.id = e.src
        LEFT JOIN outdeg d ON d.src = e.src
        GROUP BY n.id
    ),
    r3 AS (
        SELECT n.id,
               CAST(150000 + (85 * COALESCE(SUM(r.r // d.deg), 0)) // 100
                    AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.id
        LEFT JOIN r2 r ON r.id = e.src
        LEFT JOIN outdeg d ON d.src = e.src
        GROUP BY n.id
    )
    SELECT CAST(id AS BIGINT) AS node_id, r AS rank_micro FROM r3
    """,
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-iteration PageRank over the nation-level trade graph
    (customer nation -> supplier nation edges derived from orders x
    lineitem), in exact integer micro-unit arithmetic so the unrolled
    recursive-CTE oracle matches bit for bit. With q94's pointer-
    doubling closure and dedup_clusters' components this completes the
    iterative-algorithm trio (fixpoint label prop, log-round doubling,
    fixed-round numeric iteration). operators.graph.pagerank_int
    carries the scale shape: per-iteration join on src + dst-keyed
    partial-sum aggregation, lineage truncated each round."""
    from gpu_olap_engine_spark.operators.graph import pagerank_int

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    edges = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
    )
    return pagerank_int(edges, iters=3)


_H15 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


@register(
    "q114_table_checksum",
    oracle=f"""
    WITH rows_ AS (
        SELECT o_orderpriority,
               {_H15.format(x="concat_ws('|', o_orderkey, o_custkey,"
                              " o_orderstatus, o_orderpriority,"
                              " CAST(CAST(o_orderdate AS DATE) AS VARCHAR),"
                              " CAST(CAST(o_totalprice AS DECIMAL(18,2))"
                              "      AS VARCHAR))")} AS h
        FROM orders
    )
    SELECT o_orderpriority, COUNT(*) AS row_cnt,
           bit_xor(h) AS checksum
    FROM rows_ GROUP BY o_orderpriority
    """,
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-audit checksums: per-group row count + order-independent
    XOR of a canonical per-row digest (md5 over a '|'-joined canonical
    string form; doubles via DECIMAL(18,2) so both engines print the
    same text). The replication/migration validation primitive — two
    copies of a 100 TB table compare via |groups| tiny rows instead of
    a row-level diff. XOR aggregation is commutative/associative, so
    it is partial+final like any sum and insensitive to partitioning.
    Caveat (by construction): XOR cannot see a row REPLACED by two
    copies of another existing row; pair it with row_cnt, which
    catches multiplicity changes."""
    from gpu_olap_engine_spark.operators.dedup import base_hash

    o = T(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
    )
    return o.select("o_orderpriority", base_hash(canon).alias("h")).groupBy(
        "o_orderpriority"
    ).agg(F.count("*").alias("row_cnt"), F.bit_xor("h").alias("checksum"))


@register(
    "q115_pseudonymized_join",
    oracle=f"""
    WITH po AS (
        SELECT {_H15.format(x="concat('pepper-', o_custkey)")} AS pk,
               o_totalprice
        FROM orders
    ),
    pc AS (
        SELECT {_H15.format(x="concat('pepper-', c_custkey)")} AS pk,
               c_nationkey
        FROM customer
    )
    SELECT c_nationkey, COUNT(*) AS n_orders,
           {o_dsum('o_totalprice')} AS total
    FROM po JOIN pc USING (pk)
    GROUP BY c_nationkey
    """,
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving join keys: both sides replace the raw
    customer key with a peppered digest BEFORE the join, so the
    analytical result (orders per nation) is computed without the raw
    identifier ever co-locating with the fact rows — the
    pseudonymization-at-rest pattern GDPR-style pipelines run. The
    join stays a plain equi-join on the digest (same shuffle shape,
    same AQE/broadcast choices); digest = md5 prefix as elsewhere so
    the oracle is definitionally identical."""
    from gpu_olap_engine_spark.operators.dedup import base_hash

    o = T(spark, sf_dir, "orders").select(
        base_hash(F.concat(F.lit("pepper-"), F.col("o_custkey"))).alias("pk"),
        "o_totalprice",
    )
    c = T(spark, sf_dir, "customer").select(
        base_hash(F.concat(F.lit("pepper-"), F.col("c_custkey"))).alias("pk"),
        "c_nationkey",
    )
    return o.join(c, "pk").groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice", "total")
    )


@register(
    "q120_referential_audit",
    oracle="""
    WITH rels AS (
        SELECT 'lineitem->orders' AS rel,
               (SELECT COUNT(*) FROM lineitem) AS n_child,
               (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS n_child_keys,
               (SELECT COUNT(*) FROM orders) AS n_parent,
               (SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan
        UNION ALL
        SELECT 'orders->customer',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(DISTINCT o_custkey) FROM orders),
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'customer->nation',
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(DISTINCT c_nationkey) FROM customer),
               (SELECT COUNT(*) FROM nation),
               (SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
        UNION ALL
        SELECT 'lineitem->part',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
               (SELECT COUNT(*) FROM part),
               (SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
    )
    SELECT rel, CAST(n_child AS BIGINT) AS n_child,
           CAST(n_child_keys AS BIGINT) AS n_child_keys,
           CAST(n_parent AS BIGINT) AS n_parent,
           CAST(n_orphan AS BIGINT) AS n_orphan
    FROM rels
    """,
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across four FK relationships: child
    rows, distinct child keys, parent rows, and orphans (children with
    no parent — anti-join counts). The data-quality gate a warehouse
    runs after every load; each orphan count is one anti-join that
    Spark plans as a broadcast/shuffle hash anti depending on parent
    size — never a per-row subquery. Fixture integrity itself is part
    of what is being asserted (orphans are 0 here; the parent/child/
    key counts carry the non-trivial signal)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    p = T(spark, sf_dir, "part")

    def audit(rel, child, ckey, parent, pkey):
        return child.agg(
            F.lit(rel).alias("rel"),
            F.count("*").alias("n_child"),
            F.countDistinct(ckey).alias("n_child_keys"),
        ).crossJoin(parent.agg(F.count("*").alias("n_parent"))).crossJoin(
            child.join(
                parent, child[ckey] == parent[pkey], "left_anti"
            ).agg(F.count("*").alias("n_orphan"))
        )

    rows = [
        audit("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        audit("orders->customer", o, "o_custkey", c, "c_custkey"),
        audit("customer->nation", c, "c_nationkey", n, "n_nationkey"),
        audit("lineitem->part", li, "l_partkey", p, "p_partkey"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "rel",
        F.col("n_child").cast("long").alias("n_child"),
        F.col("n_child_keys").cast("long").alias("n_child_keys"),
        F.col("n_parent").cast("long").alias("n_parent"),
        F.col("n_orphan").cast("long").alias("n_orphan"),
    )


_WPR_STEP = """
        SELECT n.id,
               CAST(150000 + (85 * COALESCE(SUM(r.r * e.w // d.deg), 0)) // 100
                    AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.id
        LEFT JOIN {prev} r ON r.id = e.src
        LEFT JOIN outdeg d ON d.src = e.src
        GROUP BY n.id
"""


@register(
    "q123_pagerank_weighted",
    oracle=f"""
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               COUNT(DISTINCT o.o_orderkey) AS w
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    outdeg AS (SELECT src, SUM(w) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
    r1 AS ({_WPR_STEP.format(prev="r0")}),
    r2 AS ({_WPR_STEP.format(prev="r1")}),
    r3 AS ({_WPR_STEP.format(prev="r2")})
    SELECT CAST(id AS BIGINT) AS node_id, r AS rank_micro FROM r3
    """,
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank over the nation trade graph: edge weight =
    distinct orders linking the nation pair, so rank mass flows
    proportionally to trade volume (r * w div W_u per edge — exact
    int64) instead of uniformly per neighbor as in q98. The form a
    real influence analysis uses; same per-iteration join+aggregate
    shape, same unrolled-CTE oracle with the weighted contribution."""
    from gpu_olap_engine_spark.operators.graph import pagerank_int

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    edges = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.countDistinct("o_orderkey").alias("w"))
    )
    return pagerank_int(edges, iters=3, weight="w")


@register(
    "q135_quantified_all",
    oracle="""
    SELECT p.p_partkey, p.p_brand, p.p_size, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice > ALL (
        SELECT q.p_retailprice FROM part q
        WHERE q.p_brand = p.p_brand AND q.p_size < p.p_size
    )
    """,
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated quantified comparison (`> ALL`): parts strictly
    pricier than EVERY same-brand part of smaller size (empty
    comparison set -> qualifies, per SQL ALL semantics). The oracle
    states the quantified form verbatim; the Spark plan compiles it to
    ONE window pass — max(price) over (brand ORDER BY size RANGE ..
    1 PRECEDING) then a row-local comparison — because the naive
    translation (correlated rescan or inequality self-join) is
    quadratic per brand and the window is a single shuffle on the
    same key. Reference's parser has no subqueries at all
    (parser.rs:24-31)."""
    from pyspark.sql.window import Window as W

    p = T(spark, sf_dir, "part")
    w = (
        W.partitionBy("p_brand")
        .orderBy("p_size")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    prev_max = F.max("p_retailprice").over(w)
    return (
        p.withColumn("__pm", prev_max)
        .filter(F.col("__pm").isNull() | (F.col("p_retailprice") > F.col("__pm")))
        .select("p_partkey", "p_brand", "p_size", "p_retailprice")
    )


@register(
    "q144_multiset_checksum",
    oracle=f"""
    WITH rows_ AS (
        SELECT o_orderpriority,
               {_H15.format(x="concat_ws('|', o_orderkey, o_custkey,"
                              " o_orderstatus, o_orderpriority,"
                              " CAST(CAST(o_orderdate AS DATE) AS VARCHAR),"
                              " CAST(CAST(o_totalprice AS DECIMAL(18,2))"
                              "      AS VARCHAR))")} % 1099511627776 AS h
        FROM orders
    )
    SELECT o_orderpriority, COUNT(*) AS row_cnt,
           CAST(SUM(h) AS BIGINT) AS add_checksum,
           bit_xor(h) AS xor_checksum
    FROM rows_ GROUP BY o_orderpriority
    """,
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset-sensitive table checksum — closes q114's documented
    XOR blind spot: ADDITION of per-row digests (folded to 40 bits so
    the int64 sum is exact in both engines up to ~2^23 rows per group;
    at larger groups sum modulo a prime with identical wraparound)
    distinguishes multiplicity changes XOR cannot — a row replaced by
    a second copy of another existing row shifts the sum even though
    the XOR and the row count can both collide. Emitting (count, sum,
    xor) together makes the audit row strictly stronger at the same
    O(|groups|) comparison cost."""
    from gpu_olap_engine_spark.operators.dedup import base_hash

    o = T(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
    )
    h = (base_hash(canon) % F.lit(1099511627776)).alias("h")
    return (
        o.select("o_orderpriority", h)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("row_cnt"),
            F.sum("h").alias("add_checksum"),
            F.bit_xor("h").alias("xor_checksum"),
        )
    )
