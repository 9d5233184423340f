"""Relational query surface: reference parity + Spark-free extensions.

Covers SURVEY.md §2.1-2.8: scan/filter/project, the full aggregate set,
the join-type matrix (incl. types the reference declares but cannot run
— full/semi/anti, README.md:410), sorts with honored direction and
LIMIT (reference drops both: parser.rs:94-105, physical_plan.rs:190-193),
set ops, rollup/cube, window functions, subqueries and CTEs (reference
limitation README.md:409).

Scale notes per query are in docstrings: dimension joins broadcast,
fact-fact joins shuffle on keys, aggregations are partial+final
(map-side combine) — all verified against .explain in tests/test_plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gpu_olap_engine_spark.persist import persist
from gpu_olap_engine_spark.queries import register
from gpu_olap_engine_spark.queries.tables import T, _view, davg, dsum, o_davg, o_dsum

# ---------------------------------------------------------------------
# Scan / filter / project / limit
# ---------------------------------------------------------------------


@register(
    "q01_filter_project_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem WHERE l_quantity > 30
    ORDER BY l_orderkey, l_linenumber LIMIT 10
    """,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan+filter+project+top-k (reference: GpuFilter executor.rs:443-507,
    comparisons executor.rs:457-464; LIMIT honored unlike
    physical_plan.rs:190-193). Filter + both projections push into the
    parquet scan; sort+limit fuses to TakeOrderedAndProject."""
    return (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(10)
    )


@register(
    "q02_groupby_aggregates",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           {o_dsum('l_extendedprice')} AS sum_price,
           {o_davg('l_quantity')} AS avg_qty,
           MIN(l_discount) AS min_disc,
           MAX(l_tax) AS max_tax
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full aggregate set SUM/COUNT/AVG/MIN/MAX (reference AggregateExpr,
    physical_plan.rs:78-84; identities aggregate_kernel.rs:17-33).
    HashAggregate partial->final == the kernel's warp-local->global
    two-phase design (aggregate_kernel.rs:3-8)."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            dsum("l_extendedprice", "sum_price"),
            davg("l_quantity", "avg_qty"),
            F.min("l_discount").alias("min_disc"),
            F.max("l_tax").alias("max_tax"),
        )
    )


@register(
    "q03_join_agg_topk",
    oracle=f"""
    SELECT c_name, COUNT(*) AS order_cnt,
           {o_dsum('o_totalprice')} AS total_spent
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_name
    ORDER BY total_spent DESC, c_name LIMIT 10
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference README's canonical query shape (README.md:272-282):
    join + group + sort desc + limit. Customer is a dimension ->
    broadcast (the reference's <=1M-row BroadcastHashJoin heuristic,
    join_kernel.rs:71-77); at 100 TB the fact side never shuffles for
    this join."""
    orders = T(spark, sf_dir, "orders")
    customer = T(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_name")
        .agg(F.count("*").alias("order_cnt"), dsum("o_totalprice", "total_spent"))
        .orderBy(F.desc("total_spent"), "c_name")
        .limit(10)
    )


@register(
    "q04_filter_above_join",
    oracle="""
    SELECT COUNT(*) AS cnt
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 300000
    """,
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression probe for the reference optimizer bug that silently
    DROPS a predicate above a join (optimizer.rs:44-53). Catalyst
    instead pushes it below the join into the scan. The threshold is
    selective (~40% of orders) so a dropped predicate changes the
    count."""
    orders = T(spark, sf_dir, "orders")
    customer = T(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .filter(F.col("o_totalprice") > 300000)
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "q05_star_join_having",
    oracle=f"""
    SELECT r_name, p_type, COUNT(*) AS cnt,
           {o_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      JOIN part     ON l_partkey  = p_partkey
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
    GROUP BY r_name, p_type
    HAVING {o_dsum('l_extendedprice * (1 - l_discount)')} > 1000000
    ORDER BY revenue DESC, r_name, p_type
    """,
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join + date-range filter + HAVING (reference
    example python_usage.py:226-245; HAVING absent from its parser,
    parser.rs:33-127). All five dimension joins broadcast, so the only
    shuffle at scale is the final aggregation; the date filter pushes
    into the orders scan."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    p = T(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("r_name", "p_type")
        .agg(F.count("*").alias("cnt"), dsum(revenue, "revenue"))
        .filter(F.col("revenue") > 1000000)
        .orderBy(F.desc("revenue"), "r_name", "p_type")
    )


# ---------------------------------------------------------------------
# Join-type matrix (JoinType enum logical_plan.rs:52-58; the reference
# can only run inner/left/right — README.md:410 — we do the full set)
# ---------------------------------------------------------------------

_RICH = "c_acctbal > 8000"


def _rich_customers(spark, sf_dir):
    return T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 8000)


@register(
    "q06_join_left",
    oracle=f"""
    SELECT o_orderkey, o_custkey, c_name, c_acctbal
    FROM (SELECT * FROM orders WHERE o_orderkey % 10 = 0) o
    LEFT JOIN (SELECT * FROM customer WHERE {_RICH}) c ON o_custkey = c_custkey
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with genuinely unmatched probe rows; NULLs on
    the build side follow SQL semantics, not the reference's sentinel
    fill (arrow-interop/src/lib.rs:15-17, README.md:411)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    c = _rich_customers(spark, sf_dir)
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_custkey", "c_name", "c_acctbal"
    )


@register(
    "q07_join_right",
    oracle=f"""
    SELECT CAST(o_orderkey AS DOUBLE) AS o_orderkey,
           CAST(o_custkey AS DOUBLE) AS o_custkey, c_name, c_acctbal
    FROM (SELECT * FROM orders WHERE o_orderkey % 10 = 0) o
    RIGHT JOIN (SELECT * FROM customer WHERE {_RICH}) c ON o_custkey = c_custkey
    """,
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (declared logical_plan.rs:55)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    c = _rich_customers(spark, sf_dir)
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        # nullable ints -> double: pandas conversion of int-with-NULL
        # differs between engines/paths; doubles are unambiguous
        F.col("o_orderkey").cast("double").alias("o_orderkey"),
        F.col("o_custkey").cast("double").alias("o_custkey"),
        "c_name",
        "c_acctbal",
    )


@register(
    "q08_join_full",
    oracle=f"""
    SELECT CAST(o_orderkey AS DOUBLE) AS o_orderkey,
           CAST(o_custkey AS DOUBLE) AS o_custkey,
           CAST(c_custkey AS DOUBLE) AS c_custkey, c_name
    FROM (SELECT * FROM orders WHERE o_orderkey % 10 = 0) o
    FULL JOIN (SELECT * FROM customer WHERE {_RICH}) c ON o_custkey = c_custkey
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — declared by the reference (logical_plan.rs:56)
    but admitted unsupported (README.md:410). Shuffle join (full outer
    cannot broadcast); at scale both sides hash-partition on the key."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    c = _rich_customers(spark, sf_dir)
    return o.join(c, o.o_custkey == c.c_custkey, "full").select(
        F.col("o_orderkey").cast("double").alias("o_orderkey"),
        F.col("o_custkey").cast("double").alias("o_custkey"),
        F.col("c_custkey").cast("double").alias("c_custkey"),
        "c_name",
    )


@register(
    "q09_join_semi",
    oracle=f"""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE {_RICH})
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (absent from the reference, README.md:410).
    Broadcast semi: probe side streams, never materializes matches."""
    o = T(spark, sf_dir, "orders")
    c = _rich_customers(spark, sf_dir)
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "q10_join_anti",
    oracle=f"""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE {_RICH})
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (absent from the reference, README.md:410).
    NOT IN here is null-safe because c_custkey is non-null."""
    o = T(spark, sf_dir, "orders")
    c = _rich_customers(spark, sf_dir)
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti").select(
        "o_orderkey", "o_totalprice"
    )


# ---------------------------------------------------------------------
# Aggregation extensions
# ---------------------------------------------------------------------


@register(
    "q11_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS uniq_cust,
           COUNT(*) AS cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — appears in reference examples only
    (python_usage.py:230-231), never implemented. Spark expands it to
    a two-stage aggregate; for 100 TB cardinality estimation the
    engine also exposes approx_count_distinct (HLL) — see
    functions module."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("uniq_cust"),
            F.count("*").alias("cnt"),
        )
    )


@register(
    "q12_date_extract_agg",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           COUNT(*) AS cnt,
           {o_dsum('o_totalprice')} AS total
    FROM orders GROUP BY 1, 2
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_part-style extraction GROUP BY (reference example
    python_usage.py:277-284 — the only scalar function its SQL uses)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice", "total"))
    )


def _o_qsum(expr: str) -> str:
    """Quantized-sum oracle fragment: floor each computed-double term
    to 1e-4, sum exactly as integers, emit double. Computed products
    can land on decimal-rounding tie boundaries, so they take this
    integer path instead of the decimal cast (see tables.py).

    DuckDB's SUM(BIGINT) promotes to exact HUGEINT; the double cast
    of that exact integer mirrors the Spark twin's decimal sum."""
    return (
        f"CAST(SUM(CAST(floor(({expr}) * 10000) AS BIGINT))"
        " AS DOUBLE) / 10000"
    )


def _qsum(col, alias: str):
    """Spark twin of _o_qsum.

    The quantized terms accumulate in DECIMAL, not bigint: a revenue
    term is ~1e9-1e10 after the 1e4 scaling, so an int64 sum wraps
    silently (non-ANSI) once a group reaches ~1e9 rows -- exactly the
    coarse-group cardinality of a 100 TB TPC-H Q1. decimal(20,0)
    inputs sum as decimal(30,0): exact to 1e30 on the Spark side and
    exact HUGEINT on the DuckDB side, so both engines cast the SAME
    integer to double at any scale (the sf10 sweep caught this cliff
    class live on q111/q118; costs ~2x on the agg stage only,
    measured 0.7 -> 1.3 s over the 60M-row sf10 lineitem)."""
    return (
        F.sum(F.floor(col * 10000).cast("decimal(20,0)")).cast("double")
        / 10000
    ).alias(alias)


@register(
    "q13_arith_in_agg",
    oracle=f"""
    SELECT l_returnflag,
           {_o_qsum('l_extendedprice * (1 - l_discount)')} AS disc_revenue,
           {_o_qsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS charged
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic inside aggregates (reference examples
    python_usage.py:101,232; elementwise ops executor.rs:411-441).
    Per-row double products are IEEE-deterministic; the sums quantize
    terms to 1e-4 and add exact integers (order-independent)."""
    li = T(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag").agg(
        _qsum(disc, "disc_revenue"),
        _qsum(disc * (1 + F.col("l_tax")), "charged"),
    )


# ---------------------------------------------------------------------
# Sort / limit
# ---------------------------------------------------------------------


@register(
    "q14_sort_multi_direction",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-direction multi-key sort. The reference parses ORDER BY
    but discards direction (parser.rs:94-105) and drops LIMIT
    (physical_plan.rs:190-193); both honored here. Sort+limit fuses to
    TakeOrderedAndProject — no global sort at scale."""
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .orderBy(
            F.asc("o_orderpriority"), F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        .limit(100)
    )


# ---------------------------------------------------------------------
# Set operations (absent from reference: parser.rs:24-31 single SELECT)
# ---------------------------------------------------------------------


@register(
    "q15_union_all",
    oracle="""
    SELECT c_custkey AS entity_key, c_name AS entity_name FROM customer
    WHERE c_acctbal > 9000
    UNION ALL
    SELECT s_suppkey AS entity_key, s_name AS entity_name FROM supplier
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (set ops rejected by the reference parser,
    parser.rs:24-31). Union is shuffle-free in Spark."""
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("entity_key"), F.col("c_name").alias("entity_name"))
    )
    s = T(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"), F.col("s_name").alias("entity_name")
    )
    return c.unionByName(s)


@register(
    "q16_intersect",
    oracle="""
    SELECT c_nationkey AS nkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nkey FROM supplier
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics on both engines)."""
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nkey"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nkey"))
    return c.intersect(s)


@register(
    "q17_except",
    oracle="""
    SELECT c_custkey AS ckey FROM customer
    EXCEPT
    SELECT o_custkey AS ckey FROM orders WHERE o_totalprice > 400000
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers with no high-value order. ``subtract`` is
    SQL EXCEPT (distinct) semantics; exceptAll().distinct() would
    wrongly keep a value whose left multiplicity exceeds its right
    multiplicity."""
    c = T(spark, sf_dir, "customer").select(F.col("c_custkey").alias("ckey"))
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("ckey"))
    )
    return c.subtract(o)


# ---------------------------------------------------------------------
# Grouping sets / rollup / cube (absent from reference, free in Spark)
# ---------------------------------------------------------------------


@register(
    "q18_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           {o_dsum('o_totalprice')} AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — hierarchy subtotals in one pass."""
    return (
        T(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice", "total"))
    )


@register(
    "q19_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           {o_davg('l_discount')} AS avg_disc
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — all grouping-set combinations."""
    return (
        T(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"), davg("l_discount", "avg_disc"))
    )


# ---------------------------------------------------------------------
# Window functions (reference limitation README.md:409)
# ---------------------------------------------------------------------


@register(
    "q20_window_rank",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS BIGINT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via ROW_NUMBER (window functions are an explicit
    reference gap, README.md:409). One shuffle on the partition key."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        T(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q21_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend,
           CAST(LAG(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS DOUBLE) AS prev_orderkey
    FROM orders WHERE o_custkey < 100
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate + LAG over an ordered per-customer frame
    (analytic window surface, absent from the reference)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .over(frame)
            .cast("double")
            .alias("running_spend"),
            F.lag("o_orderkey").over(w).cast("double").alias("prev_orderkey"),
        )
    )


# ---------------------------------------------------------------------
# Scalar expressions / strings / CASE (reference has none in kernels,
# README.md:412; strings were lossy FNV-1a hashes,
# record_batch_convert.rs:112-130 — ours are real strings)
# ---------------------------------------------------------------------


@register(
    "q22_case_string_funcs",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_size < 10 THEN 'small'
                WHEN p_size < 30 THEN 'medium'
                ELSE 'large' END AS size_class,
           UPPER(SUBSTRING(p_name, 1, 8)) AS name_prefix,
           REPLACE(p_brand, 'Brand#', 'B') AS brand_code,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           CAST(CASE WHEN p_type LIKE 'ECO%' THEN 1 ELSE 0 END
                AS BIGINT) AS is_economy
    FROM part
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN + string functions (upper/substring/replace/length/
    LIKE) — all impossible on the reference's hashed strings."""
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
        .alias("size_class"),
        F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B")).alias("brand_code"),
        F.length("p_name").cast("long").alias("name_len"),
        F.when(F.col("p_type").like("ECO%"), 1).otherwise(0).cast("long").alias("is_economy"),
    )


@register(
    "q23_scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05) AS disc_dev,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
           l_orderkey % 7 AS key_mod,
           l_quantity * l_quantity AS qty_sq,
           SQRT(l_extendedprice) AS price_sqrt
    FROM lineitem WHERE l_orderkey < 200
    """,
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math surface (the reference's whole expression language is
    +,-,*,/ on int64, executor.rs:411-441). abs/floor/ceil/mod are
    exact; sqrt is IEEE correctly-rounded — all cross-engine stable."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
    )


@register(
    "q24_null_semantics",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS cnt_all,
           COUNT(CASE WHEN o_totalprice >= 1000 THEN o_totalprice END) AS cnt_big,
           {o_dsum('CASE WHEN o_totalprice >= 1000 THEN o_totalprice END')} AS sum_big,
           CASE WHEN COUNT(CASE WHEN o_totalprice >= 1000 THEN o_totalprice END) = 0
                THEN NULL
                ELSE {o_dsum('CASE WHEN o_totalprice >= 1000 THEN o_totalprice END')}
                     / COUNT(CASE WHEN o_totalprice >= 1000 THEN o_totalprice END)
           END AS avg_big
    FROM orders GROUP BY o_orderstatus
    """,
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL three-valued logic: COUNT skips NULLs, SUM of all-NULL is
    NULL. Deliberate upgrade over the reference's sentinel scheme
    (arrow-interop/src/lib.rs:15-17, 'No NULL handling in joins'
    README.md:411) — divergence documented in SURVEY.md §1.2."""
    o = T(spark, sf_dir, "orders")
    big = F.when(F.col("o_totalprice") >= 1000, F.col("o_totalprice"))
    sum_big = F.sum(big.cast("decimal(18,4)")).cast("double")
    cnt_big = F.count(big)
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt_all"),
        cnt_big.alias("cnt_big"),
        sum_big.alias("sum_big"),
        F.when(cnt_big == 0, F.lit(None)).otherwise(sum_big / cnt_big).alias("avg_big"),
    )


@register(
    "q25_div_by_zero_null",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber = 3 THEN NULL
                ELSE l_extendedprice / (l_linenumber - 3) END AS ratio
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x/0 -> NULL (ANSI): the reference returns 0 (executor.rs:434) and
    raw DuckDB float division returns inf — the oracle encodes the ANSI
    expectation explicitly, which is what Spark's `/` produces."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") / (F.col("l_linenumber") - 3)).alias("ratio"),
    )


# ---------------------------------------------------------------------
# Subqueries / CTE / DISTINCT (reference limitation README.md:409)
# ---------------------------------------------------------------------


@register(
    "q26_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT — hash-aggregate based dedup on narrow columns."""
    return T(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "q27_in_subquery",
    oracle="""
    SELECT COUNT(*) AS cnt FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (reference: 'no subqueries' README.md:409). Catalyst
    rewrites to a left-semi join; run through spark.sql to exercise the
    SQL entry point (lib.rs:52-68 analog)."""
    o = _view(T(spark, sf_dir, "orders"), "q27_orders")
    c = _view(T(spark, sf_dir, "customer"), "q27_customer")
    return spark.sql(
        f"""
        SELECT COUNT(*) AS cnt FROM {o}
        WHERE o_custkey IN (
            SELECT c_custkey FROM {c} WHERE c_mktsegment = 'BUILDING'
        )
        """
    )


@register(
    "q28_scalar_subquery",
    oracle=f"""
    SELECT COUNT(*) AS cnt FROM orders
    WHERE o_totalprice > (
        SELECT {o_dsum('o_totalprice')} / COUNT(*) FROM orders
    )
    """,
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the mean price. The mean is the
    deterministic decimal-exact double on both engines, so the
    boundary comparison cannot flake."""
    o = _view(T(spark, sf_dir, "orders"), "q28_orders")
    return spark.sql(
        f"""
        SELECT COUNT(*) AS cnt FROM {o}
        WHERE o_totalprice > (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
            FROM {o}
        )
        """
    )


@register(
    "q29_cte",
    oracle=f"""
    WITH cust_totals AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               {o_dsum('o_totalprice')} AS spent
        FROM orders GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders,
           {o_dsum('spent')} AS segment_spend
    FROM cust_totals JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + two-level aggregation (reference: 'no CTEs' README.md:409)."""
    o = _view(T(spark, sf_dir, "orders"), "q29_orders")
    c = _view(T(spark, sf_dir, "customer"), "q29_customer")
    return spark.sql(
        f"""
        WITH cust_totals AS (
            SELECT o_custkey, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spent
            FROM {o} GROUP BY o_custkey
        )
        SELECT c_mktsegment,
               COUNT(*) AS n_customers,
               CAST(SUM(n_orders) AS BIGINT) AS total_orders,
               CAST(SUM(CAST(spent AS DECIMAL(18,4))) AS DOUBLE) AS segment_spend
        FROM cust_totals JOIN {c} ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    )


@register(
    "q43_tpch_q6_shape",
    oracle=f"""
    SELECT {_o_qsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective multi-predicate scan + global
    aggregate — the canonical 'did the filters reach the scan' query.
    All three predicates push into parquet; no shuffle at all (partial
    aggregates reduce straight to one row)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _qsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count("*").alias("cnt"),
    )


# ---------------------------------------------------------------------
# Range join (beyond reference: nested-loop joins listed as unbuilt
# contribution idea, README.md:421)
# ---------------------------------------------------------------------

# p_retailprice spans ~[900, 1000) in the fixtures
_BANDS = [
    ("budget", 0.0, 925.0),
    ("standard", 925.0, 950.0),
    ("premium", 950.0, 975.0),
    ("luxury", 975.0, 10_000_000.0),
]


@register(
    "q30_range_join",
    oracle=f"""
    SELECT band_name, COUNT(*) AS cnt, {o_dsum('p_retailprice')} AS band_value
    FROM part
    JOIN (VALUES {", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)})
         AS bands(band_name, lo, hi)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band_name
    """,
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a tiny in-memory band dimension:
    broadcast nested-loop in Spark — the join class the reference lists
    only as a roadmap idea (README.md:421). The bands side is O(1) so
    the fact side streams without a shuffle."""
    p = T(spark, sf_dir, "part")
    bands = spark.createDataFrame(_BANDS, "band_name string, lo double, hi double")
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band_name")
        .agg(F.count("*").alias("cnt"), dsum("p_retailprice", "band_value"))
    )


@register(
    "q99_intersect_all",
    oracle="""
    SELECT c_nationkey AS nkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nkey FROM supplier
    """,
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics (each value kept min(left, right)
    multiplicity times; ANSI definition on both engines). Completes
    the set-op family next to q16's INTERSECT-distinct. Spark plans
    this as one aggregate counting per-side multiplicities + a
    generate — one shuffle, no join."""
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nkey"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nkey"))
    return c.intersectAll(s)


@register(
    "q100_except_all",
    oracle="""
    SELECT o_custkey AS ckey FROM orders WHERE o_totalprice > 200000
    EXCEPT ALL
    SELECT o_custkey AS ckey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag semantics (left multiplicity minus right,
    floored at zero). The multiplicity-sensitive sibling of q17's
    EXCEPT-distinct; the pair is fuzz-covered under duplicate
    multiplicity in tests/test_fuzz.py::test_fuzz_set_ops."""
    a = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("ckey"))
    )
    b = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("ckey"))
    )
    return a.exceptAll(b)


@register(
    "q101_nullsafe_join",
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS n_pairs
    FROM customer c JOIN supplier s
      ON NULLIF(c.c_nationkey, 0) IS NOT DISTINCT FROM NULLIF(s.s_nationkey, 0)
    GROUP BY c.c_nationkey
    """,
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out — here NULLIF maps
    nation 0 to NULL on both sides, so the null-null matches are
    observable in the pair counts. Spark plans EqualNullSafe as a
    regular hash-join key (coalesce-style key normalization), not a
    nested loop — same one-shuffle shape as a plain equi-join."""
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    ck = F.nullif(F.col("c_nationkey"), F.lit(0))
    sk = F.nullif(F.col("s_nationkey"), F.lit(0))
    return (
        c.join(s, ck.eqNullSafe(sk))
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "q102_arg_minmax",
    oracle="""
    SELECT c_nationkey,
           arg_max(c_name,
                   CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey)
               AS richest,
           arg_min(c_name,
                   CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey)
               AS poorest,
           MAX(c_acctbal) AS top_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-argument aggregates (arg_min/arg_max, Spark min_by/
    max_by): the top/bottom row's payload per group WITHOUT a window
    pass — one partial+final aggregate instead of a per-group sort.
    The (acctbal, custkey) composite order is encoded into one BIGINT
    (cents * 1e6 + key; exact — acctbal is 2-decimal) because DuckDB's
    arg_max only orders by scalars; the encoding makes the winner
    unique and identical on both engines. The groupwise-extreme shape
    that replaces a row_number()=1 window at 100 TB."""
    c = T(spark, sf_dir, "customer")
    key = F.round(F.col("c_acctbal") * 100).cast("long") * 1_000_000 + F.col(
        "c_custkey"
    )
    return c.groupBy("c_nationkey").agg(
        F.max_by(F.col("c_name"), key).alias("richest"),
        F.min_by(F.col("c_name"), key).alias("poorest"),
        F.max("c_acctbal").alias("top_bal"),
    )


@register(
    "q109_grouping_flags",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           COUNT(*) AS cnt, {o_dsum('o_totalprice')} AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() flags on a rollup: the ANSI mechanism that
    distinguishes a subtotal row's NULL from a genuine NULL group
    value — without it, rollup output is ambiguous the moment a
    grouping column is nullable. Completes q18's rollup with the
    introspection half."""
    o = T(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_prio"),
        F.count("*").alias("cnt"),
        dsum("o_totalprice", "total"),
    )


@register(
    "q110_bit_bool_aggs",
    oracle="""
    SELECT o_orderpriority,
           bit_and(o_orderkey) AS k_and,
           bit_or(o_orderkey) AS k_or,
           bit_xor(o_orderkey) AS k_xor,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_big
    FROM orders GROUP BY o_orderpriority
    """,
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and boolean aggregate family (bit_and/or/xor,
    bool_and/or): order-independent by algebra, so they need no
    determinism scaffolding; one partial+final pass like any other
    aggregate. The flag-mask rollup shape feature stores use."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bit_and("o_orderkey").alias("k_and"),
        F.bit_or("o_orderkey").alias("k_or"),
        F.bit_xor("o_orderkey").alias("k_xor"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_big"),
    )


@register(
    "q126_copurchase_pairs",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    pairs AS (
        SELECT a.pk AS part_a, b.pk AS part_b
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
    )
    SELECT part_a, part_b, COUNT(*) AS n_orders
    FROM pairs GROUP BY part_a, part_b
    HAVING COUNT(*) >= 2
    """,
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in >= 2
    orders — the frequent-itemset support count behind
    recommendations. The within-order self-join's fan-out is bounded
    by basket size (<= 7 lineitems per order here, choose-2 of it),
    so the pair explosion is per-key quadratic in a SMALL constant,
    never corpus-quadratic — the same bounded-group argument as the
    per-doc reassembly ops; the heavy lifting is the pair-keyed
    count with map-side combine. At 100 TB giant baskets (the one
    risk) get capped or item-bucketed before pairing."""
    li = T(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = op.alias("a")
    b = op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(
            F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b")
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@register(
    "q127_association_lift",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n_orders AS (SELECT COUNT(DISTINCT ok) AS n FROM op),
    item AS (SELECT pk, COUNT(*) AS n_item FROM op GROUP BY pk),
    pairs AS (
        SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS n_ab
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT p.part_a, p.part_b, p.n_ab,
           (p.n_ab * t.n * 1000000) // (ia.n_item * ib.n_item) AS lift_ppm
    FROM pairs p
    JOIN item ia ON ia.pk = p.part_a
    JOIN item ib ON ib.pk = p.part_b
    CROSS JOIN n_orders t
    """,
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule LIFT over the q126 co-occurrence pairs:
    lift = P(a,b) / (P(a) P(b)) = n_ab * N / (n_a * n_b), reported in
    exact integer ppm so both engines agree bit-for-bit (>1e6 means
    the parts attract, <1e6 they repel). Item supports are a
    broadcastable |parts|-row relation joined back onto the supported
    pairs; the corpus total rides the usual 1-row broadcast. The
    complete frequent-itemset -> association-metric path a
    recommender's batch layer runs."""
    li = T(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n_orders = op.agg(F.countDistinct("ok").alias("n"))
    item = op.groupBy("pk").agg(F.count("*").alias("n_item"))
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    ia = item.select(F.col("pk").alias("part_a"), F.col("n_item").alias("na"))
    ib = item.select(F.col("pk").alias("part_b"), F.col("n_item").alias("nb"))
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.expr("(n_ab * n * 1000000) div (na * nb)").alias("lift_ppm"),
        )
    )


@register(
    "q141_triangle_count",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS (
        SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
    ),
    tri AS (
        SELECT ab.a AS x, ab.b AS y, bc.b AS z
        FROM e ab
        JOIN e bc ON ab.b = bc.a
        JOIN e ac ON ab.a = ac.a AND bc.b = ac.b
    ),
    member AS (
        SELECT x AS part FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT part, COUNT(*) AS n_triangles
    FROM member GROUP BY part
    """,
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting over the co-purchase graph — the
    clustering-coefficient numerator of graph analytics (community
    density, spam/fraud motifs). Edges are oriented low-id -> high-id,
    so each triangle {x<y<z} is generated EXACTLY once as the wedge
    (x,y)+(y,z) closed by (x,z): two equi-joins, no dedup pass, no
    double counting. At 100 TB the standard refinement is identical
    plan shape with degree ordering instead of id ordering (orient
    each edge toward the higher-degree endpoint), which provably
    bounds wedge fan-out by O(sqrt(|E|)) per node; id orientation
    keeps the oracle exact here. Third graph-analytics family beside
    components (dedup_clusters) and PageRank (q98).

    r13 (guide §5): the edge relation is persisted — the triangle
    tree references it THREE times and each reference re-executed the
    wedge self-join + distinct (the query's expensive stage; 6 fact
    scans). This is the case persist is FOR (recompute far above
    materialization cost — unlike the cheap scan+explode subtrees
    where the same experiment lost, see operators/dedup.py): paired
    in-process A/B min 7.4 vs 12.2 s at sf0.1, identical rows. The
    persist lives as long as the returned result (persist.py): the
    footprint is one edge list per live result, evictable under
    memory pressure with lineage intact, and released when the result
    is collected. localCheckpoint measured slightly worse (8.7 s) and
    forfeits lineage."""
    li = T(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    e = persist(
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("a"), F.col("b.pk").alias("b"))
        .distinct()
    )
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    # r14 (guide §3.2): the closing join's stream side is the WEDGE
    # set (sum of squared out-degrees — 49M rows at sf0.1, growing
    # super-linearly with |E|) while its build side is the edge list
    # itself (1.2M rows). SortMergeJoin sorted the quadratic side;
    # the hint pins a shuffled-hash build on the edge side, so wedges
    # stream unsorted. Scale-sane: the per-task hash build is
    # |E|/shuffle-partitions and AQE skew-splitting works under SHJ;
    # sorting the wedge set is never the right side of that trade.
    # Paired A/B 6.11 -> 4.67 s min (5/5 reps), identical rows
    # (5d6d881:scripts/r14_ab_q141_shj.py); hinting the wedge join too was
    # measured WORSE (5.05 vs 4.73 — its inputs are the cheap side).
    tri = (
        ab.join(bc, F.col("ab.b") == F.col("bc.a"))
        .join(
            ac.hint("SHUFFLE_HASH"),
            (F.col("ab.a") == F.col("ac.a")) & (F.col("bc.b") == F.col("ac.b")),
        )
        .select(
            F.col("ab.a").alias("x"), F.col("ab.b").alias("y"),
            F.col("bc.b").alias("z"),
        )
    )
    # one pass over tri: a 3-way unionAll of selects from tri would
    # re-execute the two join stages once PER BRANCH (the same
    # inlining hazard _kcore_oracle documents below; measured 3x the
    # whole query's join work — 27 s of a 40 s wall at sf0.1);
    # explode(array(x, y, z)) emits the identical three member rows
    # per triangle from a single evaluation of the join tree
    member = tri.select(F.explode(F.array("x", "y", "z")).alias("part"))
    return member.groupBy("part").agg(F.count("*").alias("n_triangles"))


def _kcore_oracle(k: int = 3, rounds: int = 4) -> str:
    # AS MATERIALIZED mirrors the Spark side's localCheckpoint: each
    # e{i} is referenced three times per round, and an inlining
    # planner would re-execute the edge-generation subtree 3^rounds
    # times (measured: 71 s -> <1 s at sf0.01).
    layers = []
    for i in range(rounds):
        layers.append(f"""
    d{i} AS (
        SELECT nd, COUNT(*) AS deg FROM (
            SELECT a AS nd FROM e{i} UNION ALL SELECT b FROM e{i}
        ) GROUP BY nd
    ),
    k{i} AS MATERIALIZED (SELECT nd FROM d{i} WHERE deg >= {k}),
    e{i + 1} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{i} e
        JOIN k{i} ka ON ka.nd = e.a
        JOIN k{i} kb ON kb.nd = e.b
    )""")
    return f"""
    WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
    ),{",".join(layers)}
    SELECT nd AS part, deg AS core_deg FROM (
        SELECT nd, COUNT(*) AS deg FROM (
            SELECT a AS nd FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
        ) GROUP BY nd
    )
    """


@register("q165_kcore_peel", oracle=_kcore_oracle())
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel (k=3, 4 rounds) over the co-purchase graph:
    each round drops nodes of degree < k and the edges touching them —
    the density filter that isolates the graph's cohesive core
    (community detection seeding, fraud-ring candidates). BOUNDED
    iteration is the contract: both engines run exactly 4 peels (the
    oracle unrolls them as CTE layers), so the gate is deterministic
    at every scale whether or not the fixpoint lands inside the
    budget; at 100 TB the same loop runs to convergence with a
    LocalCheckpoint every few rounds (operators/graph.py convention)
    since each round is one degree-aggregate + one semi-join, both
    keyed shuffles on node id. Fourth graph family beside components,
    PageRank, and triangles (q141)."""
    li = T(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    e = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("a"), F.col("b.pk").alias("b"))
        .distinct()
        # each round references e THREE times (degree count + two
        # semi-joins): without lineage truncation the edge-generation
        # subtree re-executes 3^rounds times. Same convention as
        # operators/graph.py.
        .localCheckpoint(eager=True)
    )
    for _ in range(4):
        deg = (
            e.select(F.col("a").alias("nd"))
            .unionAll(e.select(F.col("b").alias("nd")))
            .groupBy("nd")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= 3).select("nd")
        e = (
            e.join(keep.withColumnRenamed("nd", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("nd", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return (
        e.select(F.col("a").alias("nd"))
        .unionAll(e.select(F.col("b").alias("nd")))
        .groupBy("nd")
        .agg(F.count("*").alias("core_deg"))
        .select(F.col("nd").alias("part"), "core_deg")
    )


def _bfs_oracle(rounds: int = 3, mod: int = 97) -> str:
    layers = []
    for i in range(1, rounds + 1):
        layers.append(f"""
    f{i} AS MATERIALIZED (
        SELECT DISTINCT eb.b AS nd
        FROM eb JOIN f{i - 1} f ON eb.a = f.nd
        WHERE eb.b NOT IN (SELECT nd FROM v{i - 1})
    ),
    v{i} AS MATERIALIZED (
        SELECT nd FROM v{i - 1} UNION ALL SELECT nd FROM f{i}
    )""")
    arms = "\n    UNION ALL\n    ".join(
        f"SELECT nd AS part, CAST({i} AS BIGINT) AS hop FROM f{i}"
        for i in range(rounds + 1)
    )
    return f"""
    WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
        SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
    ),
    eb AS MATERIALIZED (
        SELECT a, b FROM e UNION ALL SELECT b, a FROM e
    ),
    f0 AS MATERIALIZED (
        SELECT DISTINCT pk AS nd FROM op WHERE pk % {mod} = 0
    ),
    v0 AS MATERIALIZED (SELECT nd FROM f0),{",".join(layers)}
    {arms}
    """


@register("q169_bfs_hops", oracle=_bfs_oracle())
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 3-round BFS over the co-purchase graph from a seed set
    (parts with pk % 97 == 0): minimum hop distance <= 3 from any
    seed — the blast-radius / influence-neighborhood query (recall
    expansion around flagged items). BOUNDED rounds make the gate
    deterministic (the oracle unrolls them as MATERIALIZED CTE
    layers; same convention as q165_kcore_peel). Each round is one
    frontier equi-join + one anti-join against the visited set — both
    keyed shuffles on node id — with localCheckpoint truncating the
    per-round lineage; at 100 TB the identical loop runs to the
    target radius with the visited set growing monotonically (the
    anti-join keeps every round's frontier minimal, so total work is
    edges-within-radius, not edges x rounds)."""
    li = T(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    e = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(F.col("a.pk").alias("a"), F.col("b.pk").alias("b"))
        .distinct()
    )
    # symmetrize via explode, not a two-branch union: the union would
    # run the edge-generation self-join twice during the eager
    # checkpoint (same hazard as q141's member aggregation)
    eb = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("ed")
        )
        .select(F.col("ed.a").alias("a"), F.col("ed.b").alias("b"))
        .localCheckpoint(eager=True)
    )
    seeds = op.select(F.col("pk").alias("nd")).distinct().filter(
        F.col("nd") % 97 == 0
    )
    frontier = seeds.localCheckpoint(eager=True)
    visited = frontier
    out = frontier.withColumn("hop", F.lit(0).cast("long"))
    for i in range(1, 4):
        nxt = (
            eb.join(frontier.withColumnRenamed("nd", "a"), "a")
            .select(F.col("b").alias("nd"))
            .distinct()
            .join(visited, "nd", "left_anti")
            .localCheckpoint(eager=True)
        )
        out = out.unionAll(nxt.withColumn("hop", F.lit(i).cast("long")))
        # r13: visited is NOT checkpointed — it is a union of
        # already-checkpointed frontiers (lineage bounded at rounds+1
        # materialized legs), so re-materializing the whole
        # monotonically-growing set every round was pure extra writes
        # (O(|V| x rounds) at scale; 3.18 -> 2.91 s at sf0.1, faster on
        # 5/6 paired reps, 5d6d881:scripts/r13_ab_bfs_visited.py)
        visited = visited.unionAll(nxt)
        frontier = nxt
    return out.select(F.col("nd").alias("part"), "hop")
