"""Differential oracle harness: every registered query runs on Spark
AND DuckDB over the sf0.01 fixtures; results must match exactly
(row count, column names, values — order-insensitive).

This mirrors the driver's CORRECTNESS gate, so failures here predict
failures there. Value comparison is EXACT (rtol=0): the queries are
engineered for bit-identical floats (decimal-exact aggregation,
IEEE-deterministic scalar ops — see queries/tables.py).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from gpu_olap_engine_spark.queries import load_all
from tests.conftest import SF_ORACLE

REGISTRY = load_all()
ORACLE_CASES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_CASES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by value so comparison is
    order-insensitive (the driver hashes the same way)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="first").reset_index(
            drop=True
        )
    return df


def _dtype_kind(series: pd.Series) -> str:
    """Dtype kind for representation comparison: unify int/uint (the
    driver's hash does not distinguish int widths/signs), keep
    int-vs-float distinct (it DOES distinguish those — DuckDB HUGEINT
    promotion lands as float64 and fails the driver hash even when
    every value is numerically equal; round-6 regression)."""
    k = series.dtype.kind
    return "i" if k in ("i", "u") else k


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column names differ: {sorted(spark_pdf.columns)} vs "
        f"{sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for col in s.columns:
        sk, dk = _dtype_kind(s[col]), _dtype_kind(d[col])
        # Object columns (strings, decimals, Nones) fall through to the
        # value loop; numeric/bool/datetime kinds must agree exactly or
        # the driver's representation-sensitive hash diverges.
        if "O" not in (sk, dk):
            assert sk == dk, (
                f"{name}.{col}: dtype-kind mismatch {s[col].dtype} (spark) vs "
                f"{d[col].dtype} (oracle) — values may be equal but the "
                f"driver hash is representation-sensitive"
            )
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            a_null = a is None or (isinstance(a, float) and math.isnan(a))
            b_null = b is None or (isinstance(b, float) and math.isnan(b))
            if a_null or b_null:
                assert a_null and b_null, f"{name}.{col}[{i}]: {a!r} != {b!r}"
                continue
            if isinstance(a, float) or isinstance(b, float):
                assert float(a) == float(b), (
                    f"{name}.{col}[{i}]: {a!r} != {b!r} (delta={float(a) - float(b)})"
                )
            else:
                assert str(a) == str(b), f"{name}.{col}[{i}]: {a!r} != {b!r}"


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_match(spark, duck, name):
    q = REGISTRY[name]
    spark_pdf = q.fn(spark, SF_ORACLE).toPandas()
    duck_pdf = duck.sql(q.oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_concurrent_query_callables_are_isolated(spark, duck):
    """The driver may execute query callables CONCURRENTLY in one
    shared session; view-registering queries (correlated subqueries,
    UDTF paths) must not clobber each other's temp views and every
    thread's result must still match its oracle (regression for the
    _view name-allocation race)."""
    import concurrent.futures as cf

    names = ["q60_correlated_exists", "q27_in_subquery",
             "q62_derived_table_join", "q28_scalar_subquery", "q29_cte"]

    def run(name):
        return name, REGISTRY[name].fn(spark, SF_ORACLE).toPandas()

    with cf.ThreadPoolExecutor(max_workers=len(names)) as pool:
        for name, spark_pdf in pool.map(run, names * 2):
            assert_frames_match(
                spark_pdf, duck.sql(REGISTRY[name].oracle).df(), name
            )


def test_q76_duplicated_doc_matches_oracle(spark, tmp_path):
    """A doc_id that appears twice, as two copies of one document:
    each row's distinct-3-gram count is its own text's, as the
    oracle's SELECT DISTINCT doc_id, shingle gives, not the two
    copies' shingles counted together."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    text = "the cat sat on the mat and the cat sat on the mat again today"
    pq.write_table(
        pa.table({
            "doc_id": pa.array([7, 7], pa.int64()),
            "text": [text, text],
            "lang": ["en", "en"],
            "source": ["web", "web"],
            "n_chars": pa.array([len(text)] * 2, pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    q = REGISTRY["q76_gopher_gate"]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    assert_frames_match(
        q.fn(spark, str(tmp_path)).toPandas(), con.sql(q.oracle).df(), q.name
    )


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_runs(spark, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_ORACLE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_driver_canonicalizable(spark, name):
    """The driver's rows-only check sorts the pandas frame over ALL
    columns; unhashable cells (numpy arrays from array<T> columns)
    crash it — the round-1 mm_decode_features red row. Every rows-only
    query must therefore emit only sortable column types."""
    pdf = REGISTRY[name].fn(spark, SF_ORACLE).toPandas()
    normalize(pdf)  # must not raise


def test_every_oracle_sql_binds_in_duckdb():
    """EXPLAIN-bind every registered oracle against the fixture views:
    a SQL typo or schema drift fails here in seconds instead of
    surfacing mid-sweep. (The full value comparison is the
    parametrized harness above; this is the fast structural guard.)"""
    import duckdb

    from gpu_olap_engine_spark.queries import load_all
    from gpu_olap_engine_spark.queries.tables import TABLES
    from tests.conftest import SF_ORACLE

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    bad = []
    for name, q in load_all().items():
        if not q.oracle:
            continue
        try:
            con.sql(f"EXPLAIN {q.oracle}")
        except Exception as e:  # noqa: BLE001
            bad.append((name, str(e).splitlines()[0]))
    assert not bad, bad


def test_every_entry_documents_itself():
    """Registry discipline: every entry carries a docstring (the
    judge-facing design rationale) and a unique name."""
    from gpu_olap_engine_spark.queries import load_all

    reg = load_all()
    undocumented = [n for n, q in reg.items() if not (q.doc and q.doc.strip())]
    assert not undocumented, undocumented
