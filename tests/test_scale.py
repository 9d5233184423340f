"""The scale harness (scripts/scale.py) on small inputs: the ~sf1
recipe applied to the sf0.001 fixtures, and the BASELINE join and
group-by shapes at a few thousand rows against their DuckDB controls."""

from __future__ import annotations

import duckdb
from conftest import SF_SMALL
from pyspark.sql import functions as F

from gpu_olap_engine_spark.queries import load_all
from gpu_olap_engine_spark.queries.tables import TABLES, T
from scripts import scale


def test_sf1_recipe_replicates_with_disjoint_keys(spark, tmp_path):
    recipe = scale.RECIPES["sf1"]
    out = str(tmp_path / "sf1")
    scale.generate(spark, recipe, SF_SMALL, out)
    rows = {r.table: r for r in recipe.rows}
    assert set(rows) == set(TABLES)
    for t, row in rows.items():
        src_n = T(spark, SF_SMALL, t).count()
        got = T(spark, out, t)
        assert got.count() == src_n * (recipe.k if row.offsets else 1), t
        for c in row.offsets:
            # replica i owns [i * KEY_OFFSET, (i + 1) * KEY_OFFSET)
            per = got.groupBy(F.floor(F.col(c) / scale.KEY_OFFSET).alias("i")).count()
            assert {(r["i"], r["count"]) for r in per.collect()} == {
                (i, src_n) for i in range(recipe.k)
            }, (t, c)
    assert load_all()["q03_join_agg_topk"].fn(spark, out).count() > 0


def test_join_and_groupby_shapes_match_duckdb_controls(spark):
    n = 3000
    for shape in ("join_300m", "groupby_1b"):
        want = duckdb.sql(scale.control_sql(shape, n)).fetchone()[0]
        for name, df in scale.frames(spark, shape, n):
            got = df.first()["c"] if shape == "join_300m" else df.count()
            assert got == want, (shape, name)
