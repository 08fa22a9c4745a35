"""IDW operator tests — mirrors /root/reference/test/estimation/idw.jl."""

from __future__ import annotations

import numpy as np
import pytest

from geostatssolvers_jl_spark.distances import Euclidean, Haversine
from geostatssolvers_jl_spark.grid import CartesianGrid
from geostatssolvers_jl_spark.operators.idw import (
    idw_agg_sql, idw_stack, solve_idw,
)


def _lookup(rows, cell_id):
    return {r["cell_id"]: r for r in rows}[cell_id]


def test_idw_basic_2d(spark, data2d_3pt):
    # reference test/estimation/idw.jl:2-9 (CartesianGrid(100,100), k=3)
    grid = CartesianGrid((100, 100))
    sol = solve_idw(data2d_3pt, grid.spark_df(spark), maxneighbors=3)
    rows = sol.collect()
    assert len(rows) == 10000
    assert all(r["z"] is not None and r["z_distance"] is not None for r in rows)
    zs = [r["z"] for r in rows]
    assert min(zs) >= 0.0 and max(zs) <= 1.0  # convex combination of data


def test_idw_exactness_on_datacell(spark, data2d_3pt):
    # krig-grid layout: centroid of 1-based cell (25,25) is exactly (25,25)
    grid = CartesianGrid((100, 100), (0.5, 0.5), (1.0, 1.0))
    sol = solve_idw(data2d_3pt, grid.spark_df(spark), maxneighbors=3)
    rows = sol.collect()
    for (i, j), v in [((25, 25), 1.0), ((50, 75), 0.0), ((75, 50), 1.0)]:
        cell = (j - 1) * 100 + (i - 1)
        r = _lookup(rows, cell)
        assert r["z"] == pytest.approx(v, abs=1e-12)
        assert r["z_distance"] == 0.0


def test_idw_minneighbors_null(spark, data2d_3pt):
    grid = CartesianGrid((10, 10))
    sol = solve_idw(
        data2d_3pt, grid.spark_df(spark), maxneighbors=3, minneighbors=2,
        radius=5.0,
    )
    rows = sol.collect()
    # radius 5 around 10x10 grid (centroids ≤ 9.5) reaches no data → all null
    assert all(r["z"] is None for r in rows)


def test_idw_haversine_runs(spark):
    # reference test/estimation/idw.jl:21-27
    data = spark.createDataFrame(
        [(0, 50.0, -30.0, 4.0), (1, 100.0, 30.0, -1.0), (2, 200.0 - 360.0, 10.0, 3.0)],
        "data_id long, x double, y double, z double",
    )
    grid = CartesianGrid.from_extent((1.0, -89.0), (359.0, 89.0), (20, 10))
    sol = solve_idw(
        data, grid.spark_df(spark), maxneighbors=3, metric=Haversine(1.0)
    )
    rows = sol.collect()
    assert len(rows) == 200
    assert all(r["z"] is not None for r in rows)


def test_idw_sql_parity_with_duckdb(spark, data2d_3pt):
    """Declarative path == kernel path == DuckDB oracle (rounded)."""
    import duckdb

    from geostatssolvers_jl_spark.oracle import knn_pairs_sql

    grid = CartesianGrid((20, 20), (0.5, 0.5), (5.0, 5.0))
    gdf = grid.spark_df(spark)
    dist = Euclidean().sql(("q.cx", "q.cy"), ("d.x", "d.y"))
    pairs_sql = knn_pairs_sql("grid", "pts", dist, k=3)
    full_sql = idw_agg_sql(f"({pairs_sql}) p", round_to=6)

    gdf.createOrReplaceTempView("grid")
    data2d_3pt.createOrReplaceTempView("pts")
    spark_rows = {
        r["cell_id"]: (r["z"], r["z_distance"])
        for r in spark.sql(full_sql).collect()
    }

    con = duckdb.connect()
    con.execute(f"CREATE VIEW grid AS SELECT * FROM {grid.duck_sql()}")
    con.execute(
        "CREATE VIEW pts AS SELECT * FROM (VALUES "
        "(0, 25.0, 25.0, 1.0), (1, 50.0, 75.0, 0.0), (2, 75.0, 50.0, 1.0)"
        ") t(data_id, x, y, z)"
    )
    duck_rows = {r[0]: (r[1], r[2]) for r in con.execute(full_sql).fetchall()}
    assert spark_rows == duck_rows

    # kernel path agrees too (after rounding)
    sol = solve_idw(data2d_3pt, gdf, maxneighbors=3)
    for r in sol.collect():
        mu, sg = spark_rows[r["cell_id"]]
        assert round(r["z"], 6) == mu
        assert round(r["z_distance"], 6) == sg


def test_idw_stack_zero_distance_no_invalid_ops():
    """A query on a datum meets no inf · z or inf / inf: its zero-distance
    slots get weight 0 and the first-valid-slot rule returns the datum.
    Slots ``valid`` leaves out (rows 3 and 4) are ignored wherever they
    sit."""
    inf = np.inf
    dist = np.array([[0.0, 0.0, 2.0], [1.0, 2.0, inf], [inf, inf, inf],
                     [0.0, 0.0, 2.0], [0.0, 1.0, 2.0]])
    valid = np.isfinite(dist)
    valid[3:, 0] = False
    zn = np.array([[5.0, 7.0, 1.0], [2.0, 4.0, 0.0], [0.0, 0.0, 0.0],
                   [5.0, 7.0, 1.0], [5.0, 2.0, 4.0]])
    with np.errstate(all="raise"):
        mu, sigma = idw_stack(zn, dist, valid, 1.0)
    assert mu[0] == 5.0 and sigma[0] == 0.0
    assert mu[1] == (2.0 / 1.0 + 4.0 / 2.0) / (1.0 + 0.5) and sigma[1] == 1.0
    assert np.isnan(mu[2]) and sigma[2] == inf
    assert mu[3] == 7.0 and sigma[3] == 0.0
    assert mu[4] == mu[1] and sigma[4] == 1.0
