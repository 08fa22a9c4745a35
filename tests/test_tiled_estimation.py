"""Tiled (big-big) estimation strategy: results must be bit-identical to
the broadcast path on the same inputs, and the physical plan must be an
equi-join pipeline (no cartesian products, no driver collect of data)."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from geostatssolvers_jl_spark.distances import Haversine
from geostatssolvers_jl_spark.operators.idw import solve_idw
from geostatssolvers_jl_spark.operators.kriging import (
    KrigingModel, solve_kriging,
)
from geostatssolvers_jl_spark.operators.lwr import solve_lwr
from geostatssolvers_jl_spark.variogram import GaussianVariogram


@pytest.fixture(scope="module")
def geo(spark):
    rng = np.random.default_rng(17)
    nd, nq = 800, 300
    d = spark.createDataFrame(
        [(int(i), float(x), float(y), float(v)) for i, (x, y, v) in enumerate(
            zip(rng.uniform(-60, 60, nd), rng.uniform(-50, 50, nd),
                rng.normal(10, 3, nd)))],
        "data_id long, lon double, lat double, z double",
    )
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-55, 55, nq), rng.uniform(-45, 45, nq)))],
        "cell_id long, lon double, lat double",
    )
    return d, q


def _rows(df):
    out = {}
    for r in df.collect():
        vals = tuple(
            None if v is None or (isinstance(v, float) and np.isnan(v))
            else round(v, 9) if isinstance(v, float) else v
            for v in r[1:]
        )
        out[r[0]] = vals
    return out


def test_kriging_tiled_bit_identical(spark, geo):
    d, q = geo
    # a 600 km ball cuts some of the 6 nearest for ~1/3 of the queries
    for radius in (None, 600.0):
        kw = dict(
            var="z",
            model=KrigingModel(
                variogram=GaussianVariogram(range=2000.0, sill=9.0)),
            data_coord_cols=["lon", "lat"], query_coord_cols=["lon", "lat"],
            maxneighbors=6, metric=Haversine(6371.0), radius=radius,
        )
        a = _rows(solve_kriging(d, q, strategy="local-broadcast", **kw))
        b = _rows(solve_kriging(d, q, strategy="local-tiled", tile_res=4,
                                **kw))
        assert a == b, radius


def test_idw_tiled_bit_identical(spark, geo):
    d, q = geo
    kw = dict(
        var="z", data_coord_cols=["lon", "lat"],
        query_coord_cols=["lon", "lat"], maxneighbors=5,
        metric=Haversine(6371.0),
    )
    a = _rows(solve_idw(d, q, strategy="local-broadcast", **kw))
    b = _rows(solve_idw(d, q, strategy="local-tiled", tile_res=4, **kw))
    assert a == b


def test_idw_tiled_radius_bit_identical(spark, geo):
    d, q = geo
    kw = dict(
        var="z", data_coord_cols=["lon", "lat"],
        query_coord_cols=["lon", "lat"], maxneighbors=5, radius=500.0,
        minneighbors=1, metric=Haversine(6371.0),
    )
    # the ball must cut: some query keeps fewer than k neighbors, or the
    # tiled path's radius filter goes untested
    from geostatssolvers_jl_spark.neighbors import topk_search

    D = d.orderBy("data_id").select("lon", "lat").toPandas().to_numpy()
    Q = q.select("lon", "lat").toPandas().to_numpy()
    _, _, nvalid = topk_search(Q, D, 5, kw["metric"], kw["radius"])
    assert (nvalid < 5).any()
    a = _rows(solve_idw(d, q, strategy="local-broadcast", **kw))
    b = _rows(solve_idw(d, q, strategy="local-tiled", tile_res=4, **kw))
    assert a == b


def test_idw_tiled_query_id_col(spark, geo):
    """A query id other than ``cell_id`` reaches the tiled join."""
    d, q = geo
    kw = dict(
        var="z", data_coord_cols=["lon", "lat"],
        query_coord_cols=["lon", "lat"], maxneighbors=5,
        metric=Haversine(6371.0), id_col="target_id",
    )
    q = q.withColumnRenamed("cell_id", "target_id")
    a = _rows(solve_idw(d, q, strategy="local-broadcast", **kw))
    b = _rows(solve_idw(d, q, strategy="local-tiled", tile_res=4, **kw))
    assert len(a) == 300 and a == b


def test_tiled_kernel_reads_query_columns(spark, geo):
    """Both gathers hand the kernel the whole query row, so a kernel may
    read a query column that is neither the id nor a coordinate."""
    from geostatssolvers_jl_spark.operators.tiled import solve_local

    d, q = geo
    q = q.selectExpr("*", "cell_id * 0.5 AS shift")

    def kernel(pdf, qcoords, NC, vals, dist, valid):
        zsum = np.where(valid, vals["z"], 0.0).sum(axis=1)
        return pd.DataFrame({"cell_id": pdf["cell_id"].to_numpy(np.int64),
                             "v": zsum + pdf["shift"].to_numpy(np.float64)})

    def run(**strategy):
        return _rows(solve_local(
            d, q, "z", kernel, "cell_id long, v double", ["lon", "lat"],
            ["lon", "lat"], 4, 1, Haversine(6371.0), None, "cell_id",
            **strategy))

    a = run(strategy="local-broadcast", tile_res=None)
    assert len(a) == 300
    assert a == run(strategy="local-tiled", tile_res=4)


def test_lwr_tiled_bit_identical(spark, geo):
    d, q = geo
    # a 900 km ball cuts the 8th neighbor of a few queries and leaves each
    # query >= 3 neighbors; a 600 km ball leaves a few queries fewer than
    # p = 3, whose under-determined systems always take the minimum-norm
    # (pinv) solution, so both paths agree on them too
    from geostatssolvers_jl_spark.neighbors import topk_search

    D = d.orderBy("data_id").select("lon", "lat").toPandas().to_numpy()
    Q = q.select("lon", "lat").toPandas().to_numpy()
    _, _, nvalid = topk_search(Q, D, 8, Haversine(6371.0), 600.0)
    assert (nvalid < 3).any()
    for radius in (None, 900.0, 600.0):
        kw = dict(
            var="z", data_coord_cols=["lon", "lat"],
            query_coord_cols=["lon", "lat"], maxneighbors=8,
            metric=Haversine(6371.0), radius=radius,
        )
        a = _rows(solve_lwr(d, q, strategy="local-broadcast", **kw))
        b = _rows(solve_lwr(d, q, strategy="local-tiled", tile_res=4, **kw))
        assert a == b, radius


def test_auto_strategy_routes_big_data_tiled(spark, geo, monkeypatch):
    """auto + a data side above planner.BROADCAST_LIMIT must route tiled
    (never through collect_points)."""
    import geostatssolvers_jl_spark.neighbors as nb
    import geostatssolvers_jl_spark.operators.kriging as krig
    import geostatssolvers_jl_spark.operators.tiled as tiled
    import geostatssolvers_jl_spark.planner as planner

    def boom(*a, **kw):  # pragma: no cover
        raise AssertionError("collect_points called for big data side")

    monkeypatch.setattr(krig, "collect_points", boom)
    monkeypatch.setattr(nb, "collect_points", boom)
    monkeypatch.setattr(tiled, "collect_points", boom)
    monkeypatch.setattr(planner, "BROADCAST_LIMIT", 100)
    d, q = geo
    out = solve_kriging(
        d, q, var="z",
        model=KrigingModel(variogram=GaussianVariogram(range=2000.0, sill=9.0)),
        data_coord_cols=["lon", "lat"], query_coord_cols=["lon", "lat"],
        maxneighbors=4, metric=Haversine(6371.0),
        strategy="auto", tile_res=4,
    )
    assert out.count() == 300


def test_unknown_strategy_raises(spark, geo, monkeypatch):
    """A misspelled strategy fails loudly instead of running the
    broadcast gather (a driver collect of the whole data side)."""
    import geostatssolvers_jl_spark.operators.tiled as tiled

    def boom(*a, **kw):  # pragma: no cover
        raise AssertionError("collect_points called for an unknown strategy")

    monkeypatch.setattr(tiled, "collect_points", boom)
    d, q = geo
    with pytest.raises(ValueError, match="unknown strategy 'tiled'"):
        solve_idw(d, q, var="z", data_coord_cols=["lon", "lat"],
                  query_coord_cols=["lon", "lat"], maxneighbors=4,
                  metric=Haversine(6371.0), strategy="tiled")


def test_tiled_plan_is_equijoin(spark, geo):
    """The tiled plan must not contain cartesian products or broadcast
    nested loops — candidates flow through equi-joins only — and its one
    Python stage is the gather kernel: the join's cell replication is a
    JVM-side explode."""
    d, q = geo
    out = solve_idw(
        d, q, var="z", data_coord_cols=["lon", "lat"],
        query_coord_cols=["lon", "lat"], maxneighbors=5,
        metric=Haversine(6371.0), strategy="local-tiled", tile_res=4,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("MapInPandas") == 1
    # the join hands over each neighbor's columns: the data side is not
    # aggregated or joined again by data_id to fetch them
    assert not re.search(r"Aggregate\(key=\[data_id", plan), plan
    assert not re.search(r"Join \[data_id", plan), plan


@pytest.mark.parametrize("dups", ["identical", "colliding"])
def test_tiled_duplicate_data_ids_no_fanout(spark, geo, dups):
    """Shared data_ids through the tiled path must match the broadcast
    path on the same input.  Content-derived ids collide for
    byte-identical rows ("identical"); a caller's ids may also collide
    across rows with different places and values ("colliding").  The
    exact join returns each neighbor's own coordinates and values, so a
    shared id neither fans a query out to more than k structs nor pairs
    one row's distance with another row's payload."""
    d, q = geo
    if dups == "identical":
        extra = d.limit(40)
    else:
        rng = np.random.default_rng(23)
        extra = spark.createDataFrame(
            [(i, float(x), float(y), float(v)) for i, (x, y, v) in enumerate(
                zip(rng.uniform(-60, 60, 40), rng.uniform(-50, 50, 40),
                    rng.normal(30, 3, 40)))],
            d.schema,
        )
    ddup = d.union(extra)
    kw = dict(
        var="z", data_coord_cols=["lon", "lat"],
        query_coord_cols=["lon", "lat"], metric=Haversine(6371.0),
    )
    a = _rows(solve_idw(ddup, q, strategy="local-broadcast",
                        maxneighbors=5, **kw))
    b = _rows(solve_idw(ddup, q, strategy="local-tiled", tile_res=4,
                        maxneighbors=5, **kw))
    assert a == b
    model = KrigingModel(variogram=GaussianVariogram(range=2000.0, sill=9.0))
    a = _rows(solve_kriging(ddup, q, model=model, strategy="local-broadcast",
                            maxneighbors=6, **kw))
    b = _rows(solve_kriging(ddup, q, model=model, strategy="local-tiled",
                            tile_res=4, maxneighbors=6, **kw))
    assert a == b
