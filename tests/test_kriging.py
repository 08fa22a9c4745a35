"""Kriging tests — mirrors /root/reference/test/estimation/krig.jl."""

from __future__ import annotations

import math

import pytest

from geostatssolvers_jl_spark.grid import CartesianGrid
from geostatssolvers_jl_spark.operators.kriging import KrigingModel, solve_kriging
from geostatssolvers_jl_spark.variogram import GaussianVariogram

GAMMA = GaussianVariogram(range=35.0, nugget=0.0)
GRID2D = CartesianGrid((100, 100), (0.5, 0.5), (1.0, 1.0))
GOLD = [((25, 25), 1.0), ((50, 75), 0.0), ((75, 50), 1.0)]


@pytest.fixture(scope="module")
def data1d(spark):
    z = [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.4, 0.3, 0.2, 0.1, 0.0]
    rows = [(i, float(10 * i), z[i]) for i in range(11)]
    return spark.createDataFrame(rows, "data_id long, x double, z double")


def _golden_check(rows):
    by_id = {r["cell_id"]: r for r in rows}
    for (i, j), v in GOLD:
        cell = (j - 1) * 100 + (i - 1)
        r = by_id[cell]
        assert r["z"] == pytest.approx(v, abs=1e-3), (i, j)
        assert r["z_variance"] == pytest.approx(0.0, abs=1e-3)


def test_kriging_1d_all_variants(spark, data1d):
    # reference test/estimation/krig.jl:6-19
    grid = CartesianGrid((100,))
    gdf = grid.spark_df(spark)
    for kwargs in (
        dict(maxneighbors=None),
        dict(maxneighbors=3),
        dict(maxneighbors=3, radius=100.0),
    ):
        sol = solve_kriging(
            data1d, gdf, model=KrigingModel(variogram=GAMMA),
            data_coord_cols=["x"], query_coord_cols=["cx"], **kwargs,
        ).collect()
        assert len(sol) == 100
        assert all(r["z"] is not None for r in sol)
        assert all(r["z_variance"] >= 0.0 for r in sol)
        # data location x=50 sits at centroid of cell 50 (cx=50.5)? no —
        # cells centroids are i-0.5; x=50 is a cell edge. Sanity only:
        zs = [r["z"] for r in sol]
        assert max(zs) < 0.75 and min(zs) > -0.25


def test_kriging_2d_global(spark, data2d_3pt):
    # krig.jl:30-37
    sol = solve_kriging(
        data2d_3pt, GRID2D.spark_df(spark),
        model=KrigingModel(variogram=GAMMA), maxneighbors=None,
    )
    _golden_check(sol.collect())


def test_kriging_2d_nearest(spark, data2d_3pt):
    # krig.jl:43-52
    sol = solve_kriging(
        data2d_3pt, GRID2D.spark_df(spark),
        model=KrigingModel(variogram=GAMMA), maxneighbors=3,
    )
    _golden_check(sol.collect())


def test_kriging_2d_local(spark, data2d_3pt):
    # krig.jl:58-72 (MetricBall(100))
    sol = solve_kriging(
        data2d_3pt, GRID2D.spark_df(spark),
        model=KrigingModel(variogram=GAMMA), maxneighbors=3, radius=100.0,
    )
    _golden_check(sol.collect())


def test_simple_kriging_mean(spark, data2d_3pt):
    # SK with far-field reversion to the specified mean
    sol = solve_kriging(
        data2d_3pt, GRID2D.spark_df(spark),
        model=KrigingModel(variogram=GAMMA, mean=0.5), maxneighbors=None,
    )
    rows = {r["cell_id"]: r for r in sol.collect()}
    _golden_check(rows.values())
    # corner cell (1,100), centroid (1,100): ≥ 49 units from all data —
    # beyond the 35 range → reversion to the simple-kriging mean
    corner = rows[(100 - 1) * 100 + 0]
    assert corner["z"] == pytest.approx(0.5, abs=1e-2)
    assert corner["z_variance"] == pytest.approx(GAMMA.sill, abs=1e-2)


def test_universal_kriging_runs(spark, data2d_3pt):
    sol = solve_kriging(
        data2d_3pt, GRID2D.spark_df(spark),
        model=KrigingModel(variogram=GAMMA, degree=1), maxneighbors=None,
    )
    _golden_check(sol.collect())


def test_external_drift_kriging_runs(spark, data2d_3pt):
    drift = [lambda c: c[..., 0] + c[..., 1]]
    sol = solve_kriging(
        data2d_3pt, GRID2D.spark_df(spark),
        model=KrigingModel(variogram=GAMMA, drifts=drift), maxneighbors=None,
    )
    _golden_check(sol.collect())


def test_local_matches_global_with_all_neighbors(spark, data2d_3pt):
    """k = n_data local path must equal the global path everywhere."""
    gdf = CartesianGrid((10, 10), (0.5, 0.5), (10.0, 10.0)).spark_df(spark)
    g = solve_kriging(data2d_3pt, gdf, model=KrigingModel(variogram=GAMMA),
                      maxneighbors=None).collect()
    l = solve_kriging(data2d_3pt, gdf, model=KrigingModel(variogram=GAMMA),
                      maxneighbors=3).collect()
    gm = {r["cell_id"]: r for r in g}
    for r in l:
        assert r["z"] == pytest.approx(gm[r["cell_id"]]["z"], abs=1e-9)
        assert r["z_variance"] == pytest.approx(
            gm[r["cell_id"]]["z_variance"], abs=1e-9
        )


def test_nugget_effect_defaults_and_validation():
    """A bare NuggetEffect() must be GeoStats.jl's unit nugget (sill =
    nugget = 1), not the degenerate sill-0 model the inherited nugget=0.0
    default produced (r3 advice: C ≡ 0 and zero regularization sent every
    system to the singular lstsq fallback)."""
    import numpy as np

    from geostatssolvers_jl_spark.variogram import NuggetEffect

    n = NuggetEffect()
    assert n.nugget == 1.0 and n.sill == 1.0
    assert np.allclose(n.cov(np.array([0.0, 1.0, 5.0])), [1.0, 0.0, 0.0])
    # GeoStats.jl parity: the POSITIONAL argument is the nugget (the
    # inherited dataclass init bound it to `range`, silently building a
    # unit-sill model — r4 review)
    p = NuggetEffect(0.2)
    assert p.nugget == 0.2 and p.sill == 0.2
    assert np.allclose(p.cov(np.array([0.0, 3.0])), [0.2, 0.0])
    with pytest.raises(ValueError, match="nugget > 0"):
        NuggetEffect(nugget=0.0)
    with pytest.raises(ValueError, match="nugget > 0"):
        NuggetEffect(-1.0)


def _ball_systems(n, nq, radius, seed=0):
    """Gathered neighbor arrays of a ball search with no k cap (k = n)."""
    import numpy as np

    from geostatssolvers_jl_spark.distances import Euclidean
    from geostatssolvers_jl_spark.neighbors import topk_search

    rng = np.random.default_rng(seed)
    X = rng.uniform(0, 100, size=(n, 2))
    z = rng.normal(size=n)
    q = rng.uniform(0, 100, size=(nq, 2))
    idx, dist, _ = topk_search(q, X, n, Euclidean(), radius)
    valid = idx >= 0
    safe = np.where(valid, idx, 0)
    return q, X[safe], np.where(valid, z[safe], 0.0), valid, dist


def test_ball_search_solve_memory_bounded():
    """``maxneighbors=None, radius=r`` solves systems of size k = n.  At
    n = 800 a fixed 2048-system chunk stacked ~10.5 GB per (B, k+m, k+m)
    array; the chunk shrinks with k + m, so the peak stays near a few
    solve blocks."""
    import tracemalloc

    import numpy as np

    from geostatssolvers_jl_spark.distances import Euclidean
    from geostatssolvers_jl_spark.operators import kriging as K

    q, NC, zn, valid, dist = _ball_systems(800, 24, radius=1e9)
    assert valid.all()  # k = n = 800 neighbors each
    model = KrigingModel(variogram=GaussianVariogram(range=35.0, sill=1.0,
                                                     nugget=0.1))
    tracemalloc.start()
    try:
        mu, var = K.solve_systems(model, q, NC, zn, valid, dist,
                                  Euclidean(), 1)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert np.isfinite(mu).all() and np.isfinite(var).all()
    # one 24-system chunk alone would stack 24·801² doubles ≈ 123 MB
    assert peak < 16 * K._SOLVE_BLOCK * 8, peak


def test_collocated_solve_memory_bounded():
    """Collocated co-kriging chunks its stacked (k+1)×(k+1) systems by the
    same rule as `solve_systems`: at k = 100 one 2048-row batch stacked
    as one chunk peaks near 824 MB; sized chunks keep it near 87 MB."""
    import tracemalloc

    import numpy as np

    from geostatssolvers_jl_spark.distances import Euclidean
    from geostatssolvers_jl_spark.operators import kriging as K
    from geostatssolvers_jl_spark.operators.cokriging import (
        CollocatedModel, _solve_collocated_batch,
    )

    q, NC, zn, valid, dist = _ball_systems(100, 2048, radius=1e9)
    model = CollocatedModel(
        variogram=GaussianVariogram(range=35.0, sill=1.0, nugget=0.1),
        rho=0.6, sec_variance=2.0, mean=0.0, sec_mean=0.0)
    y2 = np.random.default_rng(2).normal(size=len(q))
    tracemalloc.start()
    try:
        mu, var = _solve_collocated_batch(model, q, NC, zn, valid, dist, y2,
                                          Euclidean(), 1)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert np.isfinite(mu).all() and np.isfinite(var).all()
    assert peak < 16 * K._SOLVE_BLOCK * 8, peak


@pytest.mark.parametrize("kernel", ["kriging", "collocated"])
def test_solve_chunking_keeps_rows_bit_identical(monkeypatch, kernel):
    """Chunks sized from the system size give the same rows, bit for bit,
    as one 2048-system chunk — with a ball that cuts neighbors (padded
    slots) — for ordinary kriging (k + 1 drift row) and collocated
    co-kriging (k + 1 MM1 row) alike."""
    import numpy as np

    from geostatssolvers_jl_spark.distances import Euclidean
    from geostatssolvers_jl_spark.operators import kriging as K
    from geostatssolvers_jl_spark.operators.cokriging import (
        CollocatedModel, _solve_collocated_batch,
    )

    q, NC, zn, valid, dist = _ball_systems(90, 1500, radius=30.0, seed=1)
    assert (~valid).any() and valid.sum(axis=1).min() >= 1
    vg = GaussianVariogram(range=35.0, sill=1.0, nugget=0.1)
    y2 = np.random.default_rng(2).normal(size=len(q))

    def solve():
        if kernel == "kriging":
            return K.solve_systems(KrigingModel(variogram=vg), q, NC, zn,
                                   valid, dist, Euclidean(), 1)
        model = CollocatedModel(variogram=vg, rho=0.6, sec_variance=2.0,
                                mean=0.0, sec_mean=0.0)
        return _solve_collocated_batch(model, q, NC, zn, valid, dist, y2,
                                       Euclidean(), 1)

    assert K._SOLVE_BLOCK // (90 + 1) ** 2 < 1500  # several chunks
    got = solve()
    monkeypatch.setattr(K, "_SOLVE_BLOCK", 2048 * 91 * 91)
    want = solve()
    for a, b in zip(got, want):
        assert np.array_equal(a, b)
