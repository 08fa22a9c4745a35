"""Planner rules (ui.jl), anisotropic metrics, pluggable estimator —
mirror /root/reference/test/ui.jl and test/dummy.jl patterns."""

from __future__ import annotations

import numpy as np
import pytest

from geostatssolvers_jl_spark.distances import Anisotropic, Euclidean
from geostatssolvers_jl_spark.grid import CartesianGrid
from geostatssolvers_jl_spark.planner import (
    ANN_FAST_MIN,
    ann_tier,
    choose_strategy,
    kriging_ui,
    searcher_ui,
)
from geostatssolvers_jl_spark.simulation.seqsim import SGSParams, solve_sgs
from geostatssolvers_jl_spark.variogram import GaussianVariogram


def test_searcher_ui_clamp_warning():
    # ui.jl:16-23: invalid maxneighbors clamps to nelem with a warning
    with pytest.warns(UserWarning, match="Adjusting"):
        plan = searcher_ui(10, 100)
    assert plan.k == 10
    with pytest.warns(UserWarning):
        plan = searcher_ui(10, 0)
    assert plan.k == 10
    assert searcher_ui(10, 5).k == 5
    assert searcher_ui(10, None).k == 10
    assert searcher_ui(10, 5, radius=2.0).kind == "ball"


def test_kriging_ui_dispatch():
    # ui.jl:40-50: latter options override former
    assert kriging_ui().variant == "OK"
    assert kriging_ui(mean=1.0).variant == "SK"
    assert kriging_ui(mean=1.0, degree=1).variant == "UK"
    assert kriging_ui(mean=1.0, degree=1, drifts=[lambda c: c[..., 0]]).variant == "EDK"


def test_choose_strategy():
    assert choose_strategy(100, None) == "global"
    assert choose_strategy(100, 5) == "local-broadcast"
    assert choose_strategy(10_000_000, 5) == "local-tiled"


def test_tier_cutovers():
    """Each size cutover of the ANN entries, on both sides."""
    from geostatssolvers_jl_spark.webtext.vecops import GATHER_SCORE_LIMIT

    assert ANN_FAST_MIN == 1_500 and GATHER_SCORE_LIMIT == 500_000
    assert ann_tier(0) == "sql"
    assert ann_tier(ANN_FAST_MIN - 1) == "sql"
    assert ann_tier(ANN_FAST_MIN) == "gather"
    assert ann_tier(GATHER_SCORE_LIMIT) == "gather"
    assert ann_tier(GATHER_SCORE_LIMIT + 1) == "join"


def test_anisotropic_metric():
    m = Anisotropic((20.0, 5.0))
    a = np.array([[0.0, 0.0]])
    assert m.np(a, np.array([[20.0, 0.0]]))[0, 0] == pytest.approx(1.0)
    assert m.np(a, np.array([[0.0, 5.0]]))[0, 0] == pytest.approx(1.0)
    # search with anisotropic metric prefers the long axis
    from geostatssolvers_jl_spark.neighbors import topk_search

    D = np.array([[18.0, 0.0], [0.0, 6.0]])
    idx, dist, nv = topk_search(a, D, 1, m)
    assert idx[0, 0] == 0  # 18/20 < 6/5


def test_anisotropic_lugs_smoke(spark):
    # lu.jl:54-62 anisotropy example: GaussianVariogram(MetricBall((20,5)))
    from geostatssolvers_jl_spark.simulation.lugs import (
        LUGSVariable, solve_lugs,
    )

    # engine pattern: unit-range variogram + anisotropic coordinates is
    # equivalent; here we verify the anisotropic field stretches along x
    sol = solve_lugs(
        spark, CartesianGrid((40, 40)), nreals=2,
        variables=[LUGSVariable(variogram=GaussianVariogram(range=8.0))],
        seed=3,
    )
    assert sol.count() == 2 * 1600


def test_anisotropic_kriging_solve(spark):
    """Regression: the kriging kernel's batched pairwise distances must
    honor Anisotropic (was mis-dispatched to the haversine branch)."""
    from geostatssolvers_jl_spark.operators.kriging import (
        KrigingModel, solve_kriging,
    )

    data = spark.createDataFrame(
        [(0, 10.0, 10.0, 1.0), (1, 30.0, 10.0, -1.0), (2, 10.0, 30.0, 2.0)],
        "data_id long, x double, y double, z double",
    )
    m = Anisotropic((20.0, 5.0))
    sol = solve_kriging(
        data, CartesianGrid((40, 40)).spark_df(spark),
        model=KrigingModel(variogram=GaussianVariogram(range=1.0)),
        maxneighbors=3, metric=m,
    ).collect()
    assert len(sol) == 1600
    assert all(r["z"] is not None and abs(r["z"]) < 10 for r in sol)
    # wrong-dimension radii must raise, not broadcast silently
    with pytest.raises(Exception, match="radii|dimensional"):
        solve_kriging(
            data, CartesianGrid((5, 5)).spark_df(spark),
            maxneighbors=2, metric=Anisotropic((20.0,)),
        ).collect()


def test_dummy_estimator_protocol(spark):
    """test/dummy.jl pattern: SeqSim with a dummy estimator independent of
    the real kriging math — here a mean-of-neighbors draw."""

    def dummy(rng, qxy, nxy, nz):
        return float(nz.mean())

    data = spark.createDataFrame(
        [(0, 2.0, 2.0, 5.0)], "data_id long, x double, y double, z double"
    )
    sol = solve_sgs(
        spark, CartesianGrid((10, 10)), nreals=1,
        params=SGSParams(maxneighbors=4, estimator=dummy),
        data=data, seed=1,
    )
    rows = sol.collect()
    # with one datum and mean-propagation, every cell is exactly 5.0
    assert all(r["z"] == 5.0 for r in rows)
