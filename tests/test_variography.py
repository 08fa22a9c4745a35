"""Variography front end (empirical variogram, WLS fit) + transforms
(normal-score, declustering).

The reference consumes fitted Variography.jl models; these tests pin the
engine's own data → γ̂(h) → fitted-model front end: exactness of the
Matheron estimator against hand/numpy computation, losslessness of the
tiled pair join, parameter recovery of the WLS fit, and the end-to-end
loop into `solve_kriging`.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from geostatssolvers_jl_spark.transforms import (
    decluster_weights_sql,
    declustered_mean_sql,
    nscore,
    nscore_back_np,
    nscore_sql,
    phi_inv_np,
)
from geostatssolvers_jl_spark.variogram import (
    ExponentialVariogram,
    GaussianVariogram,
    SphericalVariogram,
)
from geostatssolvers_jl_spark.variography import (
    empirical_variogram,
    empirical_variogram_sql,
    fit_variogram,
    fit_variogram_sql,
)


def _duck(pts: pd.DataFrame):
    con = duckdb.connect()
    con.register("pts", pts)
    return con


def _rand_pts(seed: int, n: int, span=(0.0, 100.0)) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "data_id": np.arange(n),
        "x": rng.uniform(*span, n),
        "y": rng.uniform(*span, n),
        "z": rng.integers(0, 1000, n).astype(float),
    })


# ------------------------------------------------------ empirical variogram


def test_empirical_hand_computed():
    """3 collinear points, one pair per bin — γ̂ matches hand arithmetic."""
    pts = pd.DataFrame({
        "data_id": [0, 1, 2],
        "x": [0.0, 1.0, 3.0], "y": [0.0, 0.0, 0.0],
        "z": [10.0, 14.0, 8.0],
    })
    # pairs: (0,1) h=1 dz=-4; (1,2) h=2 dz=6; (0,2) h=3 dz=2
    con = _duck(pts)
    out = con.sql(
        empirical_variogram_sql("pts", maxlag=4.0, nlags=4, tiled=False)
        + " ORDER BY bin").df()
    assert out.bin.tolist() == [1, 2, 3]
    assert out.npairs.tolist() == [1, 1, 1]
    assert out.gamma.tolist() == [8.0, 18.0, 2.0]  # dz²/2
    assert out.lag.tolist() == [1.5, 2.5, 3.5]


def test_tiled_equals_brute_negative_coords():
    """The ring-replicated equi-join form is LOSSLESS, including across
    tile boundaries at negative coordinates (floor-tile correctness)."""
    pts = _rand_pts(3, 500, span=(-80.0, 80.0))
    con = _duck(pts)
    t = con.sql(empirical_variogram_sql("pts", 25.0, 10, tiled=True)
                + " ORDER BY bin").df()
    b = con.sql(empirical_variogram_sql("pts", 25.0, 10, tiled=False)
                + " ORDER BY bin").df()
    pd.testing.assert_frame_equal(t, b)
    assert t.npairs.sum() > 1000


def test_maxlag_and_bin_boundaries():
    """h = maxlag excluded (strict); h on an interior bin edge goes to
    the UPPER bin (floor semantics); coincident pair excluded."""
    pts = pd.DataFrame({
        "data_id": [0, 1, 2, 3],
        "x": [0.0, 2.0, 4.0, 0.0], "y": [0.0, 0.0, 0.0, 0.0],
        "z": [1.0, 2.0, 3.0, 5.0],
    })
    # pairs: (0,1) h=2 → bin 1; (1,2) h=2 → bin 1; (0,2) h=4 = maxlag
    # EXCLUDED; (0,3) h=0 EXCLUDED; (1,3) h=2; (2,3) h=4 excluded
    con = _duck(pts)
    out = con.sql(empirical_variogram_sql("pts", 4.0, 2, tiled=False)).df()
    assert out.bin.tolist() == [1]
    assert out.npairs.tolist() == [3]


def test_spark_duckdb_parity_and_wrapper(spark):
    """Same SQL, both engines, bit-identical; the wrapper leaves the
    catalog as it found it."""
    pts = _rand_pts(7, 300, span=(-50.0, 50.0))
    sdf = spark.createDataFrame(pts)
    before = {v.name for v in spark.catalog.listTables()}
    out = empirical_variogram(spark, sdf, maxlag=30.0, nlags=8) \
        .toPandas().sort_values("bin").reset_index(drop=True)
    con = _duck(pts)
    ref = con.sql(empirical_variogram_sql("pts", 30.0, 8, tiled=False)
                  + " ORDER BY bin").df()
    pd.testing.assert_frame_equal(
        out.astype({"bin": "int64"}), ref.astype({"bin": "int64"}),
        check_dtype=False)
    assert {v.name for v in spark.catalog.listTables()} == before


def test_validation_errors(spark):
    with pytest.raises(ValueError, match="nlags"):
        empirical_variogram_sql("pts", 10.0, 0)
    with pytest.raises(ValueError, match="maxlag"):
        empirical_variogram_sql("pts", 0.0, 5)
    with pytest.raises(ValueError, match="range grid"):
        fit_variogram_sql("emp", ())
    with pytest.raises(ValueError, match="unknown model"):
        fit_variogram_sql("emp", (1.0,), models=("cubic",))
    with pytest.raises(ValueError, match="2 non-empty lag bins"):
        fit_variogram([{"lag": 1.0, "npairs": 3, "gamma": 0.5}])


def test_directional_sectors_and_partition(spark):
    """Hand-placed pairs classify into the right axial sectors; per bin
    the four sectors PARTITION the omnidirectional pairs (npairs sums
    match and the pair-weighted gammas recombine)."""
    from geostatssolvers_jl_spark.variography import (
        directional_variogram_sql,
    )

    # one center point + 4 satellites at axial/diagonal offsets
    pts = pd.DataFrame({
        "data_id": [0, 1, 2, 3, 4, 5],
        "x": [0.0, 3.0, 0.0, 2.0, -2.0, 10.0],
        "y": [0.0, 0.0, 3.0, 2.0, 2.0, 0.4],
        "z": [0.0, 2.0, 4.0, 6.0, 8.0, 0.0],
    })
    con = _duck(pts)
    d = con.sql(directional_variogram_sql("pts", 5.0, 1, tiled=False)
                + " ORDER BY sector").df()
    by = d.set_index("sector")
    # (0,1): ddy=0 → EW; (0,2): ddx=0 → NS; (0,3): 45° +slope → NE;
    # (0,4): 45° −slope → NW; (1,5) is nearly axial (dy/dx=0.057) → EW
    assert set(by.index) == {"EW", "NE", "NS", "NW"}

    # partition property on a random cloud
    pts = _rand_pts(19, 300, span=(-40.0, 40.0))
    con = _duck(pts)
    omni = con.sql(empirical_variogram_sql("pts", 20.0, 8, tiled=False)
                   + " ORDER BY bin").df().set_index("bin")
    sect = con.sql(directional_variogram_sql("pts", 20.0, 8, tiled=False)
                   ).df()
    grp = sect.groupby("bin")
    assert (grp.npairs.sum() == omni.npairs).all()
    recomb = grp.apply(
        lambda g: (g.gamma * g.npairs).sum() / g.npairs.sum(),
        include_groups=False)
    assert np.allclose(recomb, omni.gamma, atol=1e-5)

    # spark == duckdb on the same SQL (tiled form)
    sql = directional_variogram_sql("pts", 20.0, 8, tiled=True)
    spark.createDataFrame(pts).createOrReplaceTempView("pts")
    a = spark.sql(sql + " ORDER BY sector, bin").toPandas()
    b = con.sql(sql + " ORDER BY sector, bin").df()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    spark.catalog.dropTempView("pts")


def test_directional_detects_anisotropy():
    """A field varying only in x: γ_EW sees the full structure while
    γ_NS stays near zero — the diagnostic the operator exists for."""
    from geostatssolvers_jl_spark.variography import (
        directional_variogram_sql,
    )

    rng = np.random.default_rng(29)
    n = 600
    x = rng.uniform(0, 200, n)
    y = rng.uniform(0, 200, n)
    pts = pd.DataFrame({
        "data_id": np.arange(n), "x": x, "y": y,
        "z": np.sin(x / 10.0),
    })
    con = _duck(pts)
    d = con.sql(directional_variogram_sql("pts", 30.0, 6, tiled=False)
                ).df()
    g = d.groupby("sector").apply(
        lambda s: (s.gamma * s.npairs).sum() / s.npairs.sum(),
        include_groups=False)
    assert g["EW"] > 10.0 * g["NS"], dict(g)


# ----------------------------------------------------------------- fitting


@pytest.mark.parametrize("true", [
    SphericalVariogram(range=40.0, sill=5.0, nugget=1.0),
    ExponentialVariogram(range=25.0, sill=2.0, nugget=0.0),
    GaussianVariogram(range=55.0, sill=3.0, nugget=0.5),
])
def test_fit_recovers_known_model(true):
    """γ generated FROM a model → numpy fit recovers (model, range,
    sill, nugget) essentially exactly; the SQL grid fit picks the same
    model with the nearest grid range."""
    lags = (np.arange(12) + 0.5) * 6.0
    emp = pd.DataFrame({"lag": lags, "npairs": np.full(12, 500),
                        "gamma": true.gamma(lags)})
    fitted = fit_variogram(emp.to_dict("records"))
    assert type(fitted) is type(true)
    assert abs(fitted.range - true.range) < 0.05 * true.range
    assert abs(fitted.sill - true.sill) < 0.02 * true.sill
    assert abs(fitted.nugget - true.nugget) < 0.05 * true.sill

    con = duckdb.connect()
    con.register("emp", emp)
    ranges = tuple(float(r) for r in np.geomspace(5, 150, 24))
    row = con.sql(fit_variogram_sql("emp", ranges)).df().iloc[0]
    assert row["model"] == type(true).__name__.replace(
        "Variogram", "").lower()
    # grid granularity: nearest geomspace knot is within one step
    step = (150.0 / 5.0) ** (1.0 / 23.0)
    assert row["range"] / true.range < step * 1.01
    assert true.range / row["range"] < step * 1.01


def test_fit_sql_spark_duckdb_parity(spark):
    """Grid fit: identical single row from both engines on a noisy
    empirical table (exercises the clamp branches deterministically)."""
    rng = np.random.default_rng(5)
    true = SphericalVariogram(range=30.0, sill=4.0, nugget=0.5)
    lags = (np.arange(10) + 0.5) * 5.0
    emp = pd.DataFrame({
        "lag": lags,
        "npairs": rng.integers(50, 500, 10),
        "gamma": true.gamma(lags) * rng.uniform(0.9, 1.1, 10),
    })
    ranges = tuple(float(r) for r in np.geomspace(4, 120, 16))
    sql = fit_variogram_sql("emp", ranges)
    con = duckdb.connect()
    con.register("emp", emp)
    spark.createDataFrame(emp).createOrReplaceTempView("emp")
    a = spark.sql(sql).toPandas()
    b = con.sql(sql).df()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    spark.catalog.dropTempView("emp")


def test_end_to_end_field_recovery(spark):
    """Simulated Gaussian field with a known variogram → empirical →
    fit recovers the range within estimation tolerance — the full
    data-to-model front end over a genuinely spatial input."""
    from geostatssolvers_jl_spark.grid import CartesianGrid
    from geostatssolvers_jl_spark.simulation.fftgs import solve_fftgs

    true = GaussianVariogram(range=12.0, sill=1.0, nugget=0.0)
    grid = CartesianGrid((64, 64), (0.0, 0.0), (1.0, 1.0))
    sol = solve_fftgs(spark, grid, nreals=1, variogram=true, seed=42)
    pdf = sol.toPandas()
    cells = grid.centroids_np(pdf["cell_id"].to_numpy(np.int64))
    pts = pd.DataFrame({
        "data_id": pdf["cell_id"].to_numpy(np.int64),
        "x": cells[:, 0], "y": cells[:, 1],
        "z": pdf["z"].to_numpy(),
    })
    # subsample for pair-count sanity (4096 points → 8.4M pairs brute;
    # tiled at maxlag 20 keeps ~1/10 of that)
    pts = pts.iloc[::3].reset_index(drop=True)
    sdf = spark.createDataFrame(pts)
    emp = empirical_variogram(spark, sdf, maxlag=24.0, nlags=12)
    fitted = fit_variogram(emp)
    # one realization of a 64² field: generous but meaningful bounds —
    # a white-noise fit would pick the smallest ranges and near-zero
    # structure, a wrong-family fit distorts range by >2×
    assert 6.0 < fitted.range < 24.0, fitted
    assert 0.5 < fitted.sill < 2.0, fitted


def test_fitted_model_feeds_kriging(spark, data2d_3pt):
    """The front end's output plugs straight into the existing solver
    surface (exact interpolation at a data location still holds)."""
    from geostatssolvers_jl_spark.grid import CartesianGrid
    from geostatssolvers_jl_spark.operators.kriging import (
        KrigingModel,
        solve_kriging,
    )

    true = SphericalVariogram(range=35.0, sill=1.5, nugget=0.0)
    lags = (np.arange(10) + 0.5) * 5.0
    emp = pd.DataFrame({"lag": lags, "npairs": np.full(10, 200),
                        "gamma": true.gamma(lags)})
    fitted = fit_variogram(emp.to_dict("records"))
    assert isinstance(fitted, SphericalVariogram)

    grid = CartesianGrid((2, 2), (0.0, 0.0), (50.0, 50.0))
    sol = solve_kriging(
        data2d_3pt, grid.spark_df(spark), var="z",
        model=KrigingModel(variogram=fitted), strategy="global",
    ).toPandas().set_index("cell_id")
    # cell 0 centroid (25, 25) coincides with data point z=1.0
    assert abs(sol.loc[0, "z"] - 1.0) < 1e-9
    assert abs(sol.loc[0, "z_variance"]) < 1e-9


# --------------------------------------------------------------- transforms


def test_phi_inv_known_quantiles():
    known = {0.5: 0.0, 0.975: 1.959963984540054,
             0.025: -1.959963984540054, 0.999: 3.090232306167813,
             0.001: -3.090232306167813, 0.9: 1.2815515655446004}
    for u, x in known.items():
        assert abs(phi_inv_np(np.array([u]))[0] - x) < 2e-8, u


def test_nscore_parity_ties_roundtrip(spark):
    """Forward transform: engines agree exactly; ties get deterministic
    distinct scores; scores are standard-normal-ish; back-transform at
    the anchors is the identity."""
    rng = np.random.default_rng(13)
    n = 400
    pts = pd.DataFrame({
        "data_id": np.arange(n),
        "z": np.concatenate([rng.integers(0, 60, n - 8),
                             np.full(8, 30)]).astype(float),
    })
    sdf = spark.createDataFrame(pts)
    out = nscore(spark, sdf).toPandas() \
        .sort_values("data_id").reset_index(drop=True)
    con = duckdb.connect()
    con.register("pts", pts)
    ref = con.sql(nscore_sql("pts") + " ORDER BY data_id").df()
    pd.testing.assert_frame_equal(out, ref, check_dtype=False)

    # deterministic distinct scores for tied values, ordered by id
    tied = out[out.z == 30.0].sort_values("data_id")
    assert tied.y.is_unique and tied.y.is_monotonic_increasing
    # standard-normal moments (rank transform of n=400)
    assert abs(out.y.mean()) < 0.01
    assert abs(out.y.std() - 1.0) < 0.01
    # monotone wrt z
    s = out.sort_values(["z", "data_id"])
    assert s.y.is_monotonic_increasing

    back = nscore_back_np(out.y.to_numpy(), out.z.to_numpy(),
                          out.y.to_numpy())
    assert np.allclose(back, out.z.to_numpy(), atol=1e-12)


def test_nscore_bucketed_equals_global(spark):
    """The distributed two-pass rank (bucket histogram + offsets +
    per-bucket window) produces the IDENTICAL total order — including
    ties inside one bucket and values straddling bucket edges — and the
    Spark plan partitions the sort by bucket (no single-partition
    global window)."""
    rng = np.random.default_rng(17)
    n = 500
    pts = pd.DataFrame({
        "data_id": np.arange(n),
        "z": np.concatenate([
            rng.uniform(-40.0, 40.0, n - 10),
            np.full(6, 10.0),          # tie atom inside a bucket
            np.array([20.0, 20.0, -20.0, 0.0]),  # exact bucket edges
        ]),
    })
    con = duckdb.connect()
    con.register("pts", pts)
    g = con.sql(nscore_sql("pts") + " ORDER BY data_id").df()
    for width in (5.0, 7.3, 1000.0):  # incl. one-bucket degenerate
        b = con.sql(nscore_sql("pts", bucket_width=width)
                    + " ORDER BY data_id").df()
        pd.testing.assert_frame_equal(b, g)

    sdf = spark.createDataFrame(pts)
    out = nscore(spark, sdf, bucket_width=5.0).toPandas() \
        .sort_values("data_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(out, g, check_dtype=False)

    sdf.createOrReplaceTempView("pts")
    plan = spark.sql(
        nscore_sql("pts", bucket_width=5.0))._jdf.queryExecution() \
        .executedPlan().toString()
    # the row_number window must be keyed by the bucket column — its
    # windowspecdefinition leads with bkt (the global form's spec has
    # only the ordering columns and moves ALL rows to one partition)
    assert "windowspecdefinition(bkt" in plan, plan
    spark.catalog.dropTempView("pts")

    with pytest.raises(ValueError, match="bucket_width"):
        nscore_sql("pts", bucket_width=0.0)


def test_indicator_variogram(spark):
    """γ_I of 1(z ≤ t): hand fixture (dz² ∈ {0,1} → exact halves), plus
    the sill sanity p(1−p) on a random cloud at far lags."""
    from geostatssolvers_jl_spark.variography import (
        indicator_variogram_sql,
    )

    pts = pd.DataFrame({
        "data_id": [0, 1, 2],
        "x": [0.0, 1.0, 3.0], "y": [0.0, 0.0, 0.0],
        "z": [10.0, 14.0, 8.0],
    })
    con = _duck(pts)
    # t=10: indicators (1, 0, 1); pairs (0,1) dz²=1, (1,2) dz²=1,
    # (0,2) dz²=0 → γ_I = 0.5, 0.5, 0.0
    out = con.sql(indicator_variogram_sql("pts", 10.0, 4.0, 4,
                                          tiled=False)
                  + " ORDER BY bin").df()
    assert out.gamma.tolist() == [0.5, 0.5, 0.0]

    pts = _rand_pts(37, 400)
    con = _duck(pts)
    med = float(pts.z.median())
    sql = indicator_variogram_sql("pts", med, 60.0, 6, tiled=True)
    d = con.sql(sql + " ORDER BY bin").df()
    # uncorrelated values: γ_I(h) ≈ p(1−p) ≈ 0.25 at the median cut
    assert all(abs(g - 0.25) < 0.05 for g in d.gamma), d.gamma.tolist()
    spark.createDataFrame(pts).createOrReplaceTempView("pts")
    a = spark.sql(sql + " ORDER BY bin").toPandas()
    pd.testing.assert_frame_equal(a, d, check_dtype=False)
    spark.catalog.dropTempView("pts")


def test_nscore_sgs_backtransform_workflow(spark):
    """The classic simulation workflow: nscore the (skewed) data →
    condition SGS in Gaussian space → back-transform realizations —
    hard data must round-trip exactly through the whole loop and
    back-transformed values must live in the original units' range."""
    from geostatssolvers_jl_spark.grid import CartesianGrid
    from geostatssolvers_jl_spark.simulation.seqsim import (
        SGSParams,
        solve_sgs,
    )
    from geostatssolvers_jl_spark.transforms import nscore, nscore_back_np

    rng = np.random.default_rng(41)
    n = 40
    # one point per cell by construction (collision-free conditioning)
    picks = rng.choice(28 * 28, size=n, replace=False)
    raw = pd.DataFrame({
        "data_id": np.arange(n),
        "x": (picks % 28 + 2) + 0.5,
        "y": (picks // 28 + 2) + 0.5,
        "z": np.exp(rng.normal(2.0, 0.8, n)),   # lognormal (skewed)
    })
    sdf = spark.createDataFrame(raw)
    ns = nscore(spark, sdf).toPandas()
    scored = raw.merge(ns[["data_id", "y"]].rename(columns={"y": "g"}),
                       on="data_id")
    gdata = spark.createDataFrame(
        scored[["data_id", "x", "y", "z", "g"]]
        .rename(columns={"z": "orig", "g": "z"}))

    grid = CartesianGrid((32, 32), (0.0, 0.0), (1.0, 1.0))
    sol = solve_sgs(
        spark, grid, nreals=2,
        params=SGSParams(variogram=GaussianVariogram(range=6.0)),
        data=gdata.select("data_id", "x", "y", "z"),
        data_coord_cols=["x", "y"], seed=7,
    ).toPandas()

    back = nscore_back_np(sol["z"].to_numpy(),
                          scored["z"].to_numpy(), scored["g"].to_numpy())
    assert back.min() >= scored.z.min() - 1e-9   # tails clamp
    assert back.max() <= scored.z.max() + 1e-9
    # conditioning: the snapped hard cells carry the exact Gaussian
    # value, so the back-transform returns the exact original z there
    xy = scored[["x", "y"]].to_numpy()
    ix = np.clip(np.floor(xy[:, 0]).astype(int), 0, 31)
    iy = np.clip(np.floor(xy[:, 1]).astype(int), 0, 31)
    cells = ix + 32 * iy
    sol_map = sol[sol.real_id == 0].set_index("cell_id")["z"]
    for i, r in scored.reset_index(drop=True).iterrows():
        zc = nscore_back_np(np.array([sol_map.loc[int(cells[i])]]),
                            scored["z"].to_numpy(),
                            scored["g"].to_numpy())[0]
        assert abs(zc - r.z) < 1e-6, (r.data_id, zc, r.z)


def test_nscore_null_values_excluded_both_forms(spark):
    """NULL values are excluded from the transform in BOTH rank forms
    (regression: the bucketed form used to drop NULL rows from the
    output while still counting them in the rank denominator n, and
    the global form fabricated a score at an engine-dependent NULL
    sort end)."""
    pts = pd.DataFrame({
        "data_id": [0, 1, 2, 3],
        "z": [1.0, 2.0, np.nan, 4.0],
    })
    con = duckdb.connect()
    con.register("pts", pts)
    g = con.sql(nscore_sql("pts") + " ORDER BY data_id").df()
    b = con.sql(nscore_sql("pts", bucket_width=5.0)
                + " ORDER BY data_id").df()
    pd.testing.assert_frame_equal(b, g)
    assert g.data_id.tolist() == [0, 1, 3]
    # denominator counts only the 3 non-NULL rows: u = (rk - .5)/3
    assert np.allclose(sorted(g.u), [0.5 / 3, 1.5 / 3, 2.5 / 3],
                       atol=1e-6)


def test_directional_error_messages():
    from geostatssolvers_jl_spark.variography import (
        directional_variogram_sql,
    )

    with pytest.raises(ValueError, match="directional_variogram: max"):
        directional_variogram_sql("pts", 0.0, 5)


def test_decluster_hand_fixture(spark):
    """5 points, 2 occupied cells (4+1): w = n/(m·c) = 5/(2·4), 5/(2·1);
    declustered mean de-weights the cluster."""
    pts = pd.DataFrame({
        "data_id": [0, 1, 2, 3, 4],
        # four clustered points in one res-2 cell, one isolated
        "lon": [10.0, 10.2, 10.4, 10.6, -120.0],
        "lat": [10.0, 10.2, 10.4, 10.6, -45.0],
        "z": [100.0, 100.0, 100.0, 100.0, 0.0],
    })
    con = duckdb.connect()
    con.register("pts", pts)
    w = con.sql(decluster_weights_sql("pts", 2) + " ORDER BY data_id").df()
    assert np.allclose(w.w[:4], 5.0 / 8.0)
    assert np.isclose(w.w[4], 2.5)
    m = con.sql(declustered_mean_sql("pts", 2)).df().iloc[0]
    assert m["naive_mean"] == 80.0
    assert m["declustered_mean"] == 50.0  # equal cell weight: (100+0)/2

    spark.createDataFrame(pts).createOrReplaceTempView("pts")
    a = spark.sql(decluster_weights_sql("pts", 2) + " ORDER BY data_id") \
        .toPandas()
    pd.testing.assert_frame_equal(a, w, check_dtype=False)
    spark.catalog.dropTempView("pts")


def test_cross_variogram_hand_computed():
    """3 collinear points, one pair per bin — γ̂₁₂ matches hand
    arithmetic, including a negative cross moment."""
    from geostatssolvers_jl_spark.variography import cross_variogram_sql

    pts = pd.DataFrame({
        "data_id": [0, 1, 2],
        "x": [0.0, 1.0, 3.0], "y": [0.0, 0.0, 0.0],
        "z": [10.0, 14.0, 8.0],
        "z2": [5.0, 3.0, 9.0],
    })
    # pairs: (0,1) h=1 dz=-4 dz2=2 → -8/2; (1,2) h=2 dz=6 dz2=-6 →
    # -36/2; (0,2) h=3 dz=2 dz2=-4 → -8/2
    con = _duck(pts)
    out = con.sql(
        cross_variogram_sql("pts", maxlag=4.0, nlags=4, tiled=False)
        + " ORDER BY bin").df()
    assert out.bin.tolist() == [1, 2, 3]
    assert out.npairs.tolist() == [1, 1, 1]
    assert out.gamma_cross.tolist() == [-4.0, -18.0, -4.0]


def test_cross_variogram_self_equals_empirical_and_symmetry(spark):
    """γ₁₂ of a variable with itself IS the ordinary variogram, and the
    estimator is symmetric in (z, z2); tiled form equals brute."""
    from geostatssolvers_jl_spark.variography import cross_variogram_sql

    pts = _rand_pts(7, 400, span=(-60.0, 60.0))
    pts["z2"] = pts["z"]
    con = _duck(pts)
    self_cross = con.sql(cross_variogram_sql("pts", 25.0, 10, tiled=True)
                         + " ORDER BY bin").df()
    emp = con.sql(empirical_variogram_sql("pts", 25.0, 10, tiled=True)
                  + " ORDER BY bin").df()
    assert self_cross.gamma_cross.tolist() == emp.gamma.tolist()

    rng = np.random.default_rng(11)
    pts["z2"] = np.floor(rng.normal(0, 10, len(pts)))
    con2 = _duck(pts)
    a = con2.sql(cross_variogram_sql("pts", 25.0, 10, tiled=True)
                 + " ORDER BY bin").df()
    b = con2.sql(cross_variogram_sql(
        "pts", 25.0, 10, tiled=False, val_col="z2", val2_col="z")
        + " ORDER BY bin").df()
    pd.testing.assert_frame_equal(a, b)

    spark.createDataFrame(pts).createOrReplaceTempView("xpts")
    s = spark.sql(cross_variogram_sql("xpts", 25.0, 10, tiled=True)
                  + " ORDER BY bin").toPandas()
    pd.testing.assert_frame_equal(s, a, check_dtype=False)
    spark.catalog.dropTempView("xpts")


def test_cross_variogram_validation():
    from geostatssolvers_jl_spark.variography import cross_variogram_sql

    with pytest.raises(ValueError, match="nlags"):
        cross_variogram_sql("pts", 10.0, 0)
    with pytest.raises(ValueError, match="maxlag"):
        cross_variogram_sql("pts", 0.0)


def test_robust_variogram_outlier_resistance():
    """One corrupted datum (z ← z + 1000σ): Matheron's γ̂ explodes in
    every bin touching it, Cressie–Hawkins and the madogram stay near
    the clean-field values (the point of the robust estimators)."""
    from geostatssolvers_jl_spark.variography import robust_variogram_sql

    pts = _rand_pts(13, 300, span=(0.0, 100.0))
    clean_con = _duck(pts)
    clean = clean_con.sql(
        robust_variogram_sql("pts", 25.0, 5, tiled=False)
        + " ORDER BY bin").df()
    dirty = pts.copy()
    dirty.loc[0, "z"] = dirty["z"].std() * 1000.0
    dirty_con = _duck(dirty)
    d_ch = dirty_con.sql(
        robust_variogram_sql("pts", 25.0, 5, tiled=False)
        + " ORDER BY bin").df()
    d_mat = dirty_con.sql(
        empirical_variogram_sql("pts", 25.0, 5, tiled=False)
        + " ORDER BY bin").df()
    c_mat = clean_con.sql(
        empirical_variogram_sql("pts", 25.0, 5, tiled=False)
        + " ORDER BY bin").df()
    # Matheron inflates by orders of magnitude, CH stays within ~3x
    assert (d_mat.gamma / c_mat.gamma).max() > 100
    assert (d_ch.gamma_r / clean.gamma_r).max() < 3.0


def test_robust_variogram_parity_and_estimators(spark):
    """Tiled ≡ brute for both robust estimators; Spark ≡ DuckDB; the
    madogram of |dz| constant-2 data is exactly 1."""
    from geostatssolvers_jl_spark.variography import robust_variogram_sql

    pts = _rand_pts(17, 300, span=(-50.0, 50.0))
    con = _duck(pts)
    for est in ("cressie", "madogram"):
        t = con.sql(robust_variogram_sql("pts", 25.0, 8, tiled=True,
                                         estimator=est)
                    + " ORDER BY bin").df()
        b = con.sql(robust_variogram_sql("pts", 25.0, 8, tiled=False,
                                         estimator=est)
                    + " ORDER BY bin").df()
        pd.testing.assert_frame_equal(t, b)
    spark.createDataFrame(pts).createOrReplaceTempView("rpts")
    s = spark.sql(robust_variogram_sql("rpts", 25.0, 8, tiled=True)
                  + " ORDER BY bin").toPandas()
    d = con.sql(robust_variogram_sql("pts", 25.0, 8, tiled=True)
                + " ORDER BY bin").df()
    pd.testing.assert_frame_equal(s, d, check_dtype=False)
    spark.catalog.dropTempView("rpts")
    # alternating ±1 field on a line: every |dz| ∈ {0, 2}
    alt = pd.DataFrame({
        "data_id": range(8),
        "x": [float(i) for i in range(8)], "y": [0.0] * 8,
        "z": [1.0 if i % 2 == 0 else -1.0 for i in range(8)],
    })
    acon = _duck(alt)
    mado = acon.sql(robust_variogram_sql("pts", 1.5, 1, tiled=False,
                                         estimator="madogram")).df()
    assert mado.gamma_r.tolist() == [1.0]  # mean|dz|/2 = 2/2


def test_robust_variogram_validation():
    from geostatssolvers_jl_spark.variography import robust_variogram_sql

    with pytest.raises(ValueError, match="unknown robust"):
        robust_variogram_sql("pts", 10.0, 5, estimator="tukey")
    with pytest.raises(ValueError, match="nlags"):
        robust_variogram_sql("pts", 10.0, 0)
