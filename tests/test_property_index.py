"""Property-based exactness: the certified bucket index must equal brute
force on ARBITRARY point clouds — including polar clusters, antimeridian
wraps, duplicate coordinates, and degenerate (collinear/single-point)
configurations that example-based tests never stumble into."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from geostatssolvers_jl_spark.bucket_index import BucketIndex
from geostatssolvers_jl_spark.distances import Euclidean, Haversine
from geostatssolvers_jl_spark.neighbors import topk_search

@st.composite
def point_cloud(draw):
    n = draw(st.integers(8, 120))
    mode = draw(st.sampled_from(["global", "polar", "wrap", "cluster"]))
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    if mode == "global":
        lon = rng.uniform(-180, 180, n)
        lat = rng.uniform(-90, 90, n)
    elif mode == "polar":
        lon = rng.uniform(-180, 180, n)
        lat = rng.uniform(82, 90, n) * rng.choice([-1, 1], n)
    elif mode == "wrap":
        lon = np.where(rng.random(n) < 0.5,
                       rng.uniform(-180, -172, n), rng.uniform(172, 180, n))
        lat = rng.uniform(-60, 60, n)
    else:  # tight duplicate-heavy cluster
        lon = np.round(rng.uniform(9, 11, n), 1)
        lat = np.round(rng.uniform(44, 46, n), 1)
    return np.column_stack([lon, lat])


@settings(max_examples=60, deadline=None)
@given(pts=point_cloud(), qseed=st.integers(0, 2**31),
       k=st.integers(1, 9),
       use_radius=st.booleans())
def test_bucket_index_equals_brute_haversine(pts, qseed, k, use_radius):
    rng = np.random.default_rng(qseed)
    nq = 20
    q = np.column_stack([
        rng.uniform(-180, 180, nq), rng.uniform(-90, 90, nq)
    ])
    metric = Haversine(6371.0)
    radius = 3000.0 if use_radius else None
    idx = BucketIndex(pts, metric, target=4)
    ai, ad, an = idx.topk(q, k, radius)
    bi, bd, bn = topk_search(q, pts, k, metric, radius)
    assert np.array_equal(ai, bi)
    assert np.allclose(ad, bd, equal_nan=True) or np.array_equal(ad, bd)
    assert np.array_equal(an, bn)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31), k=st.integers(1, 7),
       use_radius=st.booleans())
def test_bucket_index_equals_brute_euclidean(seed, k, use_radius):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(8, 150))
    pts = np.round(rng.normal(0, 50, size=(n, 2)), 1)  # duplicate-friendly
    q = rng.normal(0, 60, size=(25, 2))
    metric = Euclidean()
    radius = 40.0 if use_radius else None
    idx = BucketIndex(pts, metric, target=4)
    ai, ad, an = idx.topk(q, k, radius)
    bi, bd, bn = topk_search(q, pts, k, metric, radius)
    assert np.array_equal(ai, bi)
    # distances too (the Haversine twin checks them; a wrong-distance-
    # right-index bug would otherwise pass the Euclidean suite)
    assert np.allclose(ad, bd, equal_nan=True) or np.array_equal(ad, bd)
    assert np.array_equal(an, bn)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31), k=st.integers(1, 7),
       rx=st.floats(0.2, 8.0, allow_nan=False),
       ry=st.floats(0.2, 8.0, allow_nan=False))
def test_bucket_index_equals_brute_anisotropic(seed, k, rx, ry):
    """Anisotropic: bucket geometry and boundary margins must live in the
    SCALED space (raw margins over-certify for radii > 1)."""
    from geostatssolvers_jl_spark.distances import Anisotropic

    rng = np.random.default_rng(seed)
    n = int(rng.integers(8, 120))
    pts = np.round(rng.normal(0, 30, size=(n, 2)), 1)
    q = rng.normal(0, 40, size=(20, 2))
    metric = Anisotropic((rx, ry))
    idx = BucketIndex(pts, metric, target=4)
    ai, ad, an = idx.topk(q, k)
    bi, bd, bn = topk_search(q, pts, k, metric)
    assert np.array_equal(ai, bi)
    assert np.array_equal(an, bn)


@settings(max_examples=50, deadline=None)
@given(seed=st.integers(0, 2**31), res=st.sampled_from([3, 4, 5]))
def test_cell_mindist_bound_is_conservative(seed, res):
    """The bounded terminal's cell-pruning bound must NEVER exceed the
    true distance from a query to any point inside the cell (an
    over-estimate would prune a cell containing a true neighbor).
    Evaluated through DuckDB on the exact SQL text the engine emits."""
    import duckdb

    from geostatssolvers_jl_spark import tiling
    from geostatssolvers_jl_spark.neighbors import _cell_mindist_sql

    rng = np.random.default_rng(seed)
    metric = Haversine(6371.0)
    qlon = float(rng.uniform(-180, 180))
    qlat = float(rng.uniform(-90, 90))
    # random points; their cells define (query, cell) pairs to bound
    n = 60
    plon = rng.uniform(-180, 180, n)
    plat = rng.uniform(-90, 90, n)
    cells = tiling.cell_np(plon, plat, res)
    con = duckdb.connect()
    rows = ", ".join(
        f"({c}, {x!r}, {y!r})" for c, x, y in zip(cells, plon, plat)
    )
    mind = _cell_mindist_sql(res, metric).replace("_ccell", "c")
    got = con.execute(
        f"SELECT c, x, y, {mind} AS b FROM "
        f"(SELECT c, x, y, {qlon!r} AS _qlon, {qlat!r} AS _qlat "
        f"FROM (VALUES {rows}) _v(c, x, y)) _q"
    ).fetchall()
    true_d = metric.np(
        np.array([[qlon, qlat]]), np.column_stack([plon, plat])
    )[0]
    for (c, x, y, b), d in zip(got, true_d):
        assert b <= d + 1e-6, (c, x, y, b, d)


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31), res=st.sampled_from([2, 3, 4]),
       aniso=st.booleans())
def test_cell_mindist_bound_conservative_planar_outside_world(
    seed, res, aniso
):
    """Planar domains (e.g. a 0-100 fixture grid) may place points BEYOND
    the ±180/±90 world box; tiling clamps those into boundary cells, so a
    boundary cell contains points outside its raw rectangle — the bound
    must drop the world-boundary-side margins or it would over-estimate
    and prune a cell holding a true kth neighbor (r2 ADVICE finding)."""
    import duckdb

    from geostatssolvers_jl_spark import tiling
    from geostatssolvers_jl_spark.distances import Anisotropic
    from geostatssolvers_jl_spark.neighbors import _cell_mindist_sql

    rng = np.random.default_rng(seed)
    metric = (
        Anisotropic(
            (float(rng.uniform(0.3, 4.0)), float(rng.uniform(0.3, 4.0)))
        )
        if aniso
        else Euclidean()
    )
    qlon = float(rng.uniform(-400, 400))
    qlat = float(rng.uniform(-250, 250))
    n = 60
    plon = rng.uniform(-400, 400, n)
    plat = rng.uniform(-250, 250, n)
    cells = tiling.cell_np(plon, plat, res)
    con = duckdb.connect()
    rows = ", ".join(
        f"({c}, {x!r}, {y!r})" for c, x, y in zip(cells, plon, plat)
    )
    mind = _cell_mindist_sql(res, metric).replace("_ccell", "c")
    got = con.execute(
        f"SELECT c, x, y, {mind} AS b FROM "
        f"(SELECT c, x, y, {qlon!r} AS _qlon, {qlat!r} AS _qlat "
        f"FROM (VALUES {rows}) _v(c, x, y)) _q"
    ).fetchall()
    true_d = metric.np(
        np.array([[qlon, qlat]]), np.column_stack([plon, plat])
    )[0]
    for (c, x, y, b), d in zip(got, true_d):
        assert b <= d + 1e-9, (c, x, y, b, d)


def _naive_topk(q, d, k, metric, radius=None):
    """Pure-float64 reference: full pairwise + stable argsort."""
    D = metric.np(q, d)
    idx = np.full((len(q), k), -1, dtype=np.int64)
    dist = np.full((len(q), k), np.inf)
    for i in range(len(q)):
        row = D[i].copy()
        if radius is not None:
            row = np.where(row <= radius, row, np.inf)
        o = np.lexsort((np.arange(len(d)), row))[:k]
        keep = np.isfinite(row[o])
        idx[i, : keep.sum()] = o[keep]
        dist[i, : keep.sum()] = row[o][keep]
    return idx, dist


def test_topk_large_magnitude_coords_exact():
    """UTM-like 1e6-magnitude planar coords: the float32 surrogate key
    qn−2q·d+dn cancels catastrophically without centering (absolute noise
    ~‖q‖²·2⁻²⁴ ≫ the k+16 shortlist slack) — r3 review finding.  Both
    search paths must equal the pure-float64 reference exactly."""
    rng = np.random.default_rng(11)
    n = 3000  # above INDEX_THRESHOLD for the bucket path
    d = np.column_stack([
        rng.uniform(1e6, 1e6 + 2000, n), rng.uniform(5e6, 5e6 + 2000, n),
    ])
    q = np.column_stack([
        rng.uniform(1e6, 1e6 + 2000, 60), rng.uniform(5e6, 5e6 + 2000, 60),
    ])
    metric = Euclidean()
    wi, wd = _naive_topk(q, d, 8, metric)
    bi, bd, _ = topk_search(q, d, 8, metric)
    assert np.array_equal(bi, wi)
    ii, idd, _ = BucketIndex(d, metric, target=16).topk(q, 8)
    assert np.array_equal(ii, wi)


def test_topk_small_radius_keeps_in_radius_points():
    """Tight Haversine ball (6.4 km on a 6371 km sphere): the removed
    float32 radius pre-cut randomly hard-excluded points in a ~1 km band
    inside the radius (its 1e-9 slack was 20× below float32 key noise) —
    r3 review finding.  Every genuinely in-radius point must survive."""
    rng = np.random.default_rng(5)
    n = 400
    # a cluster ~0.1° wide: distances span 0–20 km
    d = np.column_stack([
        10.0 + rng.uniform(-0.1, 0.1, n), 45.0 + rng.uniform(-0.1, 0.1, n),
    ])
    q = np.column_stack([
        10.0 + rng.uniform(-0.05, 0.05, 30),
        45.0 + rng.uniform(-0.05, 0.05, 30),
    ])
    metric = Haversine(6371.0)
    radius = 6.4
    wi, wd = _naive_topk(q, d, 10, metric, radius)
    bi, bd, bn = topk_search(q, d, 10, metric, radius)
    assert np.array_equal(bi, wi)
    assert np.allclose(bd, wd, equal_nan=True) or np.array_equal(bd, wd)


def test_bucket_index_collinear_data_bounded():
    """Near-collinear data (a single-latitude transect): the bucket split
    must stay bounded instead of exploding one axis to millions of
    buckets.  Both grids keep the m/target budget: planar data buckets in
    2-D; sphere data buckets its 3-D unit vectors, where the transect is
    a circle and its constant-z axis gets a single bucket.  (World-spread
    sphere data rescales to ~target points per occupied bucket instead,
    capped at one bucket per data point.)"""
    rng = np.random.default_rng(3)
    n = 4096
    d = np.column_stack([
        rng.uniform(-180, 180, n), np.full(n, 37.5),
    ])
    q = np.column_stack([rng.uniform(-180, 180, 25), np.full(25, 37.2)])
    planar = BucketIndex(d, Euclidean(), target=32)
    assert planar.nb.size == 2
    assert np.prod(planar.nb) <= max(1, n // 32)
    sphere = BucketIndex(d, Haversine(6371.0), target=32)
    assert sphere.nb.size == 3 and sphere.nb[2] == 1
    assert np.prod(sphere.nb) <= max(1, n // 32)
    world = np.column_stack([rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)])
    assert np.prod(BucketIndex(world, Haversine(6371.0), target=32).nb) <= n
    for idx in (planar, sphere):
        ai, ad, _ = idx.topk(q, 5)
        bi, bd, _ = topk_search(q, d, 5, idx.metric)
        assert np.array_equal(ai, bi)


def test_bucket_index_rescale_follows_occupancy():
    """The one-shot rescale past the m/target budget is chosen by observed
    occupancy, not by dimension: sphere data spread over the globe fills
    more than π flat sheets of its 3-D grid and rescales; clustered or
    polar-cap sphere data, and planar clusters, keep the budget (finer
    buckets there slow the queries between the data)."""
    rng = np.random.default_rng(5)
    n = 8000
    budget = n // 32
    sphere = Haversine(6371.0)
    world = np.column_stack([rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)])
    assert np.prod(BucketIndex(world, sphere).nb) > budget
    cluster = np.column_stack([rng.normal(10, 5, n), rng.normal(45, 5, n)])
    caps = np.column_stack([rng.uniform(-180, 180, n),
                            rng.uniform(82, 90, n) * rng.choice([-1, 1], n)])
    for pts in (cluster, caps):
        assert np.prod(BucketIndex(pts, sphere).nb) <= budget
    planar = np.concatenate([rng.normal(c, 2, size=(n // 4, 2))
                             for c in [(10, 10), (80, 20), (50, 50), (20, 90)]])
    assert np.prod(BucketIndex(planar, Euclidean()).nb) <= budget


def test_tile_res_decode_exactness_bound():
    """res > 24 must be rejected: the shared-dialect SQL ty decode is a
    double floor-division, exact only while ty·2²⁹+tx fits 53 bits."""
    import pytest as _pytest

    from geostatssolvers_jl_spark import tiling

    assert tiling.nside(24) == 1 << 24
    with _pytest.raises(ValueError):
        tiling.nside(25)
