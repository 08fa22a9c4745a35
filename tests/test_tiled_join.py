"""Big-big tiled kNN join: its rows must equal the exact kNN."""

from __future__ import annotations

import numpy as np
import pytest

from geostatssolvers_jl_spark.distances import Euclidean, Haversine
from geostatssolvers_jl_spark.neighbors import (
    collect_points,
    knn_join_tiled_exact,
    knn_pairs,
)


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(5)
    nd, nq = 3000, 400
    d = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-30, 30, nd), rng.uniform(-20, 20, nd)))],
        "data_id long, lon double, lat double",
    )
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-28, 28, nq), rng.uniform(-18, 18, nq)))],
        "cell_id long, lon double, lat double",
    )
    return d, q


def test_tiled_exact_equals_brute(spark, points):
    """The escalating tiled join must equal brute-force kNN row-for-row."""
    from geostatssolvers_jl_spark.neighbors import knn_join_tiled_exact

    d, q = points
    out = knn_join_tiled_exact(q, d, k=3, res=5, metric=Haversine(6371.0))
    got = {(r["cell_id"], r["rank"]): (r["data_id"], round(r["dist"], 9))
           for r in out.collect()}
    data = collect_points(d, ["lon", "lat"], [], id_col="data_id")
    exact = knn_pairs(q, data, ["lon", "lat"], k=3, metric=Haversine(6371.0),
                      id_col="cell_id").collect()
    want = {(r["cell_id"], r["rank"]): (r["data_id"], round(r["dist"], 9))
            for r in exact}
    assert got == want
    # data columns pass through; one named like an output column is refused
    with pytest.raises(ValueError, match="collide"):
        knn_join_tiled_exact(q, d.selectExpr("*", "1 AS rank"), k=3, res=5)


def test_tiled_exact_sparse_escalation(spark):
    """Sparse data forces escalation; results still exact."""
    import numpy as np

    from geostatssolvers_jl_spark.neighbors import knn_join_tiled_exact

    rng = np.random.default_rng(11)
    d = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-170, 170, 25), rng.uniform(-80, 80, 25)))],
        "data_id long, lon double, lat double",
    )
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-179, 179, 60), rng.uniform(-85, 85, 60)))],
        "cell_id long, lon double, lat double",
    )
    out = knn_join_tiled_exact(q, d, k=4, res=6, metric=Haversine(6371.0))
    data = collect_points(d, ["lon", "lat"], [], id_col="data_id")
    exact = knn_pairs(q, data, ["lon", "lat"], k=4, metric=Haversine(6371.0),
                      id_col="cell_id").collect()
    got = sorted((r["cell_id"], r["rank"], r["data_id"]) for r in out.collect())
    want = sorted((r["cell_id"], r["rank"], r["data_id"]) for r in exact)
    assert got == want


def test_tiled_polar_row_no_duplicate_ranks(spark):
    """ADVICE r1 repro: at res 4 a query in the top tile row (lat >= 78.75)
    used to receive halo-clamped duplicate candidates — one data_id at two
    ranks, true kth neighbor dropped.  Must now equal brute force."""
    from geostatssolvers_jl_spark.neighbors import knn_join_tiled_exact

    d = spark.createDataFrame(
        [(0, 9.0, 78.0), (1, 11.0, 80.0), (2, 10.5, 79.2), (3, 14.0, 79.5)],
        "data_id long, lon double, lat double",
    )
    q = spark.createDataFrame(
        [(0, 10.0, 79.0), (1, -170.0, 88.0)],
        "cell_id long, lon double, lat double",
    )
    out = knn_join_tiled_exact(q, d, k=3, res=4, metric=Haversine(6371.0))
    rows = out.collect()
    # no data_id may occupy two ranks of one query
    seen = {}
    for r in rows:
        key = (r["cell_id"], r["data_id"])
        assert key not in seen, f"duplicate candidate {key}"
        seen[key] = r["rank"]
    data = collect_points(d, ["lon", "lat"], [], id_col="data_id")
    exact = knn_pairs(q, data, ["lon", "lat"], k=3, metric=Haversine(6371.0),
                      id_col="cell_id").collect()
    got = sorted((r["cell_id"], r["rank"], r["data_id"]) for r in rows)
    want = sorted((r["cell_id"], r["rank"], r["data_id"]) for r in exact)
    assert got == want


def test_tiled_near_pole_certification_safe(spark):
    """ADVICE r1: queries above ~88.8° used to falsely certify through the
    planar cos(89°) clamp.  The meridian-great-circle bound must keep the
    join exact arbitrarily close to the pole."""
    from geostatssolvers_jl_spark.neighbors import knn_join_tiled_exact

    rng = np.random.default_rng(3)
    d = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-180, 180, 300), rng.uniform(85.0, 90.0, 300)))],
        "data_id long, lon double, lat double",
    )
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-180, 180, 80), rng.uniform(88.5, 90.0, 80)))],
        "cell_id long, lon double, lat double",
    )
    out = knn_join_tiled_exact(q, d, k=3, res=5, metric=Haversine(6371.0))
    got = sorted((r["cell_id"], r["rank"], r["data_id"])
                 for r in out.collect())
    data = collect_points(d, ["lon", "lat"], [], id_col="data_id")
    exact = knn_pairs(q, data, ["lon", "lat"], k=3, metric=Haversine(6371.0),
                      id_col="cell_id").collect()
    want = sorted((r["cell_id"], r["rank"], r["data_id"]) for r in exact)
    assert got == want


def test_tiled_exact_never_collects_data_side(spark, points, monkeypatch):
    """The escalation ladder must stay fully distributed: no driver-side
    collect of the data side at any stage (the r1 fallback broadcast the
    FULL data side — a 10^12-row story killer)."""
    import geostatssolvers_jl_spark.neighbors as nb

    def boom(*a, **kw):  # pragma: no cover - should never run
        raise AssertionError("collect_points called inside tiled-exact")

    monkeypatch.setattr(nb, "collect_points", boom)
    d, q = points
    out = nb.knn_join_tiled_exact(q, d, k=3, res=5, metric=Haversine(6371.0))
    assert out.count() == 1200  # 400 queries x k=3


def test_tiled_salted_topk_identical(spark, points):
    """Explicit hot-cell salting (two-stage top-k) must not change rows."""
    d, q = points
    base = knn_join_tiled_exact(q, d, k=3, res=5, metric=Haversine(6371.0))
    salted = knn_join_tiled_exact(q, d, k=3, res=5,
                                  metric=Haversine(6371.0), salt=4)
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b


def test_tiled_exact_anisotropic_metric(spark, points):
    """Anisotropic metric through the tiled path: guard margins must be
    axis-scaled (radii > 1 would otherwise over-certify); rows must equal
    brute force."""
    from geostatssolvers_jl_spark.distances import Anisotropic
    from geostatssolvers_jl_spark.neighbors import knn_join_tiled_exact

    d, q = points
    for radii in ((5.0, 2.0), (0.5, 1.5)):
        met = Anisotropic(radii)
        out = knn_join_tiled_exact(q, d, k=3, res=5, metric=met)
        got = sorted((r["cell_id"], r["rank"], r["data_id"])
                     for r in out.collect())
        data = collect_points(d, ["lon", "lat"], [], id_col="data_id")
        exact = knn_pairs(q, data, ["lon", "lat"], k=3, metric=met,
                          id_col="cell_id").collect()
        want = sorted((r["cell_id"], r["rank"], r["data_id"]) for r in exact)
        assert got == want, radii


def test_tiled_wraps_0_360_longitudes(spark):
    """0–360-convention data through the tiled join must return the SAME
    neighbors as the brute kNN (r4 review: out-of-range lons were CLAMPED
    into an edge cell, so antimeridian queries certified while missing
    their true nearest neighbor)."""
    from geostatssolvers_jl_spark.neighbors import knn_join_tiled_exact

    rows = []
    rng = np.random.default_rng(9)
    for i in range(300):
        lon = float(rng.uniform(0.0, 360.0))     # 0–360 convention
        rows.append((i, lon, float(rng.uniform(-30.0, 30.0))))
    d = spark.createDataFrame(rows, "data_id long, lon double, lat double")
    # queries in the standard convention, some right at the antimeridian
    q = spark.createDataFrame(
        [(0, -179.5, 0.0), (1, 179.5, 5.0), (2, 0.5, -10.0), (3, -90.0, 20.0)],
        "cell_id long, lon double, lat double",
    )
    out = knn_join_tiled_exact(q, d, k=3, res=4, metric=Haversine(6371.0))
    got = {(r["cell_id"], r["rank"]): (r["data_id"], round(r["dist"], 6))
           for r in out.collect()}
    # brute force via the broadcast search (haversine is periodic, so the
    # raw 0-360 lons give the true neighbors)
    from geostatssolvers_jl_spark.neighbors import search

    dd = collect_points(d, ["lon", "lat"], [], id_col="data_id")
    qq = collect_points(q, ["lon", "lat"], [], id_col="cell_id")
    idx, dist, _ = search(dd, qq.coords, 3, Haversine(6371.0), None)
    for qi in range(4):
        for r in range(3):
            did, dv = got[(qi, r + 1)]
            assert did == dd.ids[idx[qi, r]], (qi, r, got)
            assert dv == pytest.approx(dist[qi, r], abs=1e-6)


def _wrap_mirror(lon: np.ndarray) -> np.ndarray:
    """Exact numpy mirror of the `_wrap_lon` SQL expression (same
    row-conditional CASE, same double arithmetic)."""
    w = (((lon + 180.0) - np.floor((lon + 180.0) / 360.0) * 360.0)
         - 180.0)
    in_range = (lon >= -180.0) & (lon < 180.0)
    return np.where(in_range, lon, w)


def test_wrap_lon_property(spark):
    """Property-close the r4 antimeridian fix (VERDICT r4 item 8): for
    ARBITRARY longitudes across both conventions and extreme magnitudes,
    the wrap (a) leaves in-range values bit-identical, (b) maps
    out-of-range values into [-180, 180), and (c) preserves haversine
    distances to any reference point (periodicity) — checked with the
    engine's own Haversine at pole-edge latitudes."""
    from hypothesis import given, settings, strategies as st

    from geostatssolvers_jl_spark.distances import Euclidean, Haversine

    met = Haversine(6371.0)

    @settings(max_examples=200, deadline=None)
    @given(seed=st.integers(0, 2**31),
           mode=st.sampled_from(["std", "0_360", "huge", "edge"]))
    def inner(seed, mode):
        rng = np.random.default_rng(seed)
        n = 40
        if mode == "std":
            lon = rng.uniform(-180.0, 180.0, n)
        elif mode == "0_360":
            lon = rng.uniform(0.0, 360.0, n)
        elif mode == "huge":
            lon = rng.uniform(-1e6, 1e6, n)
        else:
            lon = rng.choice(
                [-180.0, 180.0, 179.9999999, -179.9999999, 360.0,
                 -360.0, 0.0, -0.0, 539.9999999, 540.0], n,
            )
        lat = rng.uniform(-90.0, 90.0, n)  # incl. pole edges
        w = _wrap_mirror(lon)
        in_range = (lon >= -180.0) & (lon < 180.0)
        # (a) bit-identity where in range
        assert np.array_equal(
            w[in_range].view(np.int64), lon[in_range].view(np.int64)
        )
        # (b) wrapped domain
        assert np.all((w >= -180.0) & (w < 180.0))
        # (c) haversine periodicity to a pole-edge reference point
        ref = np.array([[30.0, 89.9]])
        d0 = met.np(np.column_stack([lon, lat]), ref)
        d1 = met.np(np.column_stack([w, lat]), ref)
        assert np.allclose(d0, d1, atol=1e-6)

    inner()

    # the SQL expression must agree with the numpy mirror bit-for-bit on
    # an adversarial batch (engine-evaluated once, not per example)
    from geostatssolvers_jl_spark.neighbors import _wrap_lon

    rng = np.random.default_rng(5)
    lon = np.concatenate([
        rng.uniform(-180, 180, 50), rng.uniform(0, 360, 50),
        rng.uniform(-1e6, 1e6, 50),
        np.array([-180.0, 180.0, 360.0, -360.0, 0.0, -0.0]),
    ])
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(lon)], "i long, lon double"
    )
    out = _wrap_lon(df, "lon", Haversine(6371.0)).orderBy("i").collect()
    got = np.array([r["lon"] for r in out])
    want = _wrap_mirror(lon)
    assert np.array_equal(got.view(np.int64), want.view(np.int64))
    # planar metrics skip the wrap entirely (UTM magnitudes legitimate)
    assert _wrap_lon(df, "lon", Euclidean()) is df


@pytest.mark.parametrize("convention", ["std", "0_360"])
@pytest.mark.parametrize("metric_name", ["haversine", "euclidean"])
def test_tiled_pole_edge_conventions(spark, convention, metric_name):
    """Tiled join == brute force at pole-edge latitudes for every
    (longitude convention × metric) combination.  For the planar metric
    the '0-360' draw is simply a legitimate coordinate range (no wrap);
    for haversine it exercises the wrap at the poles where cells are
    narrowest."""
    from geostatssolvers_jl_spark.neighbors import (
        knn_join_tiled_exact, search,
    )

    met = Haversine(6371.0) if metric_name == "haversine" else Euclidean()
    rng = np.random.default_rng(17)
    lo, hi = (0.0, 360.0) if convention == "0_360" else (-180.0, 180.0)
    rows = []
    for i in range(250):
        lat = float(rng.uniform(85.0, 90.0) * rng.choice([-1.0, 1.0]))
        rows.append((i, float(rng.uniform(lo, hi)), lat))
    d = spark.createDataFrame(rows, "data_id long, lon double, lat double")
    q = spark.createDataFrame(
        [(0, -179.9, 89.9), (1, 179.9, 89.5), (2, 0.0, -89.9),
         (3, 90.0, -86.0)],
        "cell_id long, lon double, lat double",
    )
    out = knn_join_tiled_exact(q, d, k=3, res=4, metric=met)
    got = {(r["cell_id"], r["rank"]): (r["data_id"], round(r["dist"], 6))
           for r in out.collect()}
    dd = collect_points(d, ["lon", "lat"], [], id_col="data_id")
    qq = collect_points(q, ["lon", "lat"], [], id_col="cell_id")
    idx, dist, _ = search(dd, qq.coords, 3, met, None)
    for qi in range(4):
        for r in range(3):
            did, dv = got[(qi, r + 1)]
            assert did == dd.ids[idx[qi, r]], (qi, r, convention, metric_name)
            assert dv == pytest.approx(dist[qi, r], abs=1e-6)


def test_ring_expr_is_unique_chebyshev_disk(spark):
    """`tiling.ring_expr` holds exactly the cells within Chebyshev
    distance k, each once: lat rows off the world are dropped (polar rows
    ty = 0 and ty = n-1), lon wraps (tx = 0 and tx = n-1), and wrap
    collisions (2k+1 >= n) are removed."""
    from geostatssolvers_jl_spark import tiling

    ks = (1, 2, 4, 16)
    for res in (1, 2, 3, 6):
        n = 1 << res
        edge = sorted({0, n // 2, n - 1})
        rel = spark.createDataFrame(
            [(ty, tx, (res << 58) + (ty << 29) + tx)
             for ty in edge for tx in edge],
            "ty long, tx long, cell long",
        )
        rows = rel.selectExpr(
            "ty", "tx", *(f"{tiling.ring_expr('cell', res, k, k)} AS r{k}"
                          for k in ks),
        ).collect()
        assert len(rows) == len(edge) ** 2
        for row in rows:
            ty, tx = row["ty"], row["tx"]
            for k in ks:
                want = {
                    (res << 58) + (y << 29) + (x % n)
                    for y in range(ty - k, ty + k + 1) if 0 <= y < n
                    for x in range(tx - k, tx + k + 1)
                }
                got = row[f"r{k}"]
                assert len(got) == len(set(got)), (res, k, ty, tx)
                assert set(got) == want, (res, k, ty, tx)


@pytest.mark.parametrize("larger", ["data", "queries"])
def test_tiled_pass_plans_no_python(spark, points, larger):
    """The tiled join is one lazy plan: its cell pyramid, bound and
    query replication are JVM-side SQL (no Python stage), nothing in it
    is cached, and every join is an equi-join -- whichever side holds
    more rows, since the query side is always the one replicated."""
    d, q = points
    if larger == "queries":
        d, q = (q.withColumnRenamed("cell_id", "data_id"),
                d.withColumnRenamed("data_id", "cell_id"))
    out = knn_join_tiled_exact(q, d, k=3, res=5, metric=Haversine(6371.0))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "InMemory", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node
    assert "SortMergeJoin" in plan


def test_tiled_exact_call_starts_no_job(spark):
    """Building the join runs no Spark job: no count, no emptiness probe,
    no cache materialization.  The group is checked to catch jobs by
    running one action in it afterwards."""
    rng = np.random.default_rng(23)
    d = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-10, 10, 2000), rng.uniform(-10, 10, 2000)))],
        "data_id long, lon double, lat double",
    )
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-10, 10, 400), rng.uniform(-10, 10, 400)))],
        "cell_id long, lon double, lat double",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "knn-join-tiled-exact-lazy"
    sc.setJobGroup(group, "lazy plan check")
    try:
        out = knn_join_tiled_exact(q, d, k=3, res=5,
                                   metric=Haversine(6371.0))
        lazy = list(tracker.getJobIdsForGroup(group))
        assert out.count() == 1200
        ran = list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert lazy == []
    assert ran


def _brute_rows(d, q, k, met):
    data = collect_points(d, ["lon", "lat"], [], id_col="data_id")
    exact = knn_pairs(q, data, ["lon", "lat"], k=k, metric=met,
                      id_col="cell_id").collect()
    return sorted((r["cell_id"], r["rank"], r["data_id"]) for r in exact)


@pytest.mark.parametrize("metric_name", ["haversine", "euclidean"])
def test_tiled_exact_fewer_rows_than_k(spark, metric_name):
    """With fewer data rows than k no pyramid cell holds k rows: the
    bound is infinite, every query covers the whole world and gets every
    row, as brute force does."""
    met = Haversine(6371.0) if metric_name == "haversine" else Euclidean()
    d = spark.createDataFrame(
        [(0, 10.0, 20.0), (1, -150.0, -70.0)],
        "data_id long, lon double, lat double",
    )
    rng = np.random.default_rng(29)
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-180, 180, 30), rng.uniform(-90, 90, 30)))],
        "cell_id long, lon double, lat double",
    )
    out = knn_join_tiled_exact(q, d, k=3, res=5, metric=met)
    got = sorted((r["cell_id"], r["rank"], r["data_id"])
                 for r in out.collect())
    assert len(got) == 60
    assert got == _brute_rows(d, q, 3, met)


def test_tiled_exact_clustered_data_far_queries(spark):
    """Data in one 10° box, queries all over the sphere (poles
    included): far queries get wide bounds, so their rectangles span many
    columns or the full circle; rows must still equal brute force."""
    rng = np.random.default_rng(31)
    d = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(20, 30, 300), rng.uniform(40, 50, 300)))],
        "data_id long, lon double, lat double",
    )
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 54)))
    lat = np.concatenate([lat, [89.9, 87.0, 86.0, -86.0, -88.5, -89.99]])
    lon = rng.uniform(-180, 180, 60)
    q = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(lon, lat))],
        "cell_id long, lon double, lat double",
    )
    assert (np.abs(lat) > 85).sum() >= 6
    met = Haversine(6371.0)
    out = knn_join_tiled_exact(q, d, k=4, res=5, metric=met)
    got = sorted((r["cell_id"], r["rank"], r["data_id"])
                 for r in out.collect())
    assert got == _brute_rows(d, q, 4, met)
