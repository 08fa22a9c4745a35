"""BucketIndex must agree EXACTLY with brute force — indices, distances,
valid counts — across metrics, radii, clustered/outside-bbox queries.
This is the certification-correctness harness for the scale-path search.
"""

from __future__ import annotations

import numpy as np
import pytest

from geostatssolvers_jl_spark import neighbors
from geostatssolvers_jl_spark.bucket_index import BucketIndex
from geostatssolvers_jl_spark.distances import Euclidean, Haversine
from geostatssolvers_jl_spark.neighbors import topk_search

CASES = [
    (5000, Haversine(6371.0), None, "world"),
    (5000, Euclidean(), None, "world"),
    (5000, Haversine(6371.0), 2000.0, "world"),
    (5000, Euclidean(), 30.0, "world"),
    (3000, Euclidean(), None, "outside"),
    (2500, Haversine(6371.0), None, "clustered"),
    (2500, Haversine(6371.0), 3000.0, "clustered"),
    (20000, Euclidean(), None, "world"),
    (20000, Haversine(6371.0), None, "world"),
]


@pytest.mark.parametrize("m,met,radius,qmode", CASES)
def test_bucket_equals_brute(m, met, radius, qmode):
    rng = np.random.default_rng(7)
    D = np.column_stack([rng.uniform(-170, 170, m), rng.uniform(-80, 80, m)])
    if qmode == "clustered":
        D = np.column_stack([rng.normal(10, 2, m), rng.normal(40, 1, m)])
    n = 2000
    Q = np.column_stack([rng.uniform(-180, 180, n), rng.uniform(-88, 88, n)])
    if qmode == "outside":
        Q = np.column_stack(
            [rng.uniform(200, 300, n // 2), rng.uniform(-200, -100, n // 2)]
        )
    bi = BucketIndex(D, met)
    i1, d1, n1 = bi.topk(Q, 8, radius)
    i2, d2, n2 = topk_search(Q, D, 8, met, radius)
    assert np.array_equal(i1, i2)
    assert np.array_equal(n1, n2)
    f1 = np.where(np.isfinite(d1), d1, -1.0)
    f2 = np.where(np.isfinite(d2), d2, -1.0)
    assert np.array_equal(f1, f2)  # bit-identical: same canonical formula


def test_duplicate_locations_tiebreak():
    """Mass duplicates at one location: lowest data positions win."""
    D = np.zeros((40, 2))
    D[30:] = [10.0, 10.0]
    Q = np.array([[0.1, 0.0]])
    bi = BucketIndex(D, Euclidean(), target=8)
    i1, d1, n1 = bi.topk(Q, 5)
    assert list(i1[0]) == [0, 1, 2, 3, 4]
    i2, d2, n2 = topk_search(Q, D, 5, Euclidean())
    assert np.array_equal(i1, i2)


def test_sphere_index_certifies_poles(monkeypatch):
    """The kriging bench shape: 20k points with |lat| ≤ 80 and a 1° world
    grid of queries, poles included.  Every query certifies inside a
    bucket window — none falls back to the full-cover brute search — and
    the result equals brute force exactly on every polar query (|lat| ≥
    80) and a sample of the rest.  (A lon/lat bucket grid bounds its lon
    edges by meridian circles, a bound that vanishes as cos φ → 0, so
    polar queries could only certify through brute force.)"""
    rng = np.random.default_rng(1)
    m = 20000
    D = np.column_stack([rng.uniform(-180, 180, m), rng.uniform(-80, 80, m)])
    lon, lat = np.meshgrid(np.arange(-180.0, 180.0), np.arange(-90.0, 91.0))
    Q = np.column_stack([lon.ravel(), lat.ravel()])
    met = Haversine(6371.0)

    brute_calls = []

    def counting(q, *a, **kw):
        brute_calls.append(len(q))
        return topk_search(q, *a, **kw)

    monkeypatch.setattr(neighbors, "topk_search", counting)
    i1, d1, n1 = BucketIndex(D, met).topk(Q, 8)
    assert brute_calls == []

    polar = np.abs(Q[:, 1]) >= 80
    sample = np.sort(np.concatenate([
        np.nonzero(polar)[0],
        rng.choice(np.nonzero(~polar)[0], 2000, replace=False),
    ]))
    i2, d2, n2 = topk_search(Q[sample], D, 8, met)
    assert np.array_equal(i1[sample], i2)
    assert np.array_equal(d1[sample], d2)
    assert np.array_equal(n1[sample], n2)
