"""Data-preparation transforms: normal-score transform + cell declustering.

Geostatistical practice around the reference's solvers (its SGS/LUGS
assume Gaussian fields — ``/root/reference/src/simulation/seq.jl``,
``src/simulation/lu.jl`` — and its estimation averages are sensitive to
preferential sampling) needs two standard preprocessing steps the
reference delegates to its wider ecosystem:

* **Normal-score transform** (GSLIB ``nscore``): rank-transform the data
  to standard-normal scores, y = Φ⁻¹((rank − 0.5)/n).  Φ⁻¹ is evaluated
  with Acklam's rational approximation (P. J. Acklam, 2003 — public,
  |rel err| < 1.15e-9), spelled as ONE shared-dialect SQL expression
  (pure arithmetic + sqrt/ln) so Spark and DuckDB produce identical
  scores; the rank is a window over (value, id) — deterministic under
  ties.  At scale this is one global sort (the unavoidable cost of a
  rank transform) + a codegen projection.
* **Cell declustering** (Deutsch & Journel, GSLIB ``declus``): weight
  w_i = n / (m · c_j) for a point in cell j with c_j points, m occupied
  cells, Σw = n — the standard correction for clustered/preferential
  sampling; the declustered mean Σ w z / n replaces the naive mean.
  One groupBy + one broadcast-joined count relation.

The back-transform (scores → original units) is driver-side numpy
interpolation over the bounded (z, y) anchor table — the standard GSLIB
table-lookup form.
"""

from __future__ import annotations

import numpy as np

from .session import sql_arg
from .tiling import cell_expr

# Acklam (2003) inverse-normal-CDF coefficients (public domain)
_A = (-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
_B = (-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
_C = (-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
_D = (7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
_P_LOW = 0.02425


def _horner(coeffs: tuple[float, ...], x: str) -> str:
    """((c0·x + c1)·x + …) — fully parenthesized, identical FP order in
    every engine."""
    expr = f"{coeffs[0]!r}"
    for c in coeffs[1:]:
        expr = f"({expr} * ({x}) + {c!r})"
    return expr


def phi_inv_sql(u: str) -> str:
    """Shared-dialect SQL for Φ⁻¹(u), u ∈ (0, 1) — Acklam's piecewise
    rational approximation.  ``u`` must be a simple column reference
    (it is substituted many times)."""
    qc = f"(({u}) - 0.5)"
    rc = f"({qc} * {qc})"
    central = (f"({_horner(_A, rc)} * {qc} / "
               f"({_horner(_B, rc)} * {rc} + 1.0))")
    qlo = f"sqrt(-2.0 * ln({u}))"
    lower = (f"({_horner(_C, qlo)} / ({_horner(_D, qlo)} * ({qlo}) + 1.0))")
    qhi = f"sqrt(-2.0 * ln(1.0 - ({u})))"
    upper = (f"(-({_horner(_C, qhi)} / "
             f"({_horner(_D, qhi)} * ({qhi}) + 1.0)))")
    return (f"CASE WHEN ({u}) < {_P_LOW!r} THEN {lower} "
            f"WHEN ({u}) > {1.0 - _P_LOW!r} THEN {upper} "
            f"ELSE {central} END")


def phi_inv_np(u: np.ndarray) -> np.ndarray:
    """Numpy twin of `phi_inv_sql` (same coefficients, same Horner
    order)."""
    u = np.asarray(u, dtype=np.float64)
    out = np.empty_like(u)

    def horner(cs, x):
        acc = np.full_like(x, cs[0])
        for c in cs[1:]:
            acc = acc * x + c
        return acc

    lo = u < _P_LOW
    hi = u > 1.0 - _P_LOW
    mid = ~(lo | hi)
    q = u[mid] - 0.5
    r = q * q
    out[mid] = horner(_A, r) * q / (horner(_B, r) * r + 1.0)
    ql = np.sqrt(-2.0 * np.log(u[lo]))
    out[lo] = horner(_C, ql) / (horner(_D, ql) * ql + 1.0)
    qh = np.sqrt(-2.0 * np.log(1.0 - u[hi]))
    out[hi] = -(horner(_C, qh) / (horner(_D, qh) * qh + 1.0))
    return out


def nscore_sql(points_rel: str, *, val_col: str = "z",
               id_col: str = "data_id", round_to: int = 6,
               bucket_width: float | None = None) -> str:
    """Shared-dialect SQL for the forward normal-score transform.

    Output: ``(data_id, z, u, y)`` — u = (rank − 0.5)/n with rank over
    (value, id) (deterministic tie-break, the GSLIB despike-by-order
    convention), y = Φ⁻¹(u).

    ``bucket_width=None`` computes the rank with one global window —
    correct but single-partition (the whole dataset sorts on one task).
    Passing a width switches to the DISTRIBUTED two-pass form: rows
    bucket by ``floor(z / width)``, a tiny per-bucket count relation
    yields cumulative offsets (window over #buckets rows, broadcast
    back), and the rank is offset + row_number within the bucket — the
    partition key is the bucket, so the sort shards across executors.
    Both forms produce the identical total order (ties broken by id).
    A single massive tie-value still lands in one bucket — callers
    with known heavy atoms should pre-split on (z, hash(id)) ranges.

    NULL values are EXCLUDED in both forms (a NULL has no rank; the
    P1 non-missing contract) — without the shared filter the bucketed
    form would silently drop NULL rows from the output while still
    counting them in the rank denominator, and the global form would
    fabricate a score at an engine-dependent NULLS FIRST/LAST end.
    """
    base = (f"SELECT {id_col} AS data_id, CAST({val_col} AS DOUBLE) AS z "
            f"FROM {points_rel} WHERE {val_col} IS NOT NULL")
    if bucket_width is None:
        return f"""
WITH _r AS (
  SELECT data_id, z,
         row_number() OVER (ORDER BY z, data_id) AS rk,
         count(*) OVER () AS n
  FROM ({base}) _b
), _u AS (
  SELECT data_id, z,
         (CAST(rk AS DOUBLE) - 0.5) / CAST(n AS DOUBLE) AS u
  FROM _r
)
SELECT data_id, z, round(u, {int(round_to)}) + 0.0 AS u,
       round({phi_inv_sql('u')}, {int(round_to)}) + 0.0 AS y
FROM _u"""
    w = float(bucket_width)
    if not w > 0.0:
        raise ValueError("nscore: bucket_width must be > 0")
    return f"""
WITH _b AS (
  SELECT data_id, z, CAST(floor(z / {w!r}) AS BIGINT) AS bkt
  FROM ({base}) _0
), _c AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS cnt FROM _b GROUP BY bkt
), _o AS (
  SELECT bkt,
         CAST(sum(cnt) OVER (ORDER BY bkt
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS off,
         CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM _c
), _r AS (
  SELECT b.data_id, b.z,
         coalesce(o.off, CAST(0 AS BIGINT))
           + row_number() OVER (PARTITION BY b.bkt
                                ORDER BY b.z, b.data_id) AS rk,
         o.n
  FROM _b b JOIN _o o ON b.bkt = o.bkt
), _u AS (
  SELECT data_id, z,
         (CAST(rk AS DOUBLE) - 0.5) / CAST(n AS DOUBLE) AS u
  FROM _r
)
SELECT data_id, z, round(u, {int(round_to)}) + 0.0 AS u,
       round({phi_inv_sql('u')}, {int(round_to)}) + 0.0 AS y
FROM _u"""


def nscore(spark, points_df, *, val_col: str = "z",
           id_col: str = "data_id", bucket_width: float | None = None):
    """Library wrapper: forward normal-score transform as a DataFrame."""
    return spark.sql(nscore_sql("{pts}", val_col=val_col, id_col=id_col,
                                bucket_width=bucket_width),
                     pts=sql_arg(points_df))


def nscore_back_np(y_new: np.ndarray, z_anchor: np.ndarray,
                   y_anchor: np.ndarray) -> np.ndarray:
    """Back-transform scores to original units by piecewise-linear
    interpolation over the (z, y) anchor table from the forward
    transform (GSLIB table-lookup; tails clamp to the data extremes).
    The anchor table is data-sized — callers at scale pass a quantile
    SUBSAMPLE (anchors are a monotone curve; a few thousand knots
    bound the interpolation error)."""
    order = np.argsort(y_anchor)
    return np.interp(np.asarray(y_new, dtype=np.float64),
                     np.asarray(y_anchor, dtype=np.float64)[order],
                     np.asarray(z_anchor, dtype=np.float64)[order])


# ----------------------------------------------------------- declustering


def decluster_weights_sql(points_rel: str, res: int, *,
                          lon_col: str = "lon", lat_col: str = "lat",
                          val_col: str = "z", id_col: str = "data_id",
                          round_to: int = 6) -> str:
    """Shared-dialect SQL for cell-declustering weights on the engine's
    lat/lon tile grid at resolution ``res``.

    Output: ``(data_id, cell, cell_n, w, z)`` with w = n/(m·c_j)
    (Σw = n).  The per-cell count relation is ≤ #occupied-cells rows —
    broadcast-sized at any corpus scale."""
    cell = cell_expr(lon_col, lat_col, res)
    base = (f"SELECT {id_col} AS data_id, {cell} AS cell, "
            f"CAST({val_col} AS DOUBLE) AS z FROM {points_rel}")
    return f"""
WITH _pts AS (
  {base}
), _c AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS cell_n FROM _pts GROUP BY cell
), _m AS (
  SELECT CAST(count(*) AS DOUBLE) AS m, CAST(sum(cell_n) AS DOUBLE) AS n
  FROM _c
)
SELECT p.data_id, p.cell, c.cell_n,
       round(_m.n / (_m.m * CAST(c.cell_n AS DOUBLE)), {int(round_to)})
         + 0.0 AS w,
       p.z
FROM _pts p JOIN _c c ON p.cell = c.cell CROSS JOIN _m"""


def declustered_mean_sql(points_rel: str, res: int, *,
                         lon_col: str = "lon", lat_col: str = "lat",
                         val_col: str = "z", id_col: str = "data_id",
                         round_to: int = 6) -> str:
    """Declustered mean Σ w·z / Σ w vs the naive mean, one row —
    the cell-size sensitivity diagnostic's inner query."""
    w = decluster_weights_sql(points_rel, res, lon_col=lon_col,
                              lat_col=lat_col, val_col=val_col,
                              id_col=id_col, round_to=17)
    return f"""
SELECT round(sum(w * z) / sum(w), {int(round_to)}) + 0.0 AS declustered_mean,
       round(avg(z), {int(round_to)}) + 0.0 AS naive_mean,
       CAST(count(*) AS BIGINT) AS n
FROM ({w}) _w"""


def decluster_weights(spark, points_df, res: int, **kw):
    """Library wrapper: per-point declustering weights as a DataFrame."""
    return spark.sql(decluster_weights_sql("{pts}", res, **kw),
                     pts=sql_arg(points_df))
