"""Empirical variogram estimation + variogram model fitting.

The reference CONSUMES fitted variogram models (Variography.jl objects
passed into every solver — ``/root/reference/src/estimation/krig.jl:21``,
``src/simulation/lu.jl:41``, ``src/simulation/fft.jl:37``) but delegates
estimating/fitting them to its ecosystem.  A standalone engine needs the
front end too — data → empirical γ̂(h) → fitted model → kriging — so this
module provides both, Spark-first:

* **Empirical variogram** (Matheron 1962 estimator,
  γ̂(b) = Σ (z_i − z_j)² / (2·N_b) over point pairs binned by lag):
  the pairwise join is the scale problem.  The tiled form replicates
  each point to the 3×3 ring of ``maxlag``-sized tiles and equi-joins
  on tile — every pair with h ≤ maxlag falls inside one ring step per
  axis, so tiling is LOSSLESS while cutting the O(n²) pair space to
  O(n · density).  Pure shared-dialect SQL (Spark + DuckDB), codegen
  end to end, no UDF.
* **WLS model fitting** (Cressie 1985-style weighted least squares,
  npairs weights): for a FIXED (model, range) candidate the remaining
  parameters are linear — γ ≈ a + b·g(h/r) with a = nugget,
  b = partial sill — so the WLS solution is closed-form in six
  aggregate sums and the whole grid search (models × ranges) is ONE
  portable SQL query: candidates CROSS JOIN the ≤ nlags empirical
  rows, one aggregation, argmin window.  `fit_variogram` additionally
  refines the winning range on the driver (golden-section over the
  same closed form — the empirical table is a bounded ≤ nlags-row
  artifact, never data-sized).

Conventions: pairs with 0 < h < maxlag enter bin ``floor(h / width)``
with ``width = maxlag / nlags`` (coincident pairs carry no spatial lag
and are excluded); reported ``lag`` is the bin midpoint.  Structure
functions match `variogram.py` exactly (GeoStats.jl-compatible
effective ranges: exp(-3h/r) etc.), so a fitted (model, range, nugget,
sill) plugs straight into `solve_kriging` / the simulation solvers.
"""

from __future__ import annotations

import numpy as np

from .session import sql_arg
from .variogram import (
    ExponentialVariogram,
    GaussianVariogram,
    SphericalVariogram,
    Variogram,
)

# tile subdivision of the pair join (r7): tiles are maxlag/SUBDIV wide
# and the left side replicates into the ±SUBDIV ring.  SUBDIV=1 is the
# classic 9-cell ring; larger values trade a bounded ×(2m+1)² replication
# of the (id, x, y, z) projection for (a) a tighter candidate set — the
# ring box shrinks toward the |dx|,|dy| < maxlag minimum, e.g. at
# maxlag=60 over ±180° the candidate fraction drops from ~50% of all
# pairs (3 lat tiles ⇒ the ring covers EVERY latitude) to ~35% at m=4 —
# and (b) (2m+1)²·more distinct join keys: 60° tiles gave 18 keys total,
# so at most 18 tasks ever carried the whole O(candidate) expansion
# (measured: the sf1.0 pair stage ran on ≤18 of 32 cores).  Pair-set
# equality: h < maxlag ⇒ |dx|,|dy| < m·w ⇒ tile deltas ≤ m, covered by
# the ring; the id inequality dedupes exactly as before.
_SUBDIV = 4


def _ring_table(m: int) -> str:
    vals = ", ".join(
        f"({dx}, {dy})"
        for dx in range(-m, m + 1) for dy in range(-m, m + 1)
    )
    return f"(SELECT * FROM (VALUES {vals}) _d(dx, dy))"


def _pair_sql(points_rel: str, maxlag: float, *, tiled: bool,
              coord_cols: tuple[str, str], val_col: str,
              id_col: str, val2_col: str | None = None) -> str:
    """Pair relation ``(h, dz)`` for all point pairs with 0 < h < maxlag.

    ``tiled=True`` is the scale path (ring-replicate + equi-join);
    ``tiled=False`` is the brute-force O(n²) form used as the
    independent correctness oracle.  Euclidean only: the tile geometry
    (|dx| ≤ maxlag ⇒ adjacent tiles) is a planar-metric property.
    """
    cx, cy = coord_cols
    w = float(maxlag)
    z2sel = (f", CAST({val2_col} AS DOUBLE) AS _z2"
             if val2_col is not None else "")
    base = (
        f"SELECT {id_col} AS _id, CAST({cx} AS DOUBLE) AS _x, "
        f"CAST({cy} AS DOUBLE) AS _y, CAST({val_col} AS DOUBLE) AS _z"
        f"{z2sel} FROM {points_rel}"
    )
    dist = ("sqrt((p._x - q._x) * (p._x - q._x) + "
            "(p._y - q._y) * (p._y - q._y))")
    z2col = (", p._z2 - q._z2 AS dz2" if val2_col is not None else "")
    cols = (f"{dist} AS h, p._z - q._z AS dz{z2col}, "
            f"p._x - q._x AS ddx, p._y - q._y AS ddy")
    if not tiled:
        return (
            f"SELECT {cols} "
            f"FROM ({base}) p JOIN ({base}) q ON p._id < q._id"
        )
    wt = w / _SUBDIV
    tx = f"CAST(floor(_x / {wt!r}) AS BIGINT)"
    ty = f"CAST(floor(_y / {wt!r}) AS BIGINT)"
    pts = f"SELECT _b.*, {tx} AS _tx, {ty} AS _ty FROM ({base}) _b"
    # left side replicated to its ring (see _SUBDIV) → the join is a pure
    # hash equi-join on (tile_x, tile_y); p._id < q._id keeps each
    # unordered pair exactly once (a pair seen from both replicas has
    # opposite ring offsets, but only one side passes the id inequality —
    # the OTHER side's replica lands on the same joined row, which the
    # inequality dedupes because it appears with p and q SWAPPED).
    # SHUFFLE_HASH(q) (r7 second session, guide §3.1): the planner's
    # default sort-merge SORTS the (2m+1)²-replicated left stream (4M
    # rows at sf1.0) on both sides of its exchange; hashing the compact
    # q side per partition keeps the same scale-correct shuffles but
    # skips both sorts — interleaved count-sink min-of-3 at sf1.0:
    # empirical 3.40 → 2.62 s, cross 3.35 → 2.53 s, rows equal.  (A
    # BROADCAST(q) hint measured 51 s — and would be scale-wrong: q is
    # the unbounded point relation.)  Spark-only text: the oracle uses
    # the tiled=False brute form, so the hint never reaches DuckDB.
    return (
        f"SELECT /*+ SHUFFLE_HASH(q) */ {cols} "
        f"FROM (SELECT _p.*, _p._tx + _d.dx AS _jx, _p._ty + _d.dy AS _jy "
        f"      FROM ({pts}) _p CROSS JOIN {_ring_table(_SUBDIV)} _d) p "
        f"JOIN ({pts}) q ON q._tx = p._jx AND q._ty = p._jy "
        f"AND p._id < q._id"
    )


def empirical_variogram_sql(points_rel: str, maxlag: float, nlags: int = 10,
                            *, coord_cols: tuple[str, str] = ("x", "y"),
                            val_col: str = "z", id_col: str = "data_id",
                            tiled: bool = True, round_to: int = 6) -> str:
    """Shared-dialect SQL for the Matheron empirical variogram.

    Output: ``(bin INT, lag DOUBLE, npairs BIGINT, gamma DOUBLE)``, one
    row per NON-EMPTY lag bin.  With integer-valued data the squared
    differences and their sums are FP-exact (integers below 2^53), so
    Spark and DuckDB agree bit-for-bit regardless of aggregation order.
    """
    if nlags < 1:
        raise ValueError("empirical_variogram: nlags must be >= 1")
    if not maxlag > 0.0:
        raise ValueError("empirical_variogram: maxlag must be > 0")
    width = float(maxlag) / int(nlags)
    pairs = _pair_sql(points_rel, maxlag, tiled=tiled,
                      coord_cols=coord_cols, val_col=val_col, id_col=id_col)
    # least() guards the FP edge h/width ≥ nlags when h is within one
    # ulp of maxlag (possible because width = maxlag/nlags rounds)
    bin_ = (f"least(CAST({int(nlags) - 1} AS BIGINT), "
            f"CAST(floor(h / {width!r}) AS BIGINT))")
    return f"""
WITH _pairs AS (
  SELECT h, dz FROM ({pairs}) _pr WHERE h > 0.0 AND h < {float(maxlag)!r}
), _binned AS (
  SELECT CAST({bin_} AS INT) AS bin, dz * dz AS d2 FROM _pairs
)
SELECT bin, (CAST(bin AS DOUBLE) + 0.5) * {width!r} AS lag,
       CAST(count(*) AS BIGINT) AS npairs,
       round(sum(d2) / (2.0 * count(*)), {int(round_to)}) + 0.0 AS gamma
FROM _binned GROUP BY bin"""


def empirical_variogram(spark, points_df, maxlag: float, nlags: int = 10,
                        *, coord_cols: tuple[str, str] = ("x", "y"),
                        val_col: str = "z", id_col: str = "data_id",
                        tiled: bool = True):
    """Library wrapper: empirical variogram of ``points_df``
    (id, x, y, value) as a DataFrame of non-empty lag bins."""
    return spark.sql(empirical_variogram_sql(
        "{pts}", maxlag, nlags, coord_cols=coord_cols, val_col=val_col,
        id_col=id_col, tiled=tiled), pts=sql_arg(points_df))


def indicator_variogram_sql(points_rel: str, threshold: float,
                            maxlag: float, nlags: int = 10, *,
                            coord_cols: tuple[str, str] = ("x", "y"),
                            val_col: str = "z", id_col: str = "data_id",
                            tiled: bool = True,
                            round_to: int = 6) -> str:
    """Empirical INDICATOR variogram γ_I(h) at a threshold: the
    variogram of 1(z ≤ t) — the spatial-connectivity diagnostic behind
    indicator kriging (γ_I is exactly the transition probability
    structure of the exceedance set).  The indicator is a projection,
    so this is `empirical_variogram_sql` over a rewritten relation —
    indicator values are 0/1 integers, making γ̂_I FP-exact across
    engines by construction (dz² ∈ {0, 1})."""
    ind = (f"(SELECT {id_col}, {coord_cols[0]}, {coord_cols[1]}, "
           f"CASE WHEN CAST({val_col} AS DOUBLE) <= {float(threshold)!r} "
           f"THEN 1.0 ELSE 0.0 END AS _ind FROM {points_rel} _ip)")
    return empirical_variogram_sql(
        ind, maxlag, nlags, coord_cols=coord_cols, val_col="_ind",
        id_col=id_col, tiled=tiled, round_to=round_to)


def robust_variogram_sql(points_rel: str, maxlag: float, nlags: int = 10,
                         *, estimator: str = "cressie",
                         coord_cols: tuple[str, str] = ("x", "y"),
                         val_col: str = "z", id_col: str = "data_id",
                         tiled: bool = True, round_to: int = 6) -> str:
    """Outlier-resistant empirical variogram estimators over the same
    pair join (public forms):

    * ``"cressie"`` — Cressie & Hawkins 1980:
      γ̂(b) = (mean √|dz|)⁴ / (2·(0.457 + 0.494/N_b)) — fourth power of
      the mean root-difference, bias-corrected; a single squared
      outlier that dominates Matheron's mean enters here at power ½.
    * ``"madogram"`` — ν̂(b) = mean |dz| / 2 (Matheron 1987's first-order
      structure function; same range/anisotropy diagnostics, finite
      even under heavy tails).

    The fourth power is spelled as explicit multiplication (m·m·m·m) —
    ``pow()`` would reintroduce the cross-engine libm divergence the
    engine's -0.0/pow contract rules out; sqrt/abs are IEEE-exact on
    both engines, so only the bin mean is aggregation-order-dependent
    and round-6 absorbs its ulp noise."""
    if estimator not in ("cressie", "madogram"):
        raise ValueError(f"unknown robust estimator {estimator!r}")
    if nlags < 1:
        raise ValueError("robust_variogram: nlags must be >= 1")
    if not maxlag > 0.0:
        raise ValueError("robust_variogram: maxlag must be > 0")
    width = float(maxlag) / int(nlags)
    pairs = _pair_sql(points_rel, maxlag, tiled=tiled,
                      coord_cols=coord_cols, val_col=val_col,
                      id_col=id_col)
    bin_ = (f"least(CAST({int(nlags) - 1} AS BIGINT), "
            f"CAST(floor(h / {width!r}) AS BIGINT))")
    if estimator == "cressie":
        m = "avg(sqrt(abs(dz)))"
        gamma = (f"(({m}) * ({m}) * ({m}) * ({m})) "
                 f"/ (2.0 * (0.457 + 0.494 / count(*)))")
    else:
        gamma = "avg(abs(dz)) / 2.0"
    return f"""
WITH _pairs AS (
  SELECT h, dz FROM ({pairs}) _pr WHERE h > 0.0 AND h < {float(maxlag)!r}
), _binned AS (
  SELECT CAST({bin_} AS INT) AS bin, dz FROM _pairs
)
SELECT bin, (CAST(bin AS DOUBLE) + 0.5) * {width!r} AS lag,
       CAST(count(*) AS BIGINT) AS npairs,
       round({gamma}, {int(round_to)}) + 0.0 AS gamma_r
FROM _binned GROUP BY bin"""


def robust_variogram(spark, points_df, maxlag: float, nlags: int = 10,
                     *, estimator: str = "cressie", **kw):
    """Library wrapper for `robust_variogram_sql`."""
    return spark.sql(robust_variogram_sql(
        "{pts}", maxlag, nlags, estimator=estimator, **kw),
        pts=sql_arg(points_df))


def cross_variogram_sql(points_rel: str, maxlag: float, nlags: int = 10,
                        *, coord_cols: tuple[str, str] = ("x", "y"),
                        val_col: str = "z", val2_col: str = "z2",
                        id_col: str = "data_id", tiled: bool = True,
                        round_to: int = 6) -> str:
    """Empirical CROSS-variogram between two co-located variables
    (Matheron form, γ̂₁₂(b) = Σ (z₁ᵢ−z₁ⱼ)(z₂ᵢ−z₂ⱼ) / (2·N_b)) — the
    co-regionalization diagnostic that feeds the joint-correlation
    input of co-simulation (`simulation.lugs.LUGSVariable`'s
    ``correlation``; the reference takes it as a given parameter,
    GeoStatsSolvers.jl `src/simulation/lu.jl:46`).  Same pair join,
    same binning, same tiled/brute duality as
    `empirical_variogram_sql`; the cross moment may be negative, and
    ``+ 0.0`` normalizes a rounded -0.0 (the engine's -0.0 contract).
    With integer-valued variables the dz·dz2 products and their sums
    are FP-exact, so the tiled and brute forms hash identically."""
    if nlags < 1:
        raise ValueError("cross_variogram: nlags must be >= 1")
    if not maxlag > 0.0:
        raise ValueError("cross_variogram: maxlag must be > 0")
    width = float(maxlag) / int(nlags)
    pairs = _pair_sql(points_rel, maxlag, tiled=tiled,
                      coord_cols=coord_cols, val_col=val_col,
                      id_col=id_col, val2_col=val2_col)
    bin_ = (f"least(CAST({int(nlags) - 1} AS BIGINT), "
            f"CAST(floor(h / {width!r}) AS BIGINT))")
    return f"""
WITH _pairs AS (
  SELECT h, dz, dz2 FROM ({pairs}) _pr
  WHERE h > 0.0 AND h < {float(maxlag)!r}
), _binned AS (
  SELECT CAST({bin_} AS INT) AS bin, dz * dz2 AS dd FROM _pairs
)
SELECT bin, (CAST(bin AS DOUBLE) + 0.5) * {width!r} AS lag,
       CAST(count(*) AS BIGINT) AS npairs,
       round(sum(dd) / (2.0 * count(*)), {int(round_to)}) + 0.0
         AS gamma_cross
FROM _binned GROUP BY bin"""


def cross_variogram(spark, points_df, maxlag: float, nlags: int = 10,
                    *, coord_cols: tuple[str, str] = ("x", "y"),
                    val_col: str = "z", val2_col: str = "z2",
                    id_col: str = "data_id", tiled: bool = True):
    """Library wrapper: empirical cross-variogram of ``points_df``
    (id, x, y, value1, value2) as a DataFrame of non-empty lag bins."""
    return spark.sql(cross_variogram_sql(
        "{pts}", maxlag, nlags, coord_cols=coord_cols, val_col=val_col,
        val2_col=val2_col, id_col=id_col, tiled=tiled), pts=sql_arg(points_df))


# tan(22.5°) / tan(67.5°): azimuth-sector boundaries spelled as pure
# multiply-compares — no atan2 (whose cross-engine last-ulp could flip a
# boundary pair's sector).  Sectors are AXIAL (γ(h) = γ(−h); all terms
# below are invariant under (ddx, ddy) → (−ddx, −ddy)).
_TAN22 = 0.41421356237309503
_TAN67 = 2.414213562373095

_SECTORS = ("EW", "NE", "NS", "NW")


def _sector_expr(ddx: str = "ddx", ddy: str = "ddy") -> str:
    adx = f"abs({ddx})"
    ady = f"abs({ddy})"
    return (
        f"CASE WHEN {ady} <= {_TAN22!r} * {adx} THEN 'EW' "
        f"WHEN {ady} >= {_TAN67!r} * {adx} THEN 'NS' "
        f"WHEN ({ddx}) * ({ddy}) > 0.0 THEN 'NE' ELSE 'NW' END"
    )


def directional_variogram_sql(points_rel: str, maxlag: float,
                              nlags: int = 10, *,
                              coord_cols: tuple[str, str] = ("x", "y"),
                              val_col: str = "z", id_col: str = "data_id",
                              tiled: bool = True,
                              round_to: int = 6) -> str:
    """Directional (axial-sector) empirical variogram — the anisotropy
    diagnostic that feeds the engine's `Anisotropic` metric support.

    Pairs classify into four 45°-wide axial sectors (EW, NE, NS, NW —
    boundaries at 22.5° spelled as multiply-compares, so both engines
    classify identically).  Output:
    ``(sector, bin, lag, npairs, gamma)`` per non-empty (sector, bin).
    An anisotropic field shows different apparent ranges per sector
    (e.g. γ_NS ≪ γ_EW for a field varying only in x).
    """
    if nlags < 1:
        raise ValueError("directional_variogram: nlags must be >= 1")
    if not maxlag > 0.0:
        raise ValueError("directional_variogram: maxlag must be > 0")
    width = float(maxlag) / int(nlags)
    pairs = _pair_sql(points_rel, maxlag, tiled=tiled,
                      coord_cols=coord_cols, val_col=val_col,
                      id_col=id_col)
    bin_ = (f"least(CAST({int(nlags) - 1} AS BIGINT), "
            f"CAST(floor(h / {width!r}) AS BIGINT))")
    return f"""
WITH _pairs AS (
  SELECT h, dz, ddx, ddy FROM ({pairs}) _pr
  WHERE h > 0.0 AND h < {float(maxlag)!r}
), _binned AS (
  SELECT {_sector_expr()} AS sector, CAST({bin_} AS INT) AS bin,
         dz * dz AS d2
  FROM _pairs
)
SELECT sector, bin, (CAST(bin AS DOUBLE) + 0.5) * {width!r} AS lag,
       CAST(count(*) AS BIGINT) AS npairs,
       round(sum(d2) / (2.0 * count(*)), {int(round_to)}) + 0.0 AS gamma
FROM _binned GROUP BY sector, bin"""


def directional_variogram(spark, points_df, maxlag: float, nlags: int = 10,
                          **kw):
    """Library wrapper for `directional_variogram_sql`."""
    return spark.sql(directional_variogram_sql("{pts}", maxlag, nlags, **kw),
                     pts=sql_arg(points_df))


# --------------------------------------------------------------- fitting

_FIT_MODELS = ("spherical", "exponential", "gaussian")

_MODEL_CLS = {
    "spherical": SphericalVariogram,
    "exponential": ExponentialVariogram,
    "gaussian": GaussianVariogram,
}


def _structure_case(model: str, h: str, r: str) -> str:
    """CASE dispatch of the structure function g(h/r) per candidate
    model — multiplication spelled out (no pow(): DuckDB/Spark pow
    corner semantics differ; products are bit-identical)."""
    hr = f"(({h}) / ({r}))"
    sph = (f"CASE WHEN ({h}) < ({r}) "
           f"THEN 1.5 * {hr} - 0.5 * {hr} * {hr} * {hr} ELSE 1.0 END")
    expo = f"1.0 - exp(-3.0 * {hr})"
    gau = f"1.0 - exp(-3.0 * {hr} * {hr})"
    return (f"CASE {model} WHEN 'spherical' THEN {sph} "
            f"WHEN 'exponential' THEN {expo} ELSE {gau} END")


def fit_variogram_sql(emp_rel: str, ranges: tuple[float, ...],
                      models: tuple[str, ...] = _FIT_MODELS,
                      *, round_to: int = 6) -> str:
    """Shared-dialect SQL WLS grid fit over ``emp_rel``
    ``(lag, npairs, gamma)``.

    For each (model, range) candidate the nugget/partial-sill pair is
    the closed-form weighted-least-squares solution of
    γ ≈ a + b·g(h/r) (weights = npairs), with the physical clamps
    a ≥ 0, b ≥ 0 applied in the standard order (b first: a negative
    partial sill means the structure is absent).  The weighted SSE
    expands algebraically in the same six sums, so the whole search is
    one aggregation + one argmin window.  Output: ONE row
    ``(model, range, nugget, sill, sse)``.
    """
    for m in models:
        if m not in _FIT_MODELS:
            raise ValueError(f"fit_variogram: unknown model {m!r}")
    if not ranges:
        raise ValueError("fit_variogram: empty range grid")
    # CAST: Spark parses bare decimal literals in VALUES as DECIMAL
    # (DuckDB as DOUBLE) — without it the output `range` column's type
    # differs between the two engines
    cand = ", ".join(
        f"('{m}', CAST({float(r)!r} AS DOUBLE))"
        for m in models for r in ranges
    )
    g = _structure_case("c.model", "e.h", "c.r")
    return f"""
WITH _emp AS (
  SELECT CAST(lag AS DOUBLE) AS h, CAST(npairs AS DOUBLE) AS w,
         CAST(gamma AS DOUBLE) AS g FROM {emp_rel}
), _cand AS (
  SELECT * FROM (VALUES {cand}) _c(model, r)
), _x AS (
  SELECT c.model, c.r, e.w, e.g, {g} AS x
  FROM _cand c CROSS JOIN _emp e
), _s AS (
  SELECT model, r,
         sum(w) AS sw, sum(w * x) AS sx, sum(w * g) AS sy,
         sum(w * x * x) AS sxx, sum(w * x * g) AS sxy,
         sum(w * g * g) AS syy
  FROM _x GROUP BY model, r
), _b AS (
  SELECT *, CASE WHEN (sw * sxx - sx * sx) > 0.0
                 THEN (sw * sxy - sx * sy) / (sw * sxx - sx * sx)
                 ELSE 0.0 END AS b_u
  FROM _s
), _ab AS (
  SELECT model, r, sw, sx, sy, sxx, sxy, syy,
         CASE WHEN b_u < 0.0 THEN 0.0
              WHEN (sy - b_u * sx) / sw < 0.0
              THEN CASE WHEN sxx > 0.0 AND sxy > 0.0 THEN sxy / sxx
                        ELSE 0.0 END
              ELSE b_u END AS b
  FROM _b
), _fin AS (
  SELECT model, r, b,
         CASE WHEN b_a < 0.0 THEN 0.0 ELSE b_a END AS a
  FROM (SELECT *, (sy - b * sx) / sw AS b_a FROM _ab) _t
), _sse AS (
  SELECT f.model, f.r, f.a, f.b,
         s.syy - 2.0 * f.a * s.sy - 2.0 * f.b * s.sxy
           + f.a * f.a * s.sw + 2.0 * f.a * f.b * s.sx
           + f.b * f.b * s.sxx AS sse
  FROM _fin f JOIN _s s ON f.model = s.model AND f.r = s.r
), _ranked AS (
  SELECT model, r, a, b, sse,
         row_number() OVER (ORDER BY sse, model, r) AS rk
  FROM _sse
)
SELECT model, round(r, {int(round_to)}) + 0.0 AS range,
       round(a, {int(round_to)}) + 0.0 AS nugget,
       round(a + b, {int(round_to)}) + 0.0 AS sill,
       round(sse, {int(round_to)}) + 0.0 AS sse
FROM _ranked WHERE rk = 1"""


def _wls_closed_form(h: np.ndarray, w: np.ndarray, g: np.ndarray,
                     model: str, r: float) -> tuple[float, float, float]:
    """Numpy twin of the SQL closed form (same clamps, same order)."""
    hr = h / r
    if model == "spherical":
        x = np.where(h < r, 1.5 * hr - 0.5 * hr**3, 1.0)
    elif model == "exponential":
        x = 1.0 - np.exp(-3.0 * hr)
    else:
        x = 1.0 - np.exp(-3.0 * hr * hr)
    sw, sx, sy = w.sum(), (w * x).sum(), (w * g).sum()
    sxx, sxy, syy = (w * x * x).sum(), (w * x * g).sum(), (w * g * g).sum()
    den = sw * sxx - sx * sx
    b = (sw * sxy - sx * sy) / den if den > 0.0 else 0.0
    if b < 0.0:
        b = 0.0
    elif (sy - b * sx) / sw < 0.0:
        b = sxy / sxx if (sxx > 0.0 and sxy > 0.0) else 0.0
    a = max(0.0, (sy - b * sx) / sw)
    sse = (syy - 2.0 * a * sy - 2.0 * b * sxy
           + a * a * sw + 2.0 * a * b * sx + b * b * sxx)
    return a, b, float(sse)


def fit_variogram(emp_rows, models: tuple[str, ...] = _FIT_MODELS,
                  *, coarse: int = 24, refine_iters: int = 48) -> Variogram:
    """Driver-side fit: coarse grid + golden-section refinement of the
    range, returning a ready-to-use `Variogram` instance.

    ``emp_rows``: a DataFrame or iterable of rows with ``lag``,
    ``npairs``, ``gamma`` (the output of `empirical_variogram` —
    a ≤ nlags-row artifact; collecting it is bounded by construction).
    """
    if hasattr(emp_rows, "collect"):
        emp_rows = emp_rows.collect()
    rows = [(float(r["lag"]), float(r["npairs"]), float(r["gamma"]))
            for r in emp_rows]
    if len(rows) < 2:
        raise ValueError(
            "fit_variogram: need >= 2 non-empty lag bins to fit "
            f"(got {len(rows)}) — widen maxlag or reduce nlags"
        )
    h = np.array([t[0] for t in rows])
    w = np.array([t[1] for t in rows])
    g = np.array([t[2] for t in rows])
    hmax = float(h.max())
    lo, hi = hmax / 50.0, hmax * 3.0

    best = None  # (sse, model, r, a, b)
    invphi = (np.sqrt(5.0) - 1.0) / 2.0
    for model in models:
        grid = np.geomspace(lo, hi, coarse)
        sses = [_wls_closed_form(h, w, g, model, r)[2] for r in grid]
        i = int(np.argmin(sses))
        a_, b_ = grid[max(0, i - 1)], grid[min(coarse - 1, i + 1)]
        # golden-section on the bracketing interval (sse is piecewise
        # smooth in r; the coarse grid localizes the basin)
        x1 = b_ - invphi * (b_ - a_)
        x2 = a_ + invphi * (b_ - a_)
        f1 = _wls_closed_form(h, w, g, model, x1)[2]
        f2 = _wls_closed_form(h, w, g, model, x2)[2]
        for _ in range(refine_iters):
            if f1 < f2:
                b_, x2, f2 = x2, x1, f1
                x1 = b_ - invphi * (b_ - a_)
                f1 = _wls_closed_form(h, w, g, model, x1)[2]
            else:
                a_, x1, f1 = x1, x2, f2
                x2 = a_ + invphi * (b_ - a_)
                f2 = _wls_closed_form(h, w, g, model, x2)[2]
        r = (a_ + b_) / 2.0
        a, b, sse = _wls_closed_form(h, w, g, model, r)
        if best is None or sse < best[0]:
            best = (sse, model, r, a, b)

    _, model, r, a, b = best
    cls = _MODEL_CLS[model]
    return cls(range=float(r), sill=float(a + b), nugget=float(a))
