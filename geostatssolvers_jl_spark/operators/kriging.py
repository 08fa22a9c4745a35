"""Kriging estimation (reference: KrigingSolver,
``/root/reference/src/estimation/krig.jl:76-234``).

Variant selection mirrors ``kriging_ui`` (``src/ui.jl:40-50``):
drifts → External Drift; degree → Universal; mean → Simple; else Ordinary.

Two physical strategies behind one API, mirroring the reference's
``exactsolve`` / ``approxsolve`` branch (``krig.jl:151-157``):

* **global** (``maxneighbors=None``): fit once on *all* data — factorize
  the (n+m)×(n+m) system on the driver, broadcast the inverse + data
  values, then a ``mapInPandas`` over grid partitions predicts each Arrow
  batch with two matmuls.  Zero shuffle; scales in the *grid* dimension.
* **local**: per grid cell, top-k neighbor search feeds stacked
  (k+m)×(k+m) covariance systems solved with one batched
  ``np.linalg.solve`` per Arrow batch (the north rule's "stacked
  covariance matrices, no per-row Python") — `solve_systems`, run by
  `tiled.solve_local` on the broadcast or the tiled gather.

Math (public Matheron/GSLIB forms, covariance form C(h) = sill − γ(h)):
  SK: C λ = c₀;               μ̂ = m + λᵀ(z−m);  σ² = C(0) − λᵀc₀
  OK/UK/EDK: [[C F],[Fᵀ 0]] [λ;ν] = [c₀;f₀];
             μ̂ = λᵀz;         σ² = C(0) − λᵀc₀ − νᵀf₀
with F the drift design (OK: ones; UK: monomials to ``degree``; EDK:
constant + user drift functions of the coordinates).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import combinations_with_replacement
from typing import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..distances import Distance, Euclidean
from ..neighbors import PointData, collect_points
from ..variogram import GaussianVariogram, Variogram
from .tiled import solve_local


# ------------------------------------------------------------- estimators


@dataclass(frozen=True)
class KrigingModel:
    """Which Kriging variant + its parameters (the preproc 'estimator')."""

    variogram: Variogram = field(default_factory=GaussianVariogram)
    mean: float | None = None          # Simple Kriging
    degree: int | None = None          # Universal Kriging
    drifts: Sequence[Callable] | None = None  # External Drift Kriging

    @property
    def variant(self) -> str:
        # latter options override former, ui.jl:40-50
        if self.drifts is not None:
            return "EDK"
        if self.degree is not None:
            return "UK"
        if self.mean is not None:
            return "SK"
        return "OK"

    def drift_matrix(self, coords: np.ndarray) -> np.ndarray:
        """F: (..., n, m) drift design for stacked coords (..., n, d)."""
        v = self.variant
        if v == "SK":
            return np.zeros(coords.shape[:-1] + (0,))
        if v == "OK":
            return np.ones(coords.shape[:-1] + (1,))
        if v == "UK":
            cols = [np.ones(coords.shape[:-1])]
            d = coords.shape[-1]
            for deg in range(1, self.degree + 1):
                for combo in combinations_with_replacement(range(d), deg):
                    m = np.ones(coords.shape[:-1])
                    for ax in combo:
                        m = m * coords[..., ax]
                    cols.append(m)
            return np.stack(cols, axis=-1)
        # EDK: constant + user drifts (vectorized callables of coord columns)
        cols = [np.ones(coords.shape[:-1])]
        for fn in self.drifts:
            cols.append(np.asarray(fn(coords), dtype=np.float64))
        return np.stack(cols, axis=-1)


def _pairwise_cov(gamma: Variogram, A: np.ndarray, B: np.ndarray,
                  metric: Distance) -> np.ndarray:
    return gamma.cov(metric.np(A, B))


def _batched_pairwise(NC: np.ndarray, metric: Distance) -> np.ndarray:
    """(B, k, d) stacked neighbor coords → (B, k, k) pairwise distances."""
    from ..distances import Anisotropic, Haversine

    if isinstance(metric, Anisotropic):
        NC = NC / np.asarray(metric.radii, dtype=np.float64)
    if not isinstance(metric, Haversine):
        dlt = NC[:, :, None, :] - NC[:, None, :, :]
        return np.sqrt(np.sum(dlt * dlt, axis=-1))
    # batched haversine, same op order as distances.Haversine.np
    lon1, lat1 = NC[:, :, None, 0], NC[:, :, None, 1]
    lon2, lat2 = NC[:, None, :, 0], NC[:, None, :, 1]
    h = (
        np.sin(np.radians(lat2 - lat1) / 2.0) ** 2
        + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2))
        * np.sin(np.radians(lon2 - lon1) / 2.0) ** 2
    )
    return 2.0 * metric.radius * np.arcsin(np.minimum(1.0, np.sqrt(h)))


# ------------------------------------------------------------ global path


def _fit_global(model: KrigingModel, data: PointData, var: str,
                metric: Distance):
    """Factorize the full system once (reference ``exactsolve`` fit at
    krig.jl:176). Returns pickleable artifacts for broadcast."""
    X = data.coords
    z = data.values[var].astype(np.float64)
    n = X.shape[0]
    C = _pairwise_cov(model.variogram, X, X, metric)
    # tiny diagonal regularization (1e-10·sill): exactly-duplicated data
    # locations (common in deduplicated web corpora) make C singular and
    # would otherwise dump every batch into a slow per-row fallback
    C = C + (1e-10 * model.variogram.sill) * np.eye(n)
    F = model.drift_matrix(X)  # (n, m)
    m = F.shape[-1]
    A = np.zeros((n + m, n + m))
    A[:n, :n] = C
    A[:n, n:] = F
    A[n:, :n] = F.T
    try:
        Ainv = np.linalg.inv(A)
    except np.linalg.LinAlgError:
        Ainv = np.linalg.pinv(A)
    return {"Ainv": Ainv, "X": X, "z": z, "n": n, "m": m}


def _predict_global(model: KrigingModel, fit: dict, qcoords: np.ndarray,
                    metric: Distance) -> tuple[np.ndarray, np.ndarray]:
    X, z, Ainv, n, m = fit["X"], fit["z"], fit["Ainv"], fit["n"], fit["m"]
    sill = model.variogram.sill
    # cache-resident sub-chunks: the (q, n) covariance block plus the
    # (q, n, d) difference temporaries inside metric.np would otherwise
    # churn gigabytes per Arrow batch at n ~ 10⁴⁺ data points (same
    # rationale as solve_systems' sub-chunks)
    q_total = qcoords.shape[0]
    step = max(1, 2_000_000 // max(n, 1))
    if q_total > step:
        mu = np.empty(q_total)
        var_ = np.empty(q_total)
        for s in range(0, q_total, step):
            sl = slice(s, min(q_total, s + step))
            mu[sl], var_[sl] = _predict_global(
                model, fit, qcoords[sl], metric
            )
        return mu, var_
    c0 = _pairwise_cov(model.variogram, qcoords, X, metric)  # (q, n)
    f0 = model.drift_matrix(qcoords)  # (q, m)
    rhs = np.concatenate([c0, f0], axis=1)  # (q, n+m)
    lam = rhs @ Ainv.T  # (q, n+m): weights then Lagrange
    w = lam[:, :n]
    if model.variant == "SK":
        mu = model.mean + w @ (z - model.mean)
    else:
        mu = w @ z
    var_ = sill - np.einsum("qi,qi->q", lam, rhs)
    return mu, np.maximum(var_, 0.0)


# ------------------------------------------------------------- local path

# doubles per stacked solve block: 2048 systems up to k + m = 32
_SOLVE_BLOCK = 2048 * 32 * 32


def solve_systems(
    model: KrigingModel,
    qcoords: np.ndarray,
    NC: np.ndarray,
    zn: np.ndarray,
    valid: np.ndarray,
    dist: np.ndarray,
    metric: Distance,
    minneighbors: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Stacked per-location Kriging systems over GATHERED neighbor arrays
    (NC (B,k,dim), zn (B,k), valid (B,k), dist (B,k) with +inf in invalid
    slots), one batched solve — the local kernel of both the broadcast
    and the tiled gather (identical stacks ⇒ identical results).

    Arrow batches can be 16k+ rows; the stacked (B, k, k) intermediates at
    that size churn ~100 MB of temporaries per batch and stop scaling
    across executor cores — process in cache-resident sub-chunks of at
    most 2048 systems, fewer as k + m grows so each stacked
    (step, k+m, k+m) block stays within `_SOLVE_BLOCK` doubles (a ball
    search with no k cap has k = n).  Systems solve independently, so the
    chunking never changes a row."""
    B, k = zn.shape
    m = model.drift_matrix(qcoords[:1]).shape[-1]
    step = max(1, min(2048, _SOLVE_BLOCK // (k + m) ** 2))
    if B > step:
        mu = np.empty(B)
        var_ = np.empty(B)
        for s in range(0, B, step):
            sl = slice(s, min(B, s + step))
            mu[sl], var_[sl] = solve_systems(
                model, qcoords[sl], NC[sl], zn[sl], valid[sl], dist[sl],
                metric, minneighbors,
            )
        return mu, var_
    nvalid = valid.sum(axis=1)

    # pairwise neighbor distances (B, k, k), fully batched
    H = _batched_pairwise(NC, metric)
    C = model.variogram.cov(H)  # (B, k, k)

    Fm = model.drift_matrix(NC)          # (B, k, m)
    fdist = np.where(valid, dist, 0.0)   # keep inf out of the variogram
    c0 = np.where(valid, model.variogram.cov(fdist), 0.0)  # (B, k)
    f0 = model.drift_matrix(qcoords)     # (B, m)

    # padded slots (idx == -1): zero row/col + unit diagonal + zero rhs and
    # drift → their weights solve to exactly 0 without perturbing the rest
    vmask = valid.astype(np.float64)
    pair = vmask[:, :, None] * vmask[:, None, :]
    C = np.where(pair > 0, C, 0.0)
    ar = np.arange(k)
    # +1e-10·sill: same duplicate-location regularization as the global
    # path — one singular system would otherwise stall the whole batch
    C[:, ar, ar] = np.where(
        valid, C[:, ar, ar] + 1e-10 * model.variogram.sill, 1.0
    )
    # where-mask, NOT multiply: padded slots hold placeholder coords, and
    # a user EDK drift non-finite there (log, sqrt, division) would turn
    # drift·0 into NaN and poison the whole system
    Fm = np.where(vmask[:, :, None] > 0, Fm, 0.0)

    A = np.zeros((B, k + m, k + m))
    A[:, :k, :k] = C
    A[:, :k, k:] = Fm
    A[:, k:, :k] = np.transpose(Fm, (0, 2, 1))
    if m > 0:
        # zero-neighbor rows (radius cut, empty region): their KKT block
        # is exactly [[I,0],[0,0]] — put 1s on the Lagrange diagonal so
        # the BATCHED solve stays on the fast path (the rows are NaN-
        # masked below; without this one empty row dumped the whole
        # 2048-row batch into the per-row Python fallback)
        empty = np.nonzero(nvalid == 0)[0]
        if empty.size:
            arm = np.arange(m)
            A[empty[:, None], k + arm, k + arm] = 1.0
    rhs = np.concatenate([c0, f0], axis=1)  # (B, k+m)

    try:
        sol = np.linalg.solve(A, rhs[:, :, None])[:, :, 0]
    except np.linalg.LinAlgError:
        sol = np.empty_like(rhs)
        for b in range(B):
            try:
                sol[b] = np.linalg.solve(A[b], rhs[b])
            except np.linalg.LinAlgError:
                sol[b] = np.linalg.lstsq(A[b], rhs[b], rcond=None)[0]

    w = sol[:, :k] * vmask
    if model.variant == "SK":
        mu = model.mean + np.einsum("bk,bk->b", w, (zn - model.mean) * vmask)
    else:
        mu = np.einsum("bk,bk->b", w, zn * vmask)
    var_ = model.variogram.sill - np.einsum("bi,bi->b", sol, rhs)
    var_ = np.maximum(var_, 0.0)

    few = nvalid < minneighbors
    mu = np.where(few, np.nan, mu)
    var_ = np.where(few, np.nan, var_)
    return mu, var_


# ---------------------------------------------------------------- solver


def solve_kriging(
    data: DataFrame | PointData,
    grid_df: DataFrame,
    var: str = "z",
    model: KrigingModel | None = None,
    data_coord_cols: list[str] | None = None,
    query_coord_cols: list[str] | None = None,
    maxneighbors: int | None = None,
    minneighbors: int = 1,
    metric: Distance = Euclidean(),
    radius: float | None = None,
    id_col: str = "cell_id",
    strategy: str = "auto",
    tile_res: int | None = None,
) -> DataFrame:
    """Returns (id_col, var, var_variance) over the grid/query DataFrame.

    ``maxneighbors=None`` → global strategy; else local (krig.jl:151-157).
    ``radius`` realizes the MetricBall neighborhood (KBallSearch).

    ``strategy`` as in `tiled.solve_local` (local strategy only): 'auto'
    routes a DataFrame data side above `planner.BROADCAST_LIMIT` rows
    through the fully distributed tiled join instead of a driver collect.
    """
    model = model or KrigingModel()
    data_coord_cols = data_coord_cols or ["x", "y"]
    query_coord_cols = query_coord_cols or ["cx", "cy"]
    if minneighbors < 1:
        raise ValueError("minneighbors must be >= 1")
    missing = f"all samples of {var} are missing, aborting..."
    schema = f"{id_col} long, {var} double, {var}_variance double"

    if maxneighbors is not None or radius is not None:
        # local; a MetricBall-only neighborhood (KBallSearch with no k
        # cap) searches with k = n — the GLOBAL path would silently ignore
        # the ball and weight every point (planner.searcher_ui)
        def kernel(pdf, qcoords, NC, vals, dist, valid):
            mu, v = solve_systems(model, qcoords, NC, vals[var], valid,
                                  dist, metric, minneighbors)
            return pd.DataFrame({
                id_col: pdf[id_col].to_numpy(np.int64),
                var: mu, f"{var}_variance": v,
            })

        return solve_local(
            data, grid_df, var, kernel, schema, data_coord_cols,
            query_coord_cols, maxneighbors, minneighbors, metric, radius,
            id_col, strategy, tile_res,
            empty_msg=missing,
        )

    if isinstance(data, DataFrame):
        data = collect_points(
            data.filter(f"{var} IS NOT NULL"),
            data_coord_cols,
            [var],
            id_col="data_id" if "data_id" in data.columns else None,
        )
    if data.n == 0:
        raise ValueError(missing)

    from pyspark import cloudpickle

    fit = _fit_global(model, data, var, metric)
    # cloudpickle: drift functions may be lambdas/closures, which the
    # default broadcast pickler rejects
    bc = grid_df.sparkSession.sparkContext.broadcast(
        cloudpickle.dumps((model, fit, metric))
    )

    def run(batches: Iterable[pd.DataFrame]):
        mdl, f, met = cloudpickle.loads(bc.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = pdf[query_coord_cols].to_numpy(np.float64)
            mu, v = _predict_global(mdl, f, q, met)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(np.int64),
                var: mu, f"{var}_variance": v,
            })

    return grid_df.mapInPandas(run, schema=schema)
