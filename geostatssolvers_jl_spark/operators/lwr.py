"""Locally weighted regression / LOESS (reference: LWRSolver,
``/root/reference/src/estimation/lwr.jl:62-158``).

Per location (``lwr.jl:127-145``): take the k nearest neighbors, normalize
distances δ = d / max(d), weight w = weightfun(δ) (default exp(−3δ²),
``lwr.jl:58``), fit weighted least squares on the affine design
X = [1 coords], predict at the location, and report
σ = ‖W·X·(XᵀWX)⁻¹·x₀‖₂ as ``var_variance`` (Gaussian-residual assumption,
``lwr.jl:50-51,142-143``).

Spark realization: one stacked-array kernel — the WLS solves over
gathered (B, k) neighbor stacks, one batched ``np.linalg.solve`` over
(B, p, p) normal matrices — run by `tiled.solve_local` on the zero-shuffle
broadcast path or the tiled big-big path.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..distances import Distance, Euclidean
from ..neighbors import PointData
from .tiled import solve_local


def default_weightfun(h: np.ndarray) -> np.ndarray:
    return np.exp(-3.0 * h * h)


def _wls_solve(
    G: np.ndarray, b: np.ndarray, x0: np.ndarray, nvalid: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Solve the stacked normal systems.  Rows with fewer valid neighbors
    than unknowns (k < p) always take the per-row pinv (minimum-norm)
    solution: their G is singular in exact arithmetic, and whether
    `solve` rejects it or returns a rounding-dominated answer turns on
    ulp-level distance differences between the broadcast and tiled
    paths.  Other singular rows (exactly collinear coords) fall back to
    pinv PER ROW too — a batch-wide fallback would make every query's
    result depend on which OTHER queries share its Arrow batch (same
    per-row policy as kriging._solve_bordered)."""
    theta = np.empty_like(b)
    Ginv_x0 = np.empty_like(x0)
    full = nvalid >= G.shape[1]
    try:
        theta[full] = np.linalg.solve(G[full], b[full, :, None])[:, :, 0]
        Ginv_x0[full] = np.linalg.solve(G[full], x0[full, :, None])[:, :, 0]
        rows = np.nonzero(~full)[0]
    except np.linalg.LinAlgError:
        rows = np.arange(G.shape[0])
    for i in rows:
        if full[i]:
            try:
                theta[i] = np.linalg.solve(G[i], b[i])
                Ginv_x0[i] = np.linalg.solve(G[i], x0[i])
                continue
            except np.linalg.LinAlgError:
                pass
        Gi = np.linalg.pinv(G[i])
        theta[i] = Gi @ b[i]
        Ginv_x0[i] = Gi @ x0[i]
    return theta, Ginv_x0


def solve_lwr(
    data: DataFrame | PointData,
    grid_df: DataFrame,
    var: str = "z",
    data_coord_cols: list[str] | None = None,
    query_coord_cols: list[str] | None = None,
    maxneighbors: int | None = None,
    minneighbors: int = 1,
    weightfun: Callable = default_weightfun,
    metric: Distance = Euclidean(),
    radius: float | None = None,
    id_col: str = "cell_id",
    strategy: str = "auto",
    tile_res: int | None = None,
) -> DataFrame:
    """``strategy`` as in `tiled.solve_local`: 'auto' routes a DataFrame
    data side above `planner.BROADCAST_LIMIT` rows through the distributed
    tiled join."""
    data_coord_cols = data_coord_cols or ["x", "y"]
    query_coord_cols = query_coord_cols or ["cx", "cy"]
    if minneighbors < 1:
        raise ValueError("minneighbors must be >= 1")

    def kernel(pdf, qcoords, NC, vals, dist, valid):
        B, k = valid.shape
        vm = valid.astype(np.float64)
        fd = np.where(valid, dist, 0.0)
        dmax = fd.max(axis=1, keepdims=True)
        dmax = np.where(dmax > 0, dmax, 1.0)
        w = np.asarray(weightfun(fd / dmax), dtype=np.float64) * vm
        # affine design X = [1 coords], (B, k, p)
        X = np.concatenate([np.ones((B, k, 1)), NC], axis=2) * vm[:, :, None]
        zn = vals[var] * vm
        WX = w[:, :, None] * X
        G = np.einsum("bkp,bkq->bpq", X, WX)       # XᵀWX (B, p, p)
        b_ = np.einsum("bkp,bk->bp", WX, zn)       # XᵀWz (B, p)
        x0 = np.concatenate([np.ones((B, 1)), qcoords], axis=1)
        theta, Ginv_x0 = _wls_solve(G, b_, x0, valid.sum(axis=1))
        mu = np.einsum("bp,bp->b", theta, x0)
        r = (WX @ Ginv_x0[:, :, None])[:, :, 0]   # W X (XᵀWX)⁻¹ x₀
        sigma = np.sqrt(np.einsum("bk,bk->b", r, r))
        few = valid.sum(axis=1) < minneighbors
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(np.int64),
            var: np.where(few, np.nan, mu),
            f"{var}_variance": np.where(few, np.nan, sigma),
        })

    return solve_local(
        data, grid_df, var, kernel,
        f"{id_col} long, {var} double, {var}_variance double",
        data_coord_cols, query_coord_cols, maxneighbors, minneighbors,
        metric, radius, id_col, strategy, tile_res,
    )
