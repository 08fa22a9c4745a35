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
    G: np.ndarray, b: np.ndarray, x0: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Solve the stacked normal systems; singular rows (k < p neighbors,
    exactly collinear coords) fall back to pinv PER ROW — a batch-wide
    pinv fallback would make every query's result depend on which OTHER
    queries share its Arrow batch (batch composition varies with
    partitioning and between the broadcast and tiled paths, breaking
    their bit-identical contract; same per-row policy as
    kriging.solve_systems)."""
    try:
        theta = np.linalg.solve(G, b[:, :, None])[:, :, 0]
        Ginv_x0 = np.linalg.solve(G, x0[:, :, None])[:, :, 0]
        return theta, Ginv_x0
    except np.linalg.LinAlgError:
        pass
    theta = np.empty_like(b)
    Ginv_x0 = np.empty_like(x0)
    for i in range(G.shape[0]):
        try:
            theta[i] = np.linalg.solve(G[i], b[i])
            Ginv_x0[i] = np.linalg.solve(G[i], x0[i])
        except np.linalg.LinAlgError:
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
    tiled_first_replicate: str = "auto",
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
        theta, Ginv_x0 = _wls_solve(G, b_, x0)
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
        metric, radius, id_col, strategy, tile_res, tiled_first_replicate,
    )
