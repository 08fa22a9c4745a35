"""Ordinary co-kriging with one secondary variable — co-ESTIMATION,
the standard companion of the reference's covariable co-SIMULATION
(the reference handles covariables only in LU simulation,
``/root/reference/src/simulation/lu.jl:46``; its KrigingSolver is
single-variable).  Public Matheron/GSLIB forms (Goovaerts 1997 ch. 6).

System (covariance form C(h) = sill − γ(h), traditional ordinary
co-kriging with the two unbiasedness constraints Σλ₁ = 1, Σλ₂ = 0):

    [[C11 C12 1 0]   [λ₁]   [c₁₀]
     [C21 C22 0 1] · [λ₂] = [c₂₀]
     [1ᵀ  0ᵀ  0 0]   [ν₁]   [ 1 ]
     [0ᵀ  1ᵀ  0 0]]  [ν₂]   [ 0 ]

    μ̂ = λ₁ᵀz₁ + λ₂ᵀz₂        σ² = C11(0) − [λ;ν]ᵀ·rhs

Physical strategy: the GLOBAL zero-shuffle kernel (the
`solve_kriging(maxneighbors=None)` shape): factorize the
(n₁+n₂+2)² block system ONCE on the driver over the bounded data
view — the same driver boundary as the reference's ``exactsolve``
fit — broadcast the inverse, then ``mapInPandas`` over grid
partitions predicts each Arrow batch with two matmuls.  Scales in
the GRID dimension; co-kriging's data sides are calibration sets,
bounded by construction (the secondary is typically a subsample or
co-located covariate, not the corpus).

Model validity: the engine enforces the NECESSARY linear-model-of-
co-regionalization condition sill₁₂² ≤ sill₁·sill₂ (Cauchy–Schwarz on
the co-regionalization matrix) and, as everywhere else, regularizes
the data blocks by 1e-10·sill; full LMC validity (per-structure PD of
[[b11 b12],[b12 b22]]) is the modeler's contract, stated here rather
than silently assumed.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..distances import Distance, Euclidean
from ..neighbors import PointData, collect_points
from ..variogram import Variogram
from .kriging import _pairwise_cov


@dataclass(frozen=True)
class CollocatedModel:
    """Markov-Model-1 collocated co-kriging parameters: primary
    variogram (C11), cross-correlation ρ at lag 0, secondary variance
    C22(0), and the two (simple-kriging) means.  Under MM1 the cross
    covariance is proportional to the primary's:
    C12(h) = ρ·√(C11(0)·C22(0)) · C11(h)/C11(0)."""

    variogram: Variogram
    rho: float
    sec_variance: float
    mean: float
    sec_mean: float

    def validate(self) -> None:
        if not -1.0 <= self.rho <= 1.0:
            raise ValueError(f"collocated rho must be in [-1, 1], "
                             f"got {self.rho}")
        if not self.sec_variance > 0.0:
            raise ValueError("collocated sec_variance must be > 0")


@dataclass(frozen=True)
class CoKrigingModel:
    """γ₁₁ (primary), γ₂₂ (secondary), γ₁₂ (cross structure)."""

    variogram: Variogram
    variogram2: Variogram
    cross: Variogram

    def validate(self) -> None:
        s1, s2, s12 = (self.variogram.sill, self.variogram2.sill,
                       self.cross.sill)
        if s12 * s12 > s1 * s2 * (1.0 + 1e-12):
            raise ValueError(
                f"co-regionalization not positive-definite: "
                f"cross sill² {s12 * s12:g} > sill1·sill2 {s1 * s2:g}")


def _fit_global_co(model: CoKrigingModel, d1: PointData, d2: PointData,
                   var: str, var2: str, metric: Distance) -> dict:
    X1, X2 = d1.coords, d2.coords
    z1 = d1.values[var].astype(np.float64)
    z2 = d2.values[var2].astype(np.float64)
    n1, n2 = len(z1), len(z2)
    A = np.zeros((n1 + n2 + 2, n1 + n2 + 2))
    A[:n1, :n1] = (_pairwise_cov(model.variogram, X1, X1, metric)
                   + (1e-10 * model.variogram.sill) * np.eye(n1))
    A[n1:n1 + n2, n1:n1 + n2] = (
        _pairwise_cov(model.variogram2, X2, X2, metric)
        + (1e-10 * model.variogram2.sill) * np.eye(n2))
    C12 = _pairwise_cov(model.cross, X1, X2, metric)
    A[:n1, n1:n1 + n2] = C12
    A[n1:n1 + n2, :n1] = C12.T
    A[:n1, n1 + n2] = 1.0
    A[n1 + n2, :n1] = 1.0
    A[n1:n1 + n2, n1 + n2 + 1] = 1.0
    A[n1 + n2 + 1, n1:n1 + n2] = 1.0
    try:
        Ainv = np.linalg.inv(A)
    except np.linalg.LinAlgError:
        Ainv = np.linalg.pinv(A)
    return {"Ainv": Ainv, "X1": X1, "X2": X2,
            "z": np.concatenate([z1, z2]), "n1": n1, "n2": n2}


def _predict_global_co(model: CoKrigingModel, fit: dict,
                       qcoords: np.ndarray, metric: Distance):
    X1, X2, z = fit["X1"], fit["X2"], fit["z"]
    Ainv, n1, n2 = fit["Ainv"], fit["n1"], fit["n2"]
    q_total = qcoords.shape[0]
    step = max(1, 2_000_000 // max(n1 + n2, 1))
    if q_total > step:
        mu = np.empty(q_total)
        var_ = np.empty(q_total)
        for s in range(0, q_total, step):
            sl = slice(s, min(q_total, s + step))
            mu[sl], var_[sl] = _predict_global_co(
                model, fit, qcoords[sl], metric)
        return mu, var_
    c1 = _pairwise_cov(model.variogram, qcoords, X1, metric)   # (q, n1)
    c2 = _pairwise_cov(model.cross, qcoords, X2, metric)       # (q, n2)
    ones = np.ones((q_total, 1))
    zeros = np.zeros((q_total, 1))
    rhs = np.concatenate([c1, c2, ones, zeros], axis=1)
    lam = rhs @ Ainv.T
    mu = lam[:, :n1 + n2] @ z
    var_ = model.variogram.sill - np.einsum("qi,qi->q", lam, rhs)
    return mu, np.maximum(var_, 0.0)


def solve_cokriging(
    data1: DataFrame | PointData,
    data2: DataFrame | PointData,
    grid_df: DataFrame,
    model: CoKrigingModel,
    var: str = "z",
    var2: str | None = None,
    data_coord_cols: list[str] | None = None,
    data2_coord_cols: list[str] | None = None,
    query_coord_cols: list[str] | None = None,
    metric: Distance = Euclidean(),
    id_col: str = "cell_id",
) -> DataFrame:
    """Returns (id_col, var, var_variance) over the grid — the primary
    variable estimated from BOTH datasets.  ``var2`` defaults to
    ``var`` (co-located covariate under the same column name)."""
    var2 = var2 or var
    data_coord_cols = data_coord_cols or ["x", "y"]
    data2_coord_cols = data2_coord_cols or data_coord_cols
    query_coord_cols = query_coord_cols or ["cx", "cy"]
    model.validate()
    if isinstance(data1, DataFrame):
        data1 = collect_points(
            data1.filter(f"{var} IS NOT NULL"), data_coord_cols, [var],
            id_col="data_id" if "data_id" in data1.columns else None)
    if isinstance(data2, DataFrame):
        data2 = collect_points(
            data2.filter(f"{var2} IS NOT NULL"), data2_coord_cols,
            [var2],
            id_col="data_id" if "data_id" in data2.columns else None)
    if data1.n == 0:
        raise ValueError(f"all samples of {var} are missing, aborting...")
    if data2.n == 0:
        raise ValueError(
            f"all secondary samples of {var2} are missing — use "
            f"solve_kriging for the single-variable problem")

    spark = grid_df.sparkSession
    schema = f"{id_col} long, {var} double, {var}_variance double"
    from pyspark import cloudpickle

    fit = _fit_global_co(model, data1, data2, var, var2, metric)
    bc = spark.sparkContext.broadcast(
        cloudpickle.dumps((model, fit, metric)))

    def run(batches: Iterable[pd.DataFrame]):
        mdl, f, met = cloudpickle.loads(bc.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = pdf[query_coord_cols].to_numpy(np.float64)
            mu, v = _predict_global_co(mdl, f, q, met)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(np.int64),
                var: mu, f"{var}_variance": v,
            })

    return grid_df.mapInPandas(run, schema=schema)


def _solve_collocated_batch(model: CollocatedModel, qcoords, NC, zn,
                            valid, dist, y2, metric: Distance,
                            minneighbors: int):
    """Stacked (k+1)×(k+1) collocated-SK systems per Arrow batch (the
    `solve_systems` masking conventions: padded slots get unit diagonal
    + zero rhs so their weights solve to exactly 0)."""
    from .kriging import _batched_pairwise

    B, k = zn.shape
    step = 2048
    if B > step:
        mu = np.empty(B)
        var_ = np.empty(B)
        for s in range(0, B, step):
            sl = slice(s, min(B, s + step))
            mu[sl], var_[sl] = _solve_collocated_batch(
                model, qcoords[sl], NC[sl], zn[sl], valid[sl],
                dist[sl], y2[sl], metric, minneighbors)
        return mu, var_
    v = model.variogram
    c11_0 = v.sill
    c22_0 = float(model.sec_variance)
    c12_0 = model.rho * np.sqrt(c11_0 * c22_0)
    f = c12_0 / c11_0  # MM1 proportionality factor

    nvalid = valid.sum(axis=1)
    H = _batched_pairwise(NC, metric)
    C = v.cov(H)
    vmask = valid.astype(np.float64)
    pair = vmask[:, :, None] * vmask[:, None, :]
    C = np.where(pair > 0, C, 0.0)
    ar = np.arange(k)
    C[:, ar, ar] = np.where(valid, C[:, ar, ar] + 1e-10 * c11_0, 1.0)
    fdist = np.where(valid, dist, 0.0)
    c0 = np.where(valid, v.cov(fdist), 0.0)  # (B, k)

    A = np.zeros((B, k + 1, k + 1))
    A[:, :k, :k] = C
    A[:, :k, k] = f * c0
    A[:, k, :k] = f * c0
    A[:, k, k] = c22_0 + 1e-10 * c22_0
    rhs = np.concatenate([c0, np.full((B, 1), c12_0)], axis=1)

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
    lam2 = sol[:, k]
    mu = (model.mean
          + np.einsum("bk,bk->b", w, (zn - model.mean) * vmask)
          + lam2 * (y2 - model.sec_mean))
    var_ = np.maximum(c11_0 - np.einsum("bi,bi->b", sol, rhs), 0.0)
    few = nvalid < minneighbors
    mu = np.where(few, np.nan, mu)
    var_ = np.where(few, np.nan, var_)
    return mu, var_


def solve_cokriging_collocated(
    data1: DataFrame | PointData,
    grid_df: DataFrame,
    model: CollocatedModel,
    var: str = "z",
    secondary_col: str = "y2",
    data_coord_cols: list[str] | None = None,
    query_coord_cols: list[str] | None = None,
    maxneighbors: int = 8,
    minneighbors: int = 1,
    metric: Distance = Euclidean(),
    radius: float | None = None,
    id_col: str = "cell_id",
) -> DataFrame:
    """STRICTLY COLLOCATED simple co-kriging (Xu et al. 1992's standard
    scalable form): the secondary variable is a RASTER COVARIATE —
    ``secondary_col`` on the grid/query DataFrame itself (exhaustively
    known at every estimation location, e.g. another solution raster
    or a document-statistics surface) — so the local system only grows
    by ONE row over ordinary local kriging and the physical plan is the
    unchanged zero-shuffle broadcast kernel (kNN search + stacked
    batched solves per Arrow batch).  This is the co-kriging tier that
    scales to corpus-sized grids; `solve_cokriging` (full block system)
    is the small-calibration-set exact tier.

    Exactness: a query AT a primary datum returns that datum exactly
    (λ = eᵢ, λ₂ = 0 satisfies the MM1 system regardless of the
    collocated secondary's value there)."""
    from ..neighbors import stacked_apply

    data_coord_cols = data_coord_cols or ["x", "y"]
    query_coord_cols = query_coord_cols or ["cx", "cy"]
    model.validate()
    if minneighbors < 1:
        raise ValueError("minneighbors must be >= 1")
    if isinstance(data1, DataFrame):
        data1 = collect_points(
            data1.filter(f"{var} IS NOT NULL"), data_coord_cols, [var],
            id_col="data_id" if "data_id" in data1.columns else None)
    if data1.n == 0:
        raise ValueError(f"all samples of {var} are missing, aborting...")
    k = min(maxneighbors, data1.n)
    if minneighbors > k:
        raise ValueError("invalid min/max number of neighbors")
    schema = f"{id_col} long, {var} double, {var}_variance double"

    def kernel(pdf, qcoords, NC, vals, dist, valid):
        y2col = pdf[secondary_col]
        if y2col.isna().any():
            raise ValueError(
                f"solve_cokriging_collocated: NULL {secondary_col} at "
                f"estimation locations — the collocated secondary must "
                f"be exhaustive (fail-loud contract)")
        y2 = y2col.to_numpy(np.float64)
        mu, v = _solve_collocated_batch(
            model, qcoords, NC, vals[var], valid, dist, y2, metric,
            minneighbors)
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(np.int64),
            var: mu, f"{var}_variance": v,
        })

    return stacked_apply(
        grid_df, data1, query_coord_cols, [var], k, metric, kernel, schema,
        radius)
