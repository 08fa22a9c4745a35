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
co-located covariate, not the corpus).  The block system is the
kriging core's bordered system [[C F],[Fᵀ 0]] with
C = [[C11 + r₁I, C12], [C21, C22 + r₂I]] and F = [1(X₁) 1(X₂)].
Collocated co-kriging runs its stacked local systems on
`tiled.solve_local`'s broadcast gather.

Model validity: the engine enforces the NECESSARY linear-model-of-
co-regionalization condition sill₁₂² ≤ sill₁·sill₂ (Cauchy–Schwarz on
the co-regionalization matrix) and, as everywhere else, regularizes
the data blocks by 1e-10·sill; full LMC validity (per-structure PD of
[[b11 b12],[b12 b22]]) is the modeler's contract, stated here rather
than silently assumed.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from ..distances import Distance, Euclidean
from ..neighbors import PointData
from ..variogram import Variogram
from .kriging import (
    _broadcast_predict, _by_rows, _collect, _estimates, _fit_bordered,
    _local_result, _masked_cov, _pairwise_cov, _predict_bordered,
    _regularized_cov, _ridge, _solve_bordered, _solve_step,
)
from .tiled import solve_local


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
    C12 = _pairwise_cov(model.cross, X1, X2, metric)
    C = np.block([[_regularized_cov(model.variogram, X1, metric), C12],
                  [C12.T, _regularized_cov(model.variogram2, X2, metric)]])
    F = np.zeros((len(X1) + len(X2), 2))
    F[:len(X1), 0] = 1.0
    F[len(X1):, 1] = 1.0
    z = np.concatenate([d1.values[var].astype(np.float64),
                        d2.values[var2].astype(np.float64)])
    return _fit_bordered(C, F, z, X1=X1, X2=X2)


def _predict_global_co(model: CoKrigingModel, fit: dict,
                       qcoords: np.ndarray, metric: Distance):
    def rhs_of(q):  # [c₁ c₂ 1 0]
        return np.concatenate([
            _pairwise_cov(model.variogram, q, fit["X1"], metric),
            _pairwise_cov(model.cross, q, fit["X2"], metric),
            np.broadcast_to([1.0, 0.0], (len(q), 2)),
        ], axis=1)

    return _predict_bordered(fit, rhs_of, qcoords, model.variogram.sill,
                             mean=None)


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
    model.validate()
    data1 = _collect(data1, var, data_coord_cols)
    data2 = _collect(data2, var2, data2_coord_cols)
    if data1.n == 0:
        raise ValueError(f"all samples of {var} are missing, aborting...")
    if data2.n == 0:
        raise ValueError(
            f"all secondary samples of {var2} are missing — use "
            f"solve_kriging for the single-variable problem")
    fit = _fit_global_co(model, data1, data2, var, var2, metric)
    return _broadcast_predict(
        grid_df, partial(_predict_global_co, model, fit, metric=metric),
        query_coord_cols or ["cx", "cy"], id_col, var)


def _solve_collocated_batch(model: CollocatedModel, qcoords, NC, zn,
                            valid, dist, y2, metric: Distance,
                            minneighbors: int):
    """Stacked (k+1)×(k+1) collocated-SK systems per Arrow batch: the
    kriging core's masked local system, bordered by the MM1 row
    [f·c₀ᵀ, C22(0) + r₂] with f = C12(0)/C11(0)."""
    return _by_rows(
        _solve_step(zn.shape[1] + 1),
        lambda *a: _collocated_chunk(model, *a, metric, minneighbors),
        qcoords, NC, zn, valid, dist, y2)


def _collocated_chunk(model: CollocatedModel, qcoords, NC, zn, valid,
                      dist, y2, metric: Distance, minneighbors: int):
    v = model.variogram
    c22_0 = float(model.sec_variance)
    c12_0 = model.rho * np.sqrt(v.sill * c22_0)
    C, c0, vmask = _masked_cov(v, NC, valid, dist, metric)
    border = (c12_0 / v.sill) * c0  # MM1: C12(h) = f·C11(h)
    rhs = np.concatenate([c0, np.full((len(zn), 1), c12_0)], axis=1)
    sol = _solve_bordered(C, border[:, :, None], c22_0 + _ridge(c22_0), rhs)
    w = sol[:, :zn.shape[1]] * vmask
    mu = (model.mean
          + np.einsum("bk,bk->b", w, (zn - model.mean) * vmask)
          + sol[:, -1] * (y2 - model.sec_mean))
    return _local_result(mu, sol, rhs, v.sill, valid, minneighbors)


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
    is the small-calibration-set exact tier.  The strategy stays
    'local-broadcast': the tiled gather does not carry the grid's
    secondary column.

    Exactness: a query AT a primary datum returns that datum exactly
    (λ = eᵢ, λ₂ = 0 satisfies the MM1 system regardless of the
    collocated secondary's value there)."""
    model.validate()
    if minneighbors < 1:
        raise ValueError("minneighbors must be >= 1")

    def kernel(pdf, qcoords, NC, vals, dist, valid):
        y2col = pdf[secondary_col]
        if y2col.isna().any():
            raise ValueError(
                f"solve_cokriging_collocated: NULL {secondary_col} at "
                f"estimation locations — the collocated secondary must "
                f"be exhaustive (fail-loud contract)")
        mu, v = _solve_collocated_batch(
            model, qcoords, NC, vals[var], valid, dist,
            y2col.to_numpy(np.float64), metric, minneighbors)
        return _estimates(pdf, id_col, var, mu, v)

    return solve_local(
        data1, grid_df, var, kernel,
        f"{id_col} long, {var} double, {var}_variance double",
        data_coord_cols or ["x", "y"], query_coord_cols or ["cx", "cy"],
        maxneighbors, minneighbors, metric, radius, id_col,
        "local-broadcast", None,
        empty_msg=f"all samples of {var} are missing, aborting...")
