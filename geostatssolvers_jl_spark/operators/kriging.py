"""Kriging estimation (reference: KrigingSolver,
``/root/reference/src/estimation/krig.jl:76-234``).

Variant selection mirrors ``kriging_ui`` (``src/ui.jl:40-50``):
drifts → External Drift; degree → Universal; mean → Simple; else Ordinary.

Two physical strategies behind one API, mirroring the reference's
``exactsolve`` / ``approxsolve`` branch (``krig.jl:151-157``):

* **global** (``maxneighbors=None``): fit once on *all* data — factorize
  the (n+m)×(n+m) system on the driver, broadcast the inverse + data
  values, then a ``mapInPandas`` over grid partitions predicts each
  Arrow batch with two matmuls.  Zero shuffle; scales in the *grid* dimension.
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

One kriging system core: how a system is assembled and solved is decided
here once — the 1e-10·sill diagonal regularization (`_ridge`), the
bordered inverse and its prediction (`_fit_bordered`,
`_predict_bordered`), the masking of padded neighbor slots
(`_masked_cov`), the batched solve with its per-row fallback
(`_solve_bordered`), the row chunks that bound its memory (`_by_rows`,
`_solve_step`) and the global path's broadcast predict
(`_broadcast_predict`).  Its callers: global and local kriging here,
full and collocated co-kriging (`cokriging`), and the residual kriging
that conditions FFT simulation (`simulation.fftgs`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial
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


# ------------------------------------------------------------ system core

# doubles per stacked solve block: 2048 systems up to k + m = 32
_SOLVE_BLOCK = 2048 * 32 * 32


def _ridge(sill: float) -> float:
    """Diagonal regularization of every data block, 1e-10·sill:
    exactly-duplicated data locations (common in deduplicated web
    corpora) make C singular, which would dump a whole batch into the
    slow per-row fallback."""
    return 1e-10 * sill


def _by_rows(step: int, fn: Callable, *arrays: np.ndarray):
    """``fn(*arrays) -> (μ̂, σ²)`` over row chunks of at most ``step``
    rows.  Systems solve independently, so chunking never changes a
    row; it keeps the per-chunk temporaries cache-resident."""
    n = len(arrays[0])
    if n <= step:
        return fn(*arrays)
    mu, var_ = np.empty(n), np.empty(n)
    for s in range(0, n, step):
        sl = slice(s, min(n, s + step))
        mu[sl], var_[sl] = fn(*(a[sl] for a in arrays))
    return mu, var_


def _solve_step(size: int) -> int:
    """Systems per stacked chunk: at most 2048, fewer as the system size
    grows, so each (step, size, size) block stays within `_SOLVE_BLOCK`
    doubles (a ball search with no k cap has k = n)."""
    return max(1, min(2048, _SOLVE_BLOCK // size ** 2))


def _regularized_cov(gamma: Variogram, X: np.ndarray,
                     metric: Distance) -> np.ndarray:
    return (_pairwise_cov(gamma, X, X, metric)
            + _ridge(gamma.sill) * np.eye(X.shape[0]))


def _fit_bordered(C: np.ndarray, F: np.ndarray, z: np.ndarray,
                  **extra) -> dict:
    """Inverse of the bordered system [[C F],[Fᵀ 0]] (``pinv`` when
    singular), stored with the data values ``z`` its weights apply to
    and the caller's ``extra`` artifacts (e.g. the data coordinates)."""
    n, m = F.shape
    A = np.zeros((n + m, n + m))
    A[:n, :n] = C
    A[:n, n:] = F
    A[n:, :n] = F.T
    try:
        Ainv = np.linalg.inv(A)
    except np.linalg.LinAlgError:
        Ainv = np.linalg.pinv(A)
    return {"Ainv": Ainv, "z": z, **extra}


def _predict_bordered(fit: dict, rhs_of: Callable, qcoords: np.ndarray,
                      sill: float, mean: float | None):
    """(μ̂, σ²) at ``qcoords`` from a `_fit_bordered` inverse;
    ``rhs_of(q)`` gives the (q, n+m) right-hand sides [c₀ f₀]; ``mean``
    not None makes it simple kriging, μ̂ = m + λᵀ(z − m).  Sub-chunks
    keep the (q, n) covariance block plus the (q, n, d) temporaries of
    the distance within cache at n ~ 10⁴⁺ data points."""
    Ainv, z = fit["Ainv"], fit["z"]

    def predict(q):
        rhs = rhs_of(q)
        lam = rhs @ Ainv.T  # (q, n+m): weights then Lagrange
        w = lam[:, :len(z)]
        mu = w @ z if mean is None else mean + w @ (z - mean)
        return mu, np.maximum(sill - np.einsum("qi,qi->q", lam, rhs), 0.0)

    return _by_rows(max(1, 2_000_000 // max(len(z), 1)), predict, qcoords)


def _masked_cov(gamma: Variogram, NC: np.ndarray, valid: np.ndarray,
                dist: np.ndarray, metric: Distance):
    """Stacked neighbor covariances C (B, k, k) and c₀ (B, k), plus the
    slot mask.  Padded slots (idx == -1) get a zero row/col, a unit
    diagonal and a zero c₀, so their weights solve to exactly 0 without
    perturbing the rest; valid slots get the `_ridge` diagonal."""
    C = gamma.cov(_batched_pairwise(NC, metric))
    vmask = valid.astype(np.float64)
    C = np.where(vmask[:, :, None] * vmask[:, None, :] > 0, C, 0.0)
    ar = np.arange(valid.shape[1])
    C[:, ar, ar] = np.where(valid, C[:, ar, ar] + _ridge(gamma.sill), 1.0)
    # keep the +inf of padded slots out of the variogram
    c0 = np.where(valid, gamma.cov(np.where(valid, dist, 0.0)), 0.0)
    return C, c0, vmask


def _solve_bordered(C: np.ndarray, F: np.ndarray, D, rhs: np.ndarray):
    """Stacked [[C F],[Fᵀ D]] x = rhs in one batched ``np.linalg.solve``;
    if any system is singular, per row: ``solve``, else ``lstsq``."""
    B, k = C.shape[:2]
    A = np.zeros((B, k + F.shape[-1], k + F.shape[-1]))
    A[:, :k, :k] = C
    A[:, :k, k:] = F
    A[:, k:, :k] = np.transpose(F, (0, 2, 1))
    A[:, k:, k:] = D
    try:
        return np.linalg.solve(A, rhs[:, :, None])[:, :, 0]
    except np.linalg.LinAlgError:
        sol = np.empty_like(rhs)
        for b in range(B):
            try:
                sol[b] = np.linalg.solve(A[b], rhs[b])
            except np.linalg.LinAlgError:
                sol[b] = np.linalg.lstsq(A[b], rhs[b], rcond=None)[0]
        return sol


def _local_result(mu, sol, rhs, sill, valid, minneighbors):
    """σ² = C(0) − xᵀrhs clipped at 0; NaN where fewer than
    ``minneighbors`` slots are valid."""
    var_ = np.maximum(sill - np.einsum("bi,bi->b", sol, rhs), 0.0)
    few = valid.sum(axis=1) < minneighbors
    return np.where(few, np.nan, mu), np.where(few, np.nan, var_)


def _estimates(pdf: pd.DataFrame, id_col: str, var: str, mu, v):
    return pd.DataFrame({id_col: pdf[id_col].to_numpy(np.int64),
                         var: mu, f"{var}_variance": v})


def _collect(data: DataFrame | PointData, var: str,
             coord_cols: list[str]) -> PointData:
    """The rows with ``var`` non-missing, collected as `PointData`."""
    if isinstance(data, DataFrame):
        data = collect_points(
            data.filter(f"{var} IS NOT NULL"), coord_cols, [var],
            id_col="data_id" if "data_id" in data.columns else None)
    return data


def _broadcast_predict(grid_df: DataFrame, predict: Callable,
                       query_coord_cols: list[str], id_col: str,
                       var: str) -> DataFrame:
    """The global zero-shuffle kernel: ship ``predict`` (query coords →
    (μ̂, σ²)) once, then ``mapInPandas`` it over the grid's batches.
    cloudpickle: drift functions may be lambdas/closures, which the
    default broadcast pickler rejects."""
    from pyspark import cloudpickle

    bc = grid_df.sparkSession.sparkContext.broadcast(
        cloudpickle.dumps(predict))

    def run(batches: Iterable[pd.DataFrame]):
        fn = cloudpickle.loads(bc.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mu, v = fn(pdf[query_coord_cols].to_numpy(np.float64))
            yield _estimates(pdf, id_col, var, mu, v)

    return grid_df.mapInPandas(
        run, schema=f"{id_col} long, {var} double, {var}_variance double")


# ------------------------------------------------------------ global path


def _fit_global(model: KrigingModel, data: PointData, var: str,
                metric: Distance) -> dict:
    """Invert the full system once (reference ``exactsolve`` fit at
    krig.jl:176). Returns pickleable artifacts for broadcast."""
    X = data.coords
    return _fit_bordered(_regularized_cov(model.variogram, X, metric),
                         model.drift_matrix(X),
                         data.values[var].astype(np.float64), X=X)


def _predict_global(model: KrigingModel, fit: dict, qcoords: np.ndarray,
                    metric: Distance) -> tuple[np.ndarray, np.ndarray]:
    def rhs_of(q):
        return np.concatenate([
            _pairwise_cov(model.variogram, q, fit["X"], metric),
            model.drift_matrix(q),
        ], axis=1)

    return _predict_bordered(
        fit, rhs_of, qcoords, model.variogram.sill,
        model.mean if model.variant == "SK" else None)


# ------------------------------------------------------------- local path


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
    slots), one batched solve per `_solve_step` chunk — the local kernel
    of both the broadcast and the tiled gather (identical stacks ⇒
    identical results)."""
    m = model.drift_matrix(qcoords[:1]).shape[-1]
    return _by_rows(
        _solve_step(zn.shape[1] + m),
        lambda *a: _solve_chunk(model, *a, metric, minneighbors),
        qcoords, NC, zn, valid, dist)


def _solve_chunk(model: KrigingModel, qcoords, NC, zn, valid, dist,
                 metric: Distance, minneighbors: int):
    C, c0, vmask = _masked_cov(model.variogram, NC, valid, dist, metric)
    # where-mask, NOT multiply: padded slots hold placeholder coords, and
    # a user EDK drift non-finite there (log, sqrt, division) would turn
    # drift·0 into NaN and poison the whole system
    Fm = np.where(vmask[:, :, None] > 0, model.drift_matrix(NC), 0.0)
    f0 = model.drift_matrix(qcoords)
    # zero-neighbor rows (radius cut, empty region): their KKT block is
    # exactly [[I,0],[0,0]] — 1s on the Lagrange diagonal keep the
    # BATCHED solve on the fast path (the rows are NaN-masked in
    # `_local_result`)
    empty = (valid.sum(axis=1) == 0)[:, None, None]
    D = np.where(empty, np.eye(f0.shape[-1]), 0.0)
    rhs = np.concatenate([c0, f0], axis=1)  # (B, k+m)
    sol = _solve_bordered(C, Fm, D, rhs)

    w = sol[:, :zn.shape[1]] * vmask
    if model.variant == "SK":
        mu = model.mean + np.einsum("bk,bk->b", w, (zn - model.mean) * vmask)
    else:
        mu = np.einsum("bk,bk->b", w, zn * vmask)
    return _local_result(mu, sol, rhs, model.variogram.sill, valid,
                         minneighbors)


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
            return _estimates(pdf, id_col, var, mu, v)

        return solve_local(
            data, grid_df, var, kernel, schema, data_coord_cols,
            query_coord_cols, maxneighbors, minneighbors, metric, radius,
            id_col, strategy, tile_res,
            empty_msg=missing,
        )

    data = _collect(data, var, data_coord_cols)
    if data.n == 0:
        raise ValueError(missing)
    fit = _fit_global(model, data, var, metric)
    return _broadcast_predict(
        grid_df, partial(_predict_global, model, fit, metric=metric),
        query_coord_cols, id_col, var)
