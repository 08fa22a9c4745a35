"""Inverse distance weighting estimation (reference: IDWSolver,
``/root/reference/src/estimation/idw.jl:58-153``).

Semantics reproduced exactly:
* k nearest (or radius-bounded, ``src/ui.jl:25-31``) neighbors per cell,
  sorted by distance, ties by data id;
* fewer than ``minneighbors`` → NULL outputs (``idw.jl:121-122``);
* weights ``w = 1/d^exponent`` (``idw.jl:126``); any zero distance → emit
  that datum exactly with σ = 0 (``idw.jl:129-132``, first-in-sort-order =
  min data id among d=0);
* outputs ``var`` (weighted mean) and ``var_distance`` (min distance,
  ``idw.jl:137``).

Two realizations:
* `idw_agg_sql` — fully declarative join+groupBy aggregation (zero UDF;
  whole-stage codegen; the same SQL text runs on DuckDB for the oracle);
* `solve_idw` — one stacked-array kernel over gathered neighbor stacks,
  run by `tiled.solve_local` on the zero-shuffle broadcast path or the
  tiled big-big path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..distances import Distance, Euclidean
from ..neighbors import PointData
from .tiled import solve_local


def idw_agg_sql(pairs: str, var: str = "z", exponent: float = 1.0,
                minneighbors: int = 1, qid: str = "cell_id",
                round_to: int | None = None) -> str:
    """Aggregation over a kNN-pair relation ``pairs(qid, data_id, dist, z)``.

    Shared Spark-SQL/DuckDB dialect; implements A1 (weighted mean) + A2
    (zero-distance exactness) of SURVEY.md §2.4 as a pure groupBy.
    """
    # FILTER keeps zero distances out of the division: Spark ANSI mode
    # evaluates every CASE branch's aggregates, and the d=0 rows are
    # handled exactly by the min_by branch (idw.jl:129-132)
    wmean = (
        f"sum({var} / pow(dist, {exponent!r})) FILTER (WHERE dist > 0.0) / "
        f"sum(1.0 / pow(dist, {exponent!r})) FILTER (WHERE dist > 0.0)"
    )
    mu = (
        f"CASE WHEN count(*) < {minneighbors} THEN NULL "
        f"WHEN min(dist) = 0.0 THEN min_by({var}, data_id) FILTER (WHERE dist = 0.0) "
        f"ELSE {wmean} END"
    )
    sigma = (
        f"CASE WHEN count(*) < {minneighbors} THEN NULL "
        f"WHEN min(dist) = 0.0 THEN 0.0 ELSE min(dist) END"
    )
    if round_to is not None:
        # + 0.0 maps -0.0 to +0.0 (a no-op otherwise) so a sign-changing
        # variable cannot hash-diverge from a Spark twin that normalizes
        # (the gate's -0.0 contract; see __spark_entry__)
        mu = f"round({mu}, {round_to}) + 0.0"
        sigma = f"round({sigma}, {round_to}) + 0.0"
    return (
        f"SELECT {qid}, {mu} AS {var}, {sigma} AS {var}_distance "
        f"FROM {pairs} GROUP BY {qid}"
    )


def idw_stack(zn: np.ndarray, dist: np.ndarray, valid: np.ndarray,
              exponent: float) -> tuple[np.ndarray, np.ndarray]:
    """IDW over (B, k) neighbor stacks sorted by (dist, data_id), over the
    slots ``valid`` marks: per row the weighted mean ``mu`` and the
    minimum distance ``sigma``.  A row whose first valid slot is a zero
    distance returns that datum exactly with σ = 0 (idw.jl:129-132); its
    zero-distance slots get weight 0, so no product or quotient below
    meets an infinity."""
    with np.errstate(divide="ignore"):
        w = np.where(valid & (dist > 0.0), 1.0 / np.power(dist, exponent),
                     0.0)
    sw = w.sum(axis=1)
    mu = np.where(
        sw > 0, (w * np.where(valid, zn, 0.0)).sum(axis=1), np.nan
    )
    mu = mu / np.where(sw > 0, sw, 1.0)
    first = valid.argmax(axis=1)[:, None]
    zero = (np.take_along_axis(dist, first, axis=1)[:, 0] == 0.0) \
        & valid.any(axis=1)
    zfirst = np.take_along_axis(zn, first, axis=1)[:, 0]
    dmin = np.where(valid, dist, np.inf).min(axis=1)
    return np.where(zero, zfirst, mu), np.where(zero, 0.0, dmin)


# ----------------------------------------------------- compositional data


def closure(c: np.ndarray) -> np.ndarray:
    s = c.sum(axis=-1, keepdims=True)
    return c / s


def ilr(comp: np.ndarray) -> np.ndarray:
    """Isometric log-ratio transform (public CoDa math), (n, D) → (n, D-1)."""
    x = np.log(closure(comp))
    D = x.shape[-1]
    out = []
    for i in range(1, D):
        g = x[..., :i].mean(axis=-1)
        out.append(np.sqrt(i / (i + 1.0)) * (g - x[..., i]))
    return np.stack(out, axis=-1)


def ilr_inv(y: np.ndarray) -> np.ndarray:
    """(n, D-1) → (n, D) closed compositions."""
    D = y.shape[-1] + 1
    V = _helmert_basis(D)  # ilr basis is orthonormal ⇒ clr = y · Vᵀ
    return closure(np.exp(y @ V.T))


def _helmert_basis(D: int) -> np.ndarray:
    """Orthonormal basis of the clr hyperplane matching `ilr` above:
    row i (1-based) = sqrt(i/(i+1)) * [1/i ×i, −1, 0...]."""
    V = np.zeros((D, D - 1))
    for i in range(1, D):
        v = np.zeros(D)
        v[:i] = 1.0 / i
        v[i] = -1.0
        v = v * np.sqrt(i / (i + 1.0))
        V[:, i - 1] = v
    return V


def aitchison(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Aitchison distance = Euclidean distance between ilr coordinates."""
    return np.sqrt(((ilr(a) - ilr(b)) ** 2).sum(axis=-1))


def solve_idw_compositional(
    data: DataFrame,
    grid_df: DataFrame,
    var: str = "z",
    data_coord_cols: list[str] | None = None,
    query_coord_cols: list[str] | None = None,
    maxneighbors: int | None = None,
    minneighbors: int = 1,
    exponent: float = 1.0,
    metric: Distance = Euclidean(),
    id_col: str = "cell_id",
    strategy: str = "auto",
    tile_res: int | None = None,
) -> DataFrame:
    """IDW over composition-valued columns (reference:
    ``test/estimation/idw.jl:47-65``): spatial neighbor search + weighted
    mean in ilr space (the Fréchet mean of the Aitchison geometry), output
    re-closed compositions as an array column.

    The composition array column is expanded into (D−1) ilr coordinate
    columns + D part columns, so both physical strategies (``strategy`` as
    in `solve_idw`) gather plain scalar stacks for one kernel."""
    data_coord_cols = data_coord_cols or ["x", "y"]
    query_coord_cols = query_coord_cols or ["cx", "cy"]
    # shared by BOTH strategies (the broadcast path must reject the same
    # inputs the tiled path does — idw.jl:95)
    if minneighbors < 1:
        raise ValueError("minneighbors must be >= 1")
    if maxneighbors is not None and minneighbors > maxneighbors:
        raise ValueError("invalid min/max number of neighbors")
    # D from one data row — a bounded driver action (first row only)
    first = data.filter(f"{var} IS NOT NULL").select(var).first()
    if first is None:
        raise ValueError("estimation requires data")
    D = len(first[0])
    ycols = [f"_y{j}" for j in range(D - 1)]
    ccols = [f"_c{j}" for j in range(D)]
    ids = ["data_id"] if "data_id" in data.columns else []
    keep = ids + data_coord_cols

    def expand_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            comp = np.stack(pdf[var].to_numpy())
            Y = ilr(comp)
            out = pdf[keep].copy()
            for j in range(D - 1):
                out[ycols[j]] = Y[:, j]
            for j in range(D):
                out[ccols[j]] = comp[:, j]
            yield out

    exp_schema = ", ".join(
        [f"{c} long" for c in ids]
        + [f"{c} double" for c in data_coord_cols + ycols + ccols]
    )

    def expand(df: DataFrame) -> DataFrame:
        return df.select(*keep, var).mapInPandas(
            expand_batches, schema=exp_schema
        )

    def kernel(pdf, qcoords, NC, vals, dist, valid):
        Yd = np.stack([vals[c] for c in ycols], axis=-1)
        Cd = np.stack([vals[c] for c in ccols], axis=-1)
        with np.errstate(divide="ignore"):
            w = np.where(valid, 1.0 / np.power(dist, exponent), 0.0)
        finite_w = np.where(np.isfinite(w), w, 0.0)
        sw = finite_w.sum(axis=1, keepdims=True)
        sw = np.where(sw > 0, sw, 1.0)
        ym = np.einsum("nk,nkd->nd", finite_w / sw, Yd)
        out = ilr_inv(ym)
        zero = (dist[:, 0] == 0.0) & valid[:, 0]
        out[zero] = closure(Cd[:, 0][zero])
        few = valid.sum(axis=1) < minneighbors
        rows = [None if f else row.tolist() for f, row in zip(few, out)]
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(np.int64),
            var: rows,
        })

    return solve_local(
        data, grid_df, var, kernel, f"{id_col} long, {var} array<double>",
        data_coord_cols, query_coord_cols, maxneighbors, minneighbors,
        metric, None, id_col, strategy, tile_res,
        value_cols=ycols + ccols, expand=expand,
    )


def solve_idw(
    data: DataFrame | PointData,
    grid_df: DataFrame,
    var: str = "z",
    data_coord_cols: list[str] | None = None,
    query_coord_cols: list[str] | None = None,
    maxneighbors: int | None = 3,
    minneighbors: int = 1,
    exponent: float = 1.0,
    metric: Distance = Euclidean(),
    radius: float | None = None,
    id_col: str = "cell_id",
    strategy: str = "auto",
    tile_res: int | None = None,
) -> DataFrame:
    """IDW solve. ``grid_df`` must carry ``id_col`` and the query
    coordinate columns (e.g. cx, cy from `CartesianGrid.spark_df`).

    ``strategy`` as in `tiled.solve_local`: 'auto' routes a DataFrame data
    side above `planner.BROADCAST_LIMIT` rows through the distributed
    tiled join."""
    data_coord_cols = data_coord_cols or ["x", "y"]
    query_coord_cols = query_coord_cols or ["cx", "cy"]
    if minneighbors < 1:
        raise ValueError("minneighbors must be >= 1")
    if exponent <= 0:
        raise ValueError("exponent must be positive")  # idw.jl:94

    def kernel(pdf, qcoords, NC, vals, dist, valid):
        mu, sigma = idw_stack(vals[var], dist, valid, exponent)
        few = valid.sum(axis=1) < minneighbors
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(np.int64),
            var: np.where(few, np.nan, mu),
            f"{var}_distance": np.where(few, np.nan, sigma),
        })

    return solve_local(
        data, grid_df, var, kernel,
        f"{id_col} long, {var} double, {var}_distance double",
        data_coord_cols, query_coord_cols, maxneighbors, minneighbors,
        metric, radius, id_col, strategy, tile_res,
    )
