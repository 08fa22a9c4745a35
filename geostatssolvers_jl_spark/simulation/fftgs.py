"""FFT Gaussian simulation (reference: FFTGS,
``/root/reference/src/simulation/fft.jl:51-198``).

Preprocess (once): covariance image of the grid against its center cell
(``fft.jl:96-99``), spectrum ``F = √|fft(fftshift(C))|`` with the DC
component zeroed (``fft.jl:102-103``).  Per realization: phase-randomize
with white noise (``fft.jl:163``), inverse FFT (166), rescale to the target
sill and mean (169-170).  Conditioning (176-192): kriging residual
``z̄ + (zᵤ − z̄ᵤ)``, realized here through the linearity of kriging as one
kriging solve of the *residuals* per realization.

Spark realization: the ensemble is the parallel axis — ``spark.range
(nreals)`` feeds a ``mapInPandas`` that computes one full-grid FFT per
realization (numpy, single-threaded per task; partition parallelism
replaces the reference's FFTW threads, ``fft.jl:73``).  Each realization
is seeded ``(seed, real_id)`` — deterministic under any partitioning,
unlike the reference's shared global RNG (``fft.jl:59``).

Grid-size note: one realization must fit an executor (~10⁷ cells); the
reference has the same single-image constraint.  Larger domains → tile
with overlap ≥ 3× correlation range (the reference's own validity rule,
``fft.jl:46-47``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..distances import (
    Anisotropic, Distance, Euclidean, validate_planar_metric,
)
from ..grid import CartesianGrid
from ..variogram import Variogram, require_stationary


def _axis_scales(grid: CartesianGrid, metric: Distance | None) -> list[float]:
    """Per-axis 1/rᵢ scaling realizing the ellipsoid (MetricBall) metric;
    identity for Euclidean (validation shared via
    `distances.validate_planar_metric`)."""
    validate_planar_metric(metric, grid.ndims, "FFTGS")
    if isinstance(metric, Anisotropic):
        return [1.0 / r for r in metric.radii]
    return [1.0] * grid.ndims


def _cov_image(
    grid: CartesianGrid, gamma: Variogram, metric: Distance | None = None,
) -> np.ndarray:
    """C(center, every cell) reshaped to dims, Fortran (column-major)
    layout to match the reference's LinearIndices cell order.  With an
    Anisotropic metric (GeoStats `GaussianVariogram(MetricBall((r1,r2)))`,
    test/simulation/lu.jl:59) lags are scaled per axis before the
    variogram is evaluated."""
    dims = grid.dims
    scales = _axis_scales(grid, metric)
    idx = [np.arange(1, d + 1, dtype=np.float64) for d in dims]
    centers = [
        o + (ix - 0.5) * s for o, s, ix in zip(grid.origin, grid.spacing, idx)
    ]
    cidx = [d // 2 for d in dims]  # CartesianIndex(dims .÷ 2), 1-based
    ccoord = [
        o + (ci - 0.5) * s for o, s, ci in zip(grid.origin, grid.spacing, cidx)
    ]
    mesh = np.meshgrid(*centers, indexing="ij")
    h2 = sum(
        ((mx - cc) * sc) ** 2
        for mx, cc, sc in zip(mesh, ccoord, scales)
    )
    return gamma.cov(np.sqrt(h2))


def _spectrum(
    grid: CartesianGrid, variogram: Variogram, metric: Distance | None,
) -> np.ndarray:
    """``F = √|fft(fftshift(C))|`` with the DC component (the reference
    level) zeroed, fft.jl:102-103."""
    F = np.sqrt(np.abs(np.fft.fftn(np.fft.fftshift(
        _cov_image(grid, variogram, metric)))))
    F.flat[0] = 0.0
    return F


def _field(
    F: np.ndarray, sill: float, mean: float, rng: np.random.Generator,
) -> np.ndarray:
    """One unconditional field: phase-randomize the spectrum with white
    noise (fft.jl:163), inverse FFT (166), rescale to the target sill and
    mean (169-170)."""
    noise = rng.random(F.shape)
    P = F * np.exp(1j * np.angle(np.fft.fftn(noise)))
    Z = np.real(np.fft.ifftn(P))
    sigma2 = np.mean(Z * Z)  # var with mean=0, fft.jl:169
    return np.sqrt(sill / sigma2) * Z + mean


def _tile_layout(
    grid: CartesianGrid, tile_dims: tuple[int, int], variogram: Variogram,
    metric: Distance | None = None,
) -> list[dict]:
    """Tile the 2-D grid with halos ≥ 3× the correlation range per side
    (the reference's own circulant-validity rule, fft.jl:46-47).  Each
    entry: interior [ix0, ix1) × [iy0, iy1) and extended (haloed, clipped
    at the domain) [ex0, ex1) × [ey0, ey1) index ranges."""
    nx, ny = grid.dims
    # effective range along axis i under the ellipsoid metric is
    # range / scale_i (= range * r_i for Anisotropic((r1, r2)))
    sx_m, sy_m = _axis_scales(grid, metric)
    hx = int(np.ceil(3.0 * variogram.range / sx_m / grid.spacing[0]))
    hy = int(np.ceil(3.0 * variogram.range / sy_m / grid.spacing[1]))
    tx, ty = tile_dims
    sx, sy = -(-nx // tx), -(-ny // ty)
    tiles = []
    for t in range(tx * ty):
        a, b = t % tx, t // tx
        ix0, ix1 = a * sx, min(nx, (a + 1) * sx)
        iy0, iy1 = b * sy, min(ny, (b + 1) * sy)
        if ix0 >= ix1 or iy0 >= iy1:
            continue
        tiles.append({
            "t": t,
            "ix0": ix0, "ix1": ix1, "iy0": iy0, "iy1": iy1,
            "ex0": max(0, ix0 - hx), "ex1": min(nx, ix1 + hx),
            "ey0": max(0, iy0 - hy), "ey1": min(ny, iy1 + hy),
        })
    return tiles


def _tile_field(
    grid: CartesianGrid, tl: dict, variogram: Variogram, mean: float,
    seed: int, real_id: int, spec_cache: dict,
    metric: Distance | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One tile's interior field + its global cell ids.  The spectrum is
    cached per extended-tile SHAPE (shared by all interior tiles)."""
    ex0, ex1, ey0, ey1 = tl["ex0"], tl["ex1"], tl["ey0"], tl["ey1"]
    edims = (ex1 - ex0, ey1 - ey0)
    if edims not in spec_cache:
        sub = CartesianGrid(
            edims,
            (grid.origin[0] + ex0 * grid.spacing[0],
             grid.origin[1] + ey0 * grid.spacing[1]),
            grid.spacing,
        )
        spec_cache[edims] = _spectrum(sub, variogram, metric)
    # (seed, real, tile) stream — deterministic under any partitioning;
    # tiles are independent fields (documented seam approximation: the
    # halo keeps each interior stationary/wrap-free, it does not stitch
    # covariance ACROSS tile boundaries)
    Z = _field(spec_cache[edims], variogram.sill, mean,
               np.random.default_rng((seed, int(real_id), int(tl["t"]))))
    ix0, ix1, iy0, iy1 = tl["ix0"], tl["ix1"], tl["iy0"], tl["iy1"]
    Zi = Z[ix0 - ex0: ix1 - ex0, iy0 - ey0: iy1 - ey0]
    nx = grid.dims[0]
    ii = np.arange(ix0, ix1)
    jj = np.arange(iy0, iy1)
    ids = jj[None, :] * nx + ii[:, None]
    return Zi.ravel(order="F"), ids.ravel(order="F")


def solve_fftgs(
    spark: SparkSession,
    grid: CartesianGrid,
    nreals: int,
    variogram: Variogram,
    mean: float = 0.0,
    data: DataFrame | None = None,
    var: str = "z",
    data_coord_cols: list[str] | None = None,
    seed: int = 0,
    maxneighbors: int | None = None,
    krig_radius: float | None = None,
    tile_dims: tuple[int, int] | None = None,
    metric: Distance | None = None,
) -> DataFrame:
    """Returns a long DataFrame (real_id, cell_id, z) — the Ensemble sink
    (SURVEY §2.1 S4), realizations as the partition key.

    ``tile_dims``: split the (2-D) grid into tiles, each simulated with a
    halo ≥ 3× the correlation range (the reference's validity rule) — the
    scale path when one full-grid FFT image exceeds executor memory; the
    parallel axis becomes (realization × tile).
    """
    require_stationary(variogram, "FFTGS")
    if tile_dims is not None:
        if grid.ndims != 2:
            raise ValueError("tile_dims requires a 2-D grid")
        return _solve_fftgs_tiled(
            spark, grid, nreals, variogram, mean, data, var,
            data_coord_cols, seed, maxneighbors, krig_radius, tile_dims,
            metric,
        )
    bc = spark.sparkContext.broadcast(
        (_spectrum(grid, variogram, metric), variogram.sill, mean, seed))

    ncells = grid.ncells

    def realization(real_id: int) -> np.ndarray:
        Fb, sill, mu, sd = bc.value
        return _field(Fb, sill, mu, np.random.default_rng((sd, real_id)))

    def gen(batches):
        for pdf in batches:
            for real_id in pdf["id"].tolist():
                Z = realization(real_id)
                yield pd.DataFrame({
                    "real_id": np.full(ncells, real_id, dtype=np.int64),
                    "cell_id": np.arange(ncells, dtype=np.int64),
                    var: Z.ravel(order="F"),  # column-major linear index
                })

    if data is None:
        return (
            spark.range(nreals, numPartitions=min(nreals, 64))
            .mapInPandas(gen, schema=f"real_id long, cell_id long, {var} double")
        )

    # ---- conditioning: z = zᵤ + SK(resid at data cells), fft.jl:176-192 --
    # The residual-kriging correction runs INSIDE the realization task:
    # each task already holds its full-grid zᵤ, the (small, broadcast)
    # conditioning data gives resid = zdat − zᵤ[data cells] locally, and
    # `_residual_kriging` reuses the real-independent inverse or search
    # geometry across the task's realizations.  One job, no per-realization
    # driver loop, no nreals-way union tree, no (real, cell) re-join.
    _, cond = _conditioning(grid, data, var, data_coord_cols, variogram,
                            maxneighbors, krig_radius, metric)
    bc_cond = spark.sparkContext.broadcast(cond)
    chunk = 262_144
    # cache the per-chunk search geometry while it stays bounded
    cache_ok = ncells * min(maxneighbors or 0, len(cond[0])) <= 16_000_000

    def gen_cond(batches):
        ids_d, zd = bc_cond.value[:2]
        correction = _residual_kriging(bc_cond.value)
        for pdf in batches:
            for real_id in pdf["id"].tolist():
                zu = realization(real_id).ravel(order="F")
                resid = zd - zu[ids_d]
                z = zu + np.concatenate([
                    correction(
                        resid, grid.centroids_np(
                            np.arange(s, min(ncells, s + chunk))),
                        s if cache_ok else None)
                    for s in range(0, ncells, chunk)
                ])
                z[ids_d] = zd  # hard data bit-exact at data cells
                yield pd.DataFrame({
                    "real_id": np.full(ncells, real_id, dtype=np.int64),
                    "cell_id": np.arange(ncells, dtype=np.int64),
                    var: z,
                })

    return (
        spark.range(nreals, numPartitions=min(nreals, 64))
        .mapInPandas(
            gen_cond, schema=f"real_id long, cell_id long, {var} double"
        )
    )


def _conditioning(
    grid: CartesianGrid, data: DataFrame, var: str,
    data_coord_cols: list[str] | None, variogram: Variogram,
    maxneighbors: int | None, krig_radius: float | None,
    metric: Distance | None,
) -> tuple[DataFrame, tuple]:
    """The conditioning set: data snapped to grid cells, one survivor per
    cell (fft.jl:133) picked DETERMINISTICALLY (min value —
    dropDuplicates varies with partitioning).  Returns the (cell_id,
    zdat) relation and the collected residual-kriging inputs for
    `_residual_kriging` (sorted cell ids, values, centroids, the SK
    model on residuals, k, radius, metric).  Size bound: ≤ one row per
    grid cell holding data, like the reference's in-memory data view.
    Fails loud on an empty set: the tiled path's inner join would
    otherwise silently return ZERO rows."""
    from pyspark.sql import functions as Fn

    from ..operators.kriging import KrigingModel

    snap = grid.snap_cell_expr(tuple(data_coord_cols or ["x", "y"]),
                               "cell_id")
    dcells = (
        data.filter(f"{var} IS NOT NULL")
        .selectExpr(f"{snap} AS cell_id", f"{var} AS zdat")
        .groupBy("cell_id").agg(Fn.min("zdat").alias("zdat"))
    )
    dpdf = dcells.toPandas().sort_values("cell_id")
    if len(dpdf) == 0:
        raise ValueError(
            "conditional FFTGS requested but the conditioning data has "
            "no usable rows (all values NULL after the non-missing "
            "filter); pass data=None for an unconditional simulation"
        )
    ids = dpdf["cell_id"].to_numpy(np.int64)
    return dcells, (
        ids, dpdf["zdat"].to_numpy(np.float64), grid.centroids_np(ids),
        KrigingModel(variogram=variogram, mean=0.0), maxneighbors,
        krig_radius, metric if metric is not None else Euclidean(),
    )


def _residual_kriging(cond: tuple):
    """One task's residual correction ``(resid, q, key) -> corr``: simple
    kriging (mean 0) of a realization's residuals at the cells ``q``,
    0 where it is undefined.  The global inverse and the local search
    geometry do not depend on the realization, so the task computes the
    inverse once and caches the geometry under ``key`` (None: no cache).
    One `PointData` per task: its bucket index is built lazily per object."""
    from ..neighbors import PointData, search
    from ..operators.kriging import (
        _fit_global, _predict_global, solve_systems,
    )

    ids_d, _, Xd, model, kmax, rad, met = cond
    data = PointData(coords=Xd, values={}, ids=ids_d)
    fit: dict = {}
    geom: dict = {}

    def correction(resid, q, key):
        if kmax is None:
            if not fit:
                fit.update(_fit_global(
                    model, PointData(Xd, {"z": resid}, ids_d), "z", met))
            corr = _predict_global(model, dict(fit, z=resid), q, met)[0]
        else:
            if key in geom:
                idx, dist = geom[key]
            else:
                idx, dist, _ = search(data, q, min(kmax, len(ids_d)), met,
                                      rad)
                if key is not None:
                    geom[key] = (idx, dist)
            valid = idx >= 0
            safe = np.maximum(idx, 0)
            corr = solve_systems(model, q, Xd[safe], resid[safe] * valid,
                                 valid, dist, met, 1)[0]
        return np.where(np.isfinite(corr), corr, 0.0)

    return correction


def _solve_fftgs_tiled(
    spark: SparkSession,
    grid: CartesianGrid,
    nreals: int,
    variogram: Variogram,
    mean: float,
    data: DataFrame | None,
    var: str,
    data_coord_cols: list[str] | None,
    seed: int,
    maxneighbors: int | None,
    krig_radius: float | None,
    tile_dims: tuple[int, int],
    metric: Distance | None = None,
) -> DataFrame:
    """Tiled-halo FFTGS.  Unconditional: one job over (real × tile) units.
    Conditional: pass A evaluates zᵤ at the data-bearing tiles, residuals
    stay a DISTRIBUTED (real_id, cell_id, resid) relation gathered into
    one canonical-order vector per realization and shuffle-joined to the
    (real × tile) units; pass B simulates every unit and applies the
    residual-kriging correction in-task.  One logical pipeline, RNG
    streams (seed, real, tile) identical in both passes, no driver-side
    per-realization loop and no driver-sized residual matrix (the
    reference factorizes the same conditioning data in one process,
    ``fft.jl:106-134`` — the engine distributes it instead)."""
    tiles = _tile_layout(grid, tile_dims, variogram, metric)
    schema = f"real_id long, cell_id long, {var} double"
    nunits = nreals * len(tiles)
    bc = spark.sparkContext.broadcast(
        (grid, tiles, variogram, mean, seed, metric)
    )

    def gen_uncond(batches):
        g_, tl_, vg_, mu_, sd_, met_ = bc.value
        cache: dict = {}
        for pdf in batches:
            for unit in pdf["id"].tolist():
                real_id, ti = int(unit) // len(tl_), int(unit) % len(tl_)
                z, ids = _tile_field(
                    g_, tl_[ti], vg_, mu_, sd_, real_id, cache, met_
                )
                yield pd.DataFrame({
                    "real_id": np.full(len(ids), real_id, dtype=np.int64),
                    "cell_id": ids.astype(np.int64),
                    var: z,
                })

    units = spark.range(nunits, numPartitions=min(nunits, 64))
    if data is None:
        return units.mapInPandas(gen_uncond, schema=schema)

    # ---- conditional: pass A — zᵤ at data cells ------------------------
    from pyspark.sql import functions as Fn

    dcells, cond = _conditioning(grid, data, var, data_coord_cols,
                                 variogram, maxneighbors, krig_radius,
                                 metric)
    dcell_ids = cond[0]
    nx = grid.dims[0]
    di, dj = dcell_ids % nx, dcell_ids // nx
    data_tiles = sorted({
        ti for ti, tl in enumerate(tiles)
        if ((di >= tl["ix0"]) & (di < tl["ix1"])
            & (dj >= tl["iy0"]) & (dj < tl["iy1"])).any()
    })
    bc_cond = spark.sparkContext.broadcast(cond)

    def gen_at_data(batches):
        g_, tl_, vg_, mu_, sd_, met_ = bc.value
        ids_d, dts = bc_cond.value[0], data_tiles
        cache: dict = {}
        for pdf in batches:
            for unit in pdf["id"].tolist():
                real_id, k_ = int(unit) // len(dts), int(unit) % len(dts)
                tl = tl_[dts[k_]]
                z, ids = _tile_field(
                    g_, tl, vg_, mu_, sd_, real_id, cache, met_
                )
                m_ = np.isin(ids, ids_d)
                yield pd.DataFrame({
                    "real_id": np.full(int(m_.sum()), real_id, dtype=np.int64),
                    "cell_id": ids[m_].astype(np.int64),
                    var: z[m_],
                })

    # ---- residuals as a DISTRIBUTED (real_id, cell_id, resid) relation --
    # The former design collected every (real, data cell) unconditional
    # value to the driver and broadcast a dense nreals × ndata residual
    # matrix — the engine's last driver-sized artifact, and the first
    # thing to break at dense conditioning × large ensembles.  Now the
    # residuals never touch the driver: pass A's output joins the (small,
    # broadcast) conditioning values, residuals are gathered into ONE
    # canonical-order vector per realization (sort_array on
    # struct(cell_id, resid) — the same sorted-dcell order the matrix
    # rows used), and each (real × tile) unit receives exactly its
    # real's vector through an ordinary shuffle join.  Executor-side
    # arithmetic is unchanged (resid = zdat − zᵤ in IEEE double either
    # way), so results are bit-identical to the broadcast-matrix form.
    zu_df = (
        spark.range(nreals * len(data_tiles),
                    numPartitions=min(nreals * len(data_tiles), 64))
        .mapInPandas(gen_at_data, schema=schema)
    )
    resid_df = (
        zu_df.join(Fn.broadcast(dcells), "cell_id")
        .select(
            "real_id", "cell_id",
            (Fn.col("zdat") - Fn.col(var)).alias("resid"),
        )
    )
    per_real = (
        resid_df.groupBy("real_id")
        .agg(Fn.sort_array(
            Fn.collect_list(Fn.struct("cell_id", "resid"))
        ).alias("_rs"))
        .select(
            "real_id",
            Fn.expr("transform(_rs, s -> s.cell_id)").alias("rs_cells"),
            Fn.expr("transform(_rs, s -> s.resid)").alias("rs_resid"),
        )
    )
    units_df = (
        units.select(
            Fn.expr(f"id DIV {len(tiles)}").alias("real_id"),
            Fn.expr(f"id % {len(tiles)}").alias("ti"),
        )
        .join(per_real, "real_id")
        # the join hashes on real_id, which would funnel ALL of a real's
        # tiles into one task — re-spread the (real × tile) units so the
        # per-tile FFT work keeps its parallelism
        .repartition(min(nunits, 64), "real_id", "ti")
    )

    def gen_cond(batches):
        g_, tl_, vg_, mu_, sd_, met_ = bc.value
        ids_d, zd = bc_cond.value[:2]
        correction = _residual_kriging(bc_cond.value)
        cache: dict = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                real_id, ti = int(row.real_id), int(row.ti)
                z, ids = _tile_field(
                    g_, tl_[ti], vg_, mu_, sd_, real_id, cache, met_
                )
                cells = np.asarray(row.rs_cells, dtype=np.int64)
                resid = np.asarray(row.rs_resid, dtype=np.float64)
                # fail-loudly contract of the former _residual_matrix:
                # the per-real vector must cover EXACTLY the conditioning
                # cells, in canonical order (a missing or stray cell
                # would silently misalign the kriging right-hand side)
                if not np.array_equal(cells, ids_d):
                    raise ValueError(
                        "per-real residual vector does not match the "
                        "conditioning cell set"
                    )
                z = z + correction(resid, g_.centroids_np(ids), None)
                m_ = np.isin(ids, ids_d)
                if m_.any():
                    z[m_] = zd[np.searchsorted(ids_d, ids[m_])]
                yield pd.DataFrame({
                    "real_id": np.full(len(ids), real_id, dtype=np.int64),
                    "cell_id": ids.astype(np.int64),
                    var: z,
                })

    return units_df.mapInPandas(gen_cond, schema=schema)
