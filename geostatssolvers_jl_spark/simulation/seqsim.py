"""Sequential simulation (reference: SeqSim + SGS,
``/root/reference/src/simulation/seq.jl:30-141``, ``sgs.jl:44-89``).

Semantics per realization (seq.jl:102-135): initialize the realization
buffer from data via nearest-cell assignment (``NearestInit`` — data values
land on their nearest grid cells and are marked simulated, which is what
makes the reference's conditioning-exactness golden hold,
``test/simulation/sgs.jl:18-20``); traverse the remaining cells along a
path; at each cell search ≤ maxneighbors *already-simulated* neighbors
(masked kNN, J3 of SURVEY §2.3), fit the CDF estimator (SGS: Simple
Kriging → conditional Normal), draw; mark simulated.

Spark realization: sequential dependence is fundamentally at odds with a
shuffle-based engine, so the *whole sequential loop* runs inside one task
per (tile, realization) — ``spark.range(nreals × ntiles)`` →
``mapInPandas``.  Tiles partition the grid; each tile conditions on ALL
original data (broadcast) plus its own already-simulated cells, but not on
other tiles' simulated values — a documented approximation that preserves
the reference's exactness golden (data cells are fixed before any draw)
and converges to the exact algorithm as maxneighbors' reach stays inside
one tile.  ``tiles=1`` reproduces the reference exactly.

RNG is ``(seed, real_id, tile)`` — deterministic under any partitioning
(the reference's shared global RNG cannot provide this; SURVEY §7 makes it
a requirement).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..distances import (
    Anisotropic, Distance, Euclidean, validate_planar_metric,
)
from ..grid import CartesianGrid
from ..session import sql_arg
from ..variogram import GaussianVariogram, Variogram, require_stationary
from .lugs import _centroids


@dataclass(frozen=True)
class SGSParams:
    variogram: Variogram = field(default_factory=GaussianVariogram)
    mean: float = 0.0
    minneighbors: int = 1
    maxneighbors: int = 10
    radius: float | None = None          # MetricBall neighborhood
    # "linear" | "random" | "multigrid" — the reference's path protocol
    # (LinearPath/RandomPath/MultiGridPath, src/estimation/idw.jl:55,
    # exercised at test/estimation/krig.jl:85): multigrid visits a
    # coarse-to-fine lattice so early draws condition the whole domain
    path: str = "linear"
    # pluggable CDF-estimator protocol (reference: SeqSim's `estimator`
    # with fit/predictprob, seq.jl:31 + test/dummy.jl:10-13): a callable
    # (rng, query_xy, neigh_xy, neigh_z) -> drawn value.  None → the SGS
    # Simple-Kriging conditional Normal (sgs.jl:64-69).
    estimator: object | None = None
    # few-neighbor fallback draw (rng -> value); None → the SGS marginal
    # Normal(mean, sill).  Categorical estimators (SIS) must override it
    # — a Gaussian draw is not a category.
    marginal: object | None = None
    # ellipsoid (MetricBall) neighborhoods: Anisotropic((r1, r2)) with a
    # range-1 variogram = GeoStats `GaussianVariogram(MetricBall((r1,r2)))`
    # (test/simulation/lu.jl:59).  Coordinates are scaled ONCE per tile;
    # radius/variogram then act in metric units.  Haversine is rejected —
    # grid simulation is planar.
    metric: Distance = field(default_factory=Euclidean)


def _sk_draw(
    rng, vg: Variogram, mean: float, qxy: np.ndarray,
    nxy: np.ndarray, nz: np.ndarray,
) -> float:
    """Simple-Kriging conditional Normal draw at one location."""
    d = nxy - qxy[None, :]
    h0 = np.sqrt((d * d).sum(axis=1))
    dd = nxy[:, None, :] - nxy[None, :, :]
    H = np.sqrt((dd * dd).sum(axis=2))
    C = vg.cov(H)
    c0 = vg.cov(h0)
    try:
        lam = np.linalg.solve(C, c0)
    except np.linalg.LinAlgError:
        lam = np.linalg.lstsq(C, c0, rcond=None)[0]
    mu = mean + lam @ (nz - mean)
    var = max(vg.sill - lam @ c0, 0.0)
    return mu + np.sqrt(var) * rng.standard_normal()


def _multigrid_order(pts: np.ndarray) -> np.ndarray:
    """MultiGridPath traversal (reference path protocol): visit the cells
    on a coarse lattice first, then halve the stride until every cell is
    visited — deterministic, vectorized.  Per-axis lattice indices come
    from the rank of each coordinate among its axis' unique values, so the
    path works for any (sub)grid handed to a tile."""
    n, dim = pts.shape
    idx = []
    for a in range(dim):
        uniq = np.unique(pts[:, a])
        idx.append(np.searchsorted(uniq, pts[:, a]))
    max_span = max(int(i.max()) + 1 if n else 1 for i in idx)
    stride = 1
    while stride * 2 < max_span:
        stride *= 2
    visited = np.zeros(n, dtype=bool)
    chunks = []
    while stride >= 1:
        on = ~visited
        for i in idx:
            on &= (i % stride) == 0
        sel = np.nonzero(on)[0]
        chunks.append(sel)
        visited[sel] = True
        stride //= 2
    return np.concatenate(chunks) if chunks else np.arange(n)


class _IncrementalBuckets:
    """Insert-as-you-go bucket grid over the tile's (fixed) candidate
    points — the reference's per-realization kd-tree rebuild
    (``seq.jl:105``) replaced by O(1) inserts + certified ring queries.
    The full per-cell rescan it replaces is O(tile²) in total."""

    def __init__(self, pts: np.ndarray, target: int = 24):
        self.pts = pts
        n, dim = pts.shape
        self.dim2 = min(dim, 2)
        P = pts[:, : self.dim2]
        if self.dim2 == 1:
            P = np.column_stack([P[:, 0], np.zeros(n)])
        self.P = P
        lo = P.min(axis=0)
        span = np.maximum(P.max(axis=0) - lo, 1e-9)
        nb = max(1, int(np.sqrt(max(n, 1) / target)))
        aspect = span[0] / span[1] if span[1] > 1e-9 else float(n)
        self.nbx = max(1, int(round(nb * np.sqrt(min(aspect, n)))))
        self.nby = max(1, nb * nb // self.nbx)
        self.lo, self.span = lo, span
        self.wx = span[0] / self.nbx
        self.wy = span[1] / self.nby
        bx = np.clip(((P[:, 0] - lo[0]) / span[0] * self.nbx).astype(np.int64),
                     0, self.nbx - 1)
        by = np.clip(((P[:, 1] - lo[1]) / span[1] * self.nby).astype(np.int64),
                     0, self.nby - 1)
        self.bx, self.by = bx, by
        self.lists: list[list[int]] = [
            [] for _ in range(self.nbx * self.nby)
        ]

    def insert(self, i: int) -> None:
        self.lists[self.by[i] * self.nbx + self.bx[i]].append(int(i))

    def _edge_bound(self, x: float, y: float, bx: int, by: int, r: int) -> float:
        """Lower bound on distance to any point OUTSIDE the (2r+1)² bucket
        window; edges on the tile bbox are droppable (no points beyond)."""
        b = np.inf
        if bx - r > 0:
            b = min(b, x - (self.lo[0] + (bx - r) * self.wx))
        if bx + r < self.nbx - 1:
            b = min(b, (self.lo[0] + (bx + r + 1) * self.wx) - x)
        if by - r > 0:
            b = min(b, y - (self.lo[1] + (by - r) * self.wy))
        if by + r < self.nby - 1:
            b = min(b, (self.lo[1] + (by + r + 1) * self.wy) - y)
        return max(b, 0.0)

    def query(self, i: int, k: int, radius: float | None
              ) -> tuple[np.ndarray, np.ndarray]:
        """EXACT k nearest inserted points to point i, canonical
        (dist, index) order; same full-dim distance as the dense path."""
        x, y = self.P[i, 0], self.P[i, 1]
        bx, by = int(self.bx[i]), int(self.by[i])
        max_r = max(self.nbx, self.nby)
        cand: list[int] = []
        r = 0
        while True:
            # gather the ring at Chebyshev distance exactly r
            x0, x1 = max(0, bx - r), min(self.nbx - 1, bx + r)
            y0, y1 = max(0, by - r), min(self.nby - 1, by + r)
            if r == 0:
                cand.extend(self.lists[by * self.nbx + bx])
            else:
                for yy in range(y0, y1 + 1):
                    if yy in (by - r, by + r):
                        for xx in range(x0, x1 + 1):
                            cand.extend(self.lists[yy * self.nbx + xx])
                    else:
                        if bx - r >= 0:
                            cand.extend(self.lists[yy * self.nbx + bx - r])
                        if bx + r <= self.nbx - 1:
                            cand.extend(self.lists[yy * self.nbx + bx + r])
            covered_all = (
                x0 == 0 and y0 == 0
                and x1 == self.nbx - 1 and y1 == self.nby - 1
            )
            bound = self._edge_bound(x, y, bx, by, r)
            # conservative slack: bucket-edge FP rounding and exact grid-
            # distance ties across the window edge must expand, not certify
            safe = bound - 1e-9 * (1.0 + abs(bound)) if np.isfinite(bound) \
                else np.inf
            enough = len(cand) >= k
            ball_done = radius is not None and safe >= radius
            if covered_all or ball_done or enough:
                idx = np.asarray(cand, dtype=np.int64)
                if idx.size == 0:
                    if covered_all or ball_done:
                        return idx, np.empty(0)
                    r += 1
                    continue
                d = self.pts[idx] - self.pts[i][None, :]
                dist = np.sqrt((d * d).sum(axis=1))
                if radius is not None:
                    keep = dist <= radius
                    idx, dist = idx[keep], dist[keep]
                o = np.lexsort((idx, dist))[:k]
                idx, dist = idx[o], dist[o]
                kth = dist[-1] if idx.size >= k else np.inf
                if covered_all or ball_done or kth <= safe:
                    return idx, dist
            if r >= max_r:
                idx = np.asarray(cand, dtype=np.int64)
                d = self.pts[idx] - self.pts[i][None, :]
                dist = np.sqrt((d * d).sum(axis=1))
                if radius is not None:
                    keep = dist <= radius
                    idx, dist = idx[keep], dist[keep]
                o = np.lexsort((idx, dist))[:k]
                return idx[o], dist[o]
            r += 1


def _simulate_tile(
    rng,
    cells: np.ndarray,           # linear cell ids of this tile
    pts: np.ndarray,             # their centroids (nc, dim)
    params: SGSParams,
    init_vals: dict[int, float],  # cell_id -> hard value (NearestInit)
    force_dense: bool = False,
) -> np.ndarray:
    vg, mean = params.variogram, params.mean
    if isinstance(params.metric, Anisotropic):
        # scale-then-search: every downstream distance (bucket index,
        # radius cut, SK covariances) becomes the ellipsoid metric
        pts = pts / np.asarray(params.metric.radii, dtype=np.float64)
    elif not isinstance(params.metric, Euclidean):
        raise ValueError(
            f"SGS supports Euclidean/Anisotropic metrics, got {params.metric}"
        )
    nc = len(cells)
    values = np.full(nc, np.nan)
    simulated = np.zeros(nc, dtype=bool)
    pos = {int(c): i for i, c in enumerate(cells)}
    for c, v in init_vals.items():
        if c in pos:
            values[pos[c]] = v
            simulated[pos[c]] = True

    order = np.arange(nc)
    if params.path == "random":
        rng.shuffle(order)
    elif params.path == "multigrid":
        order = _multigrid_order(pts)

    use_index = not force_dense and pts.shape[1] <= 2 and nc >= 256
    index = _IncrementalBuckets(pts) if use_index else None
    if index is not None:
        for j in np.nonzero(simulated)[0]:
            index.insert(int(j))

    sigma = np.sqrt(vg.sill)
    for i in order:
        if simulated[i]:
            continue
        if index is not None:
            sel, dist = index.query(int(i), params.maxneighbors, params.radius)
        else:
            sel = np.nonzero(simulated)[0]
            dist = np.empty(0)
            if sel.size:
                d = pts[sel] - pts[i][None, :]
                dist = np.sqrt((d * d).sum(axis=1))
                if params.radius is not None:
                    keep = dist <= params.radius
                    sel, dist = sel[keep], dist[keep]
                # canonical (dist, index) order — deterministic ties,
                # identical to the bucket-index path
                o = np.lexsort((sel, dist))[: params.maxneighbors]
                sel, dist = sel[o], dist[o]
        if sel.size < params.minneighbors:
            values[i] = (params.marginal(rng)
                         if params.marginal is not None
                         else mean + sigma * rng.standard_normal())
        elif params.estimator is not None:
            values[i] = params.estimator(rng, pts[i], pts[sel], values[sel])
        else:
            values[i] = _sk_draw(
                rng, vg, mean, pts[i], pts[sel], values[sel]
            )
        simulated[i] = True
        if index is not None:
            index.insert(int(i))
    return values


def solve_sgs(
    spark: SparkSession,
    grid: CartesianGrid,
    nreals: int,
    params: SGSParams | None = None,
    data: DataFrame | None = None,
    var: str = "z",
    data_coord_cols: list[str] | None = None,
    seed: int = 0,
    tiles: tuple[int, int] | None = None,
    halo: int = 0,
) -> DataFrame:
    """Long DataFrame (real_id, cell_id, var).  ``tiles`` splits the grid
    for intra-realization parallelism (None → single tile = exact).

    ``halo`` (cells; tiled runs only): each tile simulates an EXPANDED
    block including a ring of ``halo`` cells from its neighbours and
    emits only its interior.  Boundary cells then see full
    neighbourhoods — including neighbouring tiles' HARD DATA inside the
    ring (the SURVEY's "condition each tile on neighbouring tiles' data
    within range") and simulated context on both sides — which pulls
    the seam semivariance toward the exact-run control (measured by
    `seam_semivariance`; see BASELINE.md 'Tiled-SGS seam validation').
    Set it of the order of the variogram range in cell units; cost
    scales as ``(sx + 2·halo)(sy + 2·halo) / (sx·sy)`` per tile.  The
    halo ring is re-simulated independently per tile (realizations
    remain embarrassingly parallel; tiles never exchange simulated
    values), so this narrows — not closes — the documented
    tile-independence approximation."""
    params = params or SGSParams()
    if halo < 0:
        # a negative halo would SHRINK tiles and silently drop boundary
        # cells from the output (no tile would emit them)
        raise ValueError(f"halo must be >= 0, got {halo}")
    if halo > 0 and (tiles is None or tiles == (1, 1)):
        raise ValueError(
            "halo conditioning applies to TILED runs; the single-tile "
            "path is already exact — pass tiles=(..., ...) or drop halo"
        )
    require_stationary(params.variogram, "SGS")
    # fail at plan time, not inside an executor task
    validate_planar_metric(params.metric, grid.ndims, "SGS")
    data_coord_cols = data_coord_cols or ["x", "y"][: grid.ndims]

    init_vals: dict[int, float] = {}
    if data is not None:
        snap = grid.snap_cell_expr(tuple(data_coord_cols), "cell_id")
        # deterministic survivor when several data rows snap to one cell:
        # min value wins (dropDuplicates keeps an arbitrary row, which
        # varies with partitioning and breaks realization reproducibility)
        # size bound: ≤ one row per GRID CELL after the groupBy — the
        # conditioning set, not the 10¹²-row source (same assumption as
        # the reference's in-memory data view)
        rows = (
            data.filter(f"{var} IS NOT NULL")
            .selectExpr(f"{snap} AS cell_id", f"{var} AS zv")
            .groupBy("cell_id").agg(F.min("zv").alias("zv"))
            .collect()
        )
        init_vals = {int(r["cell_id"]): float(r["zv"]) for r in rows}

    pts = _centroids(grid)
    ncells = grid.ncells
    # tile decomposition over the FIRST axis in linear order keeps tiles
    # contiguous in cell_id for 1-D; for 2-D use a (tx, ty) block split
    if tiles is None:
        tiles = (1, 1)
    ntiles = tiles[0] * (tiles[1] if grid.ndims > 1 else 1)
    if grid.ndims > 2 and ntiles > 1:
        # the (tx, ty) block split below covers dims[0]*dims[1] cells
        # only — on a 3-D grid it would silently simulate just the z=0
        # slab.  The single-tile path is exact for any dimension (the
        # dense kernel measures full-dim distances).
        raise ValueError(
            "SGS tiling splits a 1-D/2-D grid; use tiles=None "
            f"(single tile) for a {grid.ndims}-D grid"
        )

    def tile_cells(t: int) -> tuple[np.ndarray, np.ndarray]:
        """(cells, interior mask): cells include the halo ring; only
        interior rows are emitted."""
        if ntiles == 1:
            cells = np.arange(ncells)
            return cells, np.ones(ncells, dtype=bool)
        if grid.ndims == 1:
            n = grid.dims[0]
            step = -(-n // ntiles)
            lo, hi = t * step, min(n, (t + 1) * step)
            cells = np.arange(max(0, lo - halo), min(n, hi + halo))
            return cells, (cells >= lo) & (cells < hi)
        nx, ny = grid.dims[0], grid.dims[1]
        tx, ty = t % tiles[0], t // tiles[0]
        sx, sy = -(-nx // tiles[0]), -(-ny // tiles[1])
        ix0, ix1 = tx * sx, min(nx, (tx + 1) * sx)
        iy0, iy1 = ty * sy, min(ny, (ty + 1) * sy)
        ii = np.arange(max(0, ix0 - halo), min(nx, ix1 + halo))
        jj = np.arange(max(0, iy0 - halo), min(ny, iy1 + halo))
        J, I = np.meshgrid(jj, ii, indexing="ij")
        inner = ((I >= ix0) & (I < ix1) & (J >= iy0) & (J < iy1)).ravel()
        return (J * nx + I).ravel(), inner

    from pyspark import cloudpickle

    # cloudpickle: pluggable estimators may be lambdas/closures
    bc = spark.sparkContext.broadcast(
        cloudpickle.dumps((params, init_vals, pts, seed))
    )

    def gen(batches):
        pr, iv, p_all, sd = cloudpickle.loads(bc.value)
        for pdf in batches:
            for unit in pdf["id"].tolist():
                real_id, t = int(unit) // ntiles, int(unit) % ntiles
                cells, inner = tile_cells(t)
                rng = np.random.default_rng((sd, real_id, t))
                vals = _simulate_tile(rng, cells, p_all[cells], pr, iv)
                cells, vals = cells[inner], vals[inner]
                yield pd.DataFrame({
                    "real_id": np.full(len(cells), real_id, dtype=np.int64),
                    "cell_id": cells.astype(np.int64),
                    var: vals,
                })

    return spark.range(nreals * ntiles, numPartitions=min(nreals * ntiles, 64)).mapInPandas(
        gen, schema=f"real_id long, cell_id long, {var} double"
    )


def seam_semivariance(sol: DataFrame, side: int, step: int,
                      var: str = "z") -> dict:
    """Boundary-error diagnostic for the tiled approximation: lag-1
    semivariance γ = ½·E[(z_a − z_b)²] over adjacent cell pairs on a
    ``side × side`` grid, split into pairs straddling a tile boundary
    (``seam``, tile edge every ``step`` cells) vs pairs that do not
    (``interior``), both axes pooled.  On an exact (single-tile) run
    seam positions are ordinary pairs → ratio ≈ 1; on a tiled run the
    seam/interior ratio measures the documented tile-independence
    approximation, bounded above by sill/γ(1) (fully independent tiles)
    and approaching 1 as conditioning density reaches the variogram
    range.  Returns {'seam': γ_seam, 'interior': γ_interior,
    'ratio': γ_seam/γ_interior, 'n_seam': ..., 'n_interior': ...}.

    Two self-joins on cell arithmetic — scales as the simulation output
    (equi-join on (real_id, cell_id±1), AQE-splittable), no collect."""
    spark = sol.sparkSession
    bvals = list(range(step - 1, side - 1, step))
    if not bvals:
        raise ValueError(
            f"step={step} >= side={side} leaves no tile boundaries — "
            "seam semivariance is undefined for a single-tile layout"
        )
    name = "{sol}"  # spark.sql's DataFrame argument, bound below
    bcols = ", ".join(str(c) for c in bvals)
    q = f"""
    WITH px AS (
      SELECT a.{var} AS z1, b.{var} AS z2,
             CASE WHEN (a.cell_id % {side}) IN ({bcols})
                  THEN 1 ELSE 0 END AS seam
      FROM {name} a JOIN {name} b
        ON b.real_id = a.real_id AND b.cell_id = a.cell_id + 1
       AND (a.cell_id % {side}) < {side - 1}
    ), py AS (
      SELECT a.{var} AS z1, b.{var} AS z2,
             CASE WHEN ((a.cell_id DIV {side}) % {side}) IN ({bcols})
                  THEN 1 ELSE 0 END AS seam
      FROM {name} a JOIN {name} b
        ON b.real_id = a.real_id AND b.cell_id = a.cell_id + {side}
    ), allp AS (SELECT * FROM px UNION ALL SELECT * FROM py)
    SELECT seam, 0.5 * avg((z1 - z2) * (z1 - z2)) AS gamma,
           count(*) AS n
    FROM allp GROUP BY seam
    """
    rows = {int(r["seam"]): r
            for r in spark.sql(q, sol=sql_arg(sol)).collect()}
    if 0 not in rows or 1 not in rows:
        raise ValueError(
            "no adjacent-pair data for seam or interior — is the "
            "simulation empty or the (side, step) layout wrong?"
        )
    sg, ig = float(rows[1]["gamma"]), float(rows[0]["gamma"])
    return {
        "seam": sg, "interior": ig,
        "ratio": sg / ig if ig != 0.0 else float("inf"),
        "n_seam": int(rows[1]["n"]), "n_interior": int(rows[0]["n"]),
    }
