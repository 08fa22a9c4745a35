"""Neighbor-search engine — the "joins" of the reference (SURVEY.md §2.3).

The reference pairs every estimation location with ≤ maxneighbors nearest
data points via a global kd-tree (``KNearestSearch``/``KBallSearch``,
``/root/reference/src/ui.jl:11-32``), invoked per location at
``src/estimation/idw.jl:118`` / ``src/estimation/krig.jl:210``.

Every local estimator is ONE stacked-array kernel
``kernel(q_pdf, qcoords, NC, vals, dist, valid)`` (`ArrayKernel`) over
(B, k) neighbor stacks.  Two physical strategies gather those stacks,
analogous to Spark's own broadcast-vs-shuffle join choice:

* **broadcast gather** (`stacked_apply` over `local_apply`): the
  conditioning data (after the non-missing filter) is collected once,
  broadcast to executors, and a single ``mapInPandas`` pass over the
  *query* side (the huge side: grid cells / pages) does vectorized top-k
  search, indexes the stacks out of the `PointData` and runs the kernel in
  one Arrow batch — zero shuffles end-to-end.  This is exactly the
  reference's "build kd-tree once, stream queries" design, distributed
  over query partitions.  Valid while the data side fits an executor
  (~10⁶ points); the reference's own solvers share this assumption (its
  kd-tree is a single in-memory structure).

* **tiled gather** (`knn_join_tiled_exact`, consumed by
  `operators.tiled.tiled_local_apply`): big-big case (10¹²-page story).
  One lazy plan: a cell-count pyramid over the data bounds each query's
  kth-neighbor distance; each query is exploded over the cells of the
  rectangle that can hold a point within that bound (a JVM-side array,
  `tiling.ring_expr`, no Python stage); an equi-join on cell id (an
  ordinary shuffle join Catalyst/AQE can optimize, incl. skew
  splitting) produces candidates, and a window top-k per query keeps
  the exact neighbors.  Each pair carries its neighbor's columns
  through the join, and the pairs are collected into per-query arrays
  that fill the same stacks.

Top-k is deterministic: ties broken by data row id ascending — the same
(dist, data_id) order on both strategies, so the kernel sees the same
stacks (bit-identical wherever the two strategies' distance bits agree;
see `operators.tiled`).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .distances import Distance, Haversine
from . import tiling

# join-strategy hint for the tiled candidate join.  The hint's purpose
# is to forbid AQE from broadcasting the exploded query side: Spark
# cannot estimate an explode's output rows, so its size estimate of that
# side is blind to the per-query cell fan-out; "merge" (sort-merge) is
# the measured choice.  A "shuffle_hash" variant — which also forbids
# the broadcast and skips sort-merge's sorts, and which DID win 25% for
# the variography ring join (variography._pair_sql) — was
# interleaved-A/B'd here at the sf1.0 shape (round 7, against the
# multi-pass ring ladder this join replaced) and REJECTED: wash on
# knn_join_tiled (2.51 vs 2.44 s min-of-3) and idw_pages_tiled (3.35 vs
# 3.38), consistently WORSE on loo_idw_cv (7.8–10.1 vs 5.7–6.3 s, every
# rep) — per-partition hash builds lost more than the sorts they saved.
# Kept as a constant so the experiment is one flip to reproduce.
_CAND_JOIN_HINT = "merge"


@dataclass
class PointData:
    """Collected conditioning points: coords (n, d), values dict, ids (n,)."""

    coords: np.ndarray
    values: dict[str, np.ndarray]
    ids: np.ndarray

    @property
    def n(self) -> int:
        return self.coords.shape[0]

    def index(self, metric: Distance):
        """Bucket index, built lazily once per worker process (the broadcast
        deserializes once per process; the index rides along after that)."""
        key = repr(metric)
        cache = self.__dict__.setdefault("_index_cache", {})
        if key not in cache:
            from .bucket_index import BucketIndex

            cache[key] = BucketIndex(self.coords, metric)
        return cache[key]


# data sides at least this large route through the bucket index; below it
# one cache-resident brute-force GEMM is faster than group bookkeeping
INDEX_THRESHOLD = 2048


def search(
    data: PointData,
    qcoords: np.ndarray,
    k: int,
    metric: Distance,
    radius: float | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Strategy dispatcher: bucket index for large 2-D data sides, chunked
    brute force otherwise.  Identical output contract either way."""
    if data.n >= INDEX_THRESHOLD and data.coords.shape[1] == 2:
        return data.index(metric).topk(qcoords, k, radius)
    return topk_search(qcoords, data.coords, k, metric, radius)


def collect_points(
    df: DataFrame, coord_cols: Iterable[str], value_cols: Iterable[str] = (),
    id_col: str | None = None,
) -> PointData:
    """Collect the (small) data side to the driver as numpy float64.

    Mirrors the reference's global kd-tree construction (one in-memory
    index over all data, ``src/ui.jl:27``).
    """
    coord_cols = list(coord_cols)
    value_cols = list(value_cols)
    cols = coord_cols + value_cols + ([id_col] if id_col else [])
    pdf = df.select(*cols).toPandas()
    ids = (
        pdf[id_col].to_numpy(np.int64)
        if id_col
        else np.arange(len(pdf), dtype=np.int64)
    )
    # canonical id order: collection order off a shuffled DataFrame is
    # nondeterministic, and top-k ties break on *positional* index — sort
    # so position order == id order (deterministic across partitionings)
    order = np.argsort(ids, kind="stable")
    pdf = pdf.iloc[order].reset_index(drop=True)
    coords = pdf[coord_cols].to_numpy(np.float64)
    values = {c: pdf[c].to_numpy() for c in value_cols}
    return PointData(coords=coords, values=values, ids=ids[order])


# ------------------------------------------------------------------ search


def shortlist_topk(
    K: np.ndarray, nbuf: int
) -> tuple[np.ndarray, np.ndarray]:
    """Tie-safe shortlist: the nbuf smallest keys per row, plus per-row
    overflow sets when keys tie exactly at the shortlist boundary (mass-
    duplicate locations — common in deduplicated web data).  Returns
    (sel (c, nbuf) int64, overflow: list of (row, cols) for rows whose
    boundary ties spill past the buffer)."""
    c, m = K.shape
    if nbuf >= m:
        return np.broadcast_to(np.arange(m), (c, m)).copy(), []
    sel = np.argpartition(K, nbuf - 1, axis=1)[:, :nbuf]
    skey = np.take_along_axis(K, sel, axis=1)
    kth = skey.max(axis=1)
    n_le = (K <= kth[:, None]).sum(axis=1)
    overflow = []
    for row in np.nonzero(n_le > nbuf)[0]:
        overflow.append((int(row), np.nonzero(K[row] <= kth[row])[0]))
    return sel, overflow


def topk_search(
    qcoords: np.ndarray,
    dcoords: np.ndarray,
    k: int,
    metric: Distance,
    radius: float | None = None,
    chunk_elems: int = 1_500_000,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact kNN, vectorized. Returns (idx (n,k), dist (n,k), nvalid (n,)).

    Invalid slots (beyond nvalid) hold idx=-1, dist=inf.  Ties on distance
    break by data index ascending (deterministic across partitionings).
    Queries are processed in chunks sized so the pairwise block stays
    within ``chunk_elems`` doubles — Arrow batch in, bounded memory out.
    """
    n, m = qcoords.shape[0], dcoords.shape[0]
    k = min(k, m)
    idx = np.full((n, k), -1, dtype=np.int64)
    dist = np.full((n, k), np.inf, dtype=np.float64)
    if m == 0 or n == 0 or k == 0:
        return idx, dist, np.zeros(n, dtype=np.int64)

    # ranking runs on a GEMM-able monotone surrogate (squared distance /
    # squared chord distance) — one BLAS call per chunk instead of
    # full-matrix trig; the canonical-formula distance (bit-identical to
    # the SQL text, hence to the DuckDB oracle) is evaluated only on the
    # selected n×k pairs.
    #
    # CENTER the float64 features on the data mean before the float32
    # cast: the key qn − 2q·d + dn cancels catastrophically whenever
    # ‖features‖ ≫ span — UTM-like 1e6-magnitude planar coords, or a
    # sub-km Haversine cluster whose unit vectors all collapse to within
    # one float32 ulp (observed: true neighbors at 0.6 km dropped from a
    # 0.2°-wide cluster).  Centering is exact for the squared-distance /
    # squared-chord keys; canonical float64 distances below always use
    # the ORIGINAL coords.
    # NOTE: the former float32 radius pre-cut was REMOVED — its 1e-9
    # threshold slack was smaller than float32 key noise, so it could
    # hard-exclude genuinely in-radius points before the exact cut, and
    # it made under-filled rows take the per-row overflow path over all
    # m points; shortlisting by key alone is sufficient (top-k-within-
    # radius ⊆ top-buffer-by-distance) and the exact cut applies below.
    DF64 = metric.rank_features(dcoords)
    center = DF64.mean(axis=0)
    DF = (DF64 - center).astype(np.float32)

    # chunk so the (qchunk, m) float32 key block stays cache-resident
    # between the GEMM and the argpartition — the whole search is memory-
    # bandwidth-bound otherwise and stops scaling across executor cores
    qchunk = max(32, chunk_elems // max(m, 1))
    buffer = min(m, k + 16)  # float32-ranking slack
    for s in range(0, n, qchunk):
        e = min(n, s + qchunk)
        QF = (metric.rank_features(qcoords[s:e]) - center).astype(
            np.float32
        )
        K = metric.rank_keys(QF, DF)  # (c, m) monotone in true distance
        cand, overflow = shortlist_topk(K, buffer)
        # canonical float64 distances on the FULL buffer, then rank —
        # float32 keys only shortlist; the final k and their order come
        # from the exact metric, so float32 cancellation can't leak into
        # the result (would need >buffer points inside one float32 ulp)
        cd = metric.np_pairs(qcoords[s:e], dcoords[cand])
        order2 = np.lexsort((cand, cd), axis=1)
        cand = np.take_along_axis(cand, order2, axis=1)[:, :k]
        cd = np.take_along_axis(cd, order2, axis=1)[:, :k]
        # exact radius cut on the canonical distance (the surrogate cut
        # above is the same predicate up to FP rounding of the threshold)
        if radius is not None:
            cd = np.where(cd <= radius, cd, np.inf)
        valid = np.isfinite(cd)
        idx[s:e] = np.where(valid, cand, -1)
        dist[s:e] = cd
        # boundary-tie overflow rows: exact re-rank over every tied column
        for row, cols in overflow:
            rd = metric.np_pairs(
                qcoords[s + row][None, :], dcoords[cols][None, :, :]
            )[0]
            if radius is not None:
                rd = np.where(rd <= radius, rd, np.inf)
            o = np.lexsort((cols, rd))[:k]
            rv = np.isfinite(rd[o])
            idx[s + row, : len(o)] = np.where(rv, cols[o], -1)
            dist[s + row, : len(o)] = rd[o]
    nvalid = np.isfinite(dist).sum(axis=1).astype(np.int64)
    return idx, dist, nvalid


# ------------------------------------------------- broadcast mapInPandas


Kernel = Callable[
    [pd.DataFrame, PointData, np.ndarray, np.ndarray, np.ndarray], pd.DataFrame
]

# kernel(q_pdf, qcoords (B,d), NC (B,k,d), vals {name: (B,k)},
#        dist (B,k) +inf-padded, valid (B,k)) -> pd.DataFrame
ArrayKernel = Callable[..., pd.DataFrame]


def local_apply(
    queries: DataFrame,
    data: PointData,
    query_coord_cols: list[str],
    k: int,
    metric: Distance,
    kernel: Kernel,
    out_schema: str,
    radius: float | None = None,
) -> DataFrame:
    """One-pass search+solve over query partitions (zero shuffle).

    ``kernel(q_pdf, data, idx, dist, nvalid) -> pd.DataFrame`` runs fully
    vectorized per Arrow batch.
    """
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(data)

    def run(batches: Iterable[pd.DataFrame]):
        import os as _os
        import time as _time

        profile = _os.environ.get("SPARK_GRAFT_PROFILE") == "1"
        d = bc.value
        t_search = t_kernel = t_arrow = 0.0
        t_last = _time.time()
        nrows = 0
        for pdf in batches:
            t_arrow += _time.time() - t_last  # arrow deserialize + iterate
            if len(pdf) == 0:
                t_last = _time.time()
                continue
            q = pdf[query_coord_cols].to_numpy(np.float64)
            t0 = _time.time()
            idx, dist, nvalid = search(d, q, k, metric, radius)
            t_search += _time.time() - t0
            t0 = _time.time()
            out = kernel(pdf, d, idx, dist, nvalid)
            t_kernel += _time.time() - t0
            nrows += len(pdf)
            t_last = _time.time()
            yield out
        if profile and nrows:
            print(
                f"[graft-profile] pid={_os.getpid()} rows={nrows} "
                f"search={t_search:.2f}s kernel={t_kernel:.2f}s "
                f"arrow_in={t_arrow:.2f}s",
                flush=True,
            )

    return queries.mapInPandas(run, schema=out_schema)


def stacked_apply(
    queries: DataFrame,
    data: PointData,
    query_coord_cols: list[str],
    value_cols: list[str],
    k: int,
    metric: Distance,
    kernel: ArrayKernel,
    out_schema: str,
    radius: float | None = None,
) -> DataFrame:
    """`local_apply` feeding a stacked-array kernel: each batch's neighbor
    slots are gathered out of the broadcast `PointData`.  Padded slots
    (idx = -1) read row 0 and are masked by ``valid``; the gather runs
    inside `local_apply`'s timed kernel call."""

    def gathered(pdf, d, idx, dist, nvalid):
        safe = np.maximum(idx, 0)
        vals = {
            v: d.values[v][safe].astype(np.float64, copy=False)
            for v in value_cols
        }
        q = pdf[query_coord_cols].to_numpy(np.float64)
        return kernel(pdf, q, d.coords[safe], vals, dist, idx >= 0)

    return local_apply(
        queries, data, query_coord_cols, k, metric, gathered, out_schema,
        radius,
    )


def knn_pairs(
    queries: DataFrame,
    data: PointData,
    query_coord_cols: list[str],
    k: int,
    metric: Distance,
    id_col: str = "cell_id",
    radius: float | None = None,
) -> DataFrame:
    """(query_id, data_id, dist, rank) pairs — the raw kNN join output the
    north rule's 'identical join output rows' check applies to."""

    def kernel(pdf, d, idx, dist, nvalid):
        n, kk = idx.shape
        rows = np.repeat(pdf[id_col].to_numpy(np.int64), kk)
        flat_idx = idx.ravel()
        keep = flat_idx >= 0
        return pd.DataFrame(
            {
                id_col: rows[keep],
                "data_id": d.ids[flat_idx[keep]],
                "dist": dist.ravel()[keep],
                "rank": np.tile(np.arange(1, kk + 1), n)[keep],
            }
        )

    return local_apply(
        queries, data, query_coord_cols, k, metric, kernel,
        out_schema=f"{id_col} long, data_id long, dist double, rank int",
        radius=radius,
    )


# ------------------------------------------------------------- tiled path


def _wrap_lon(df: DataFrame, lon: str, metric: "Distance") -> DataFrame:
    """Spherical-metric longitude normalization into [-180, 180).

    0–360-convention (or otherwise out-of-range) longitudes would be
    CLAMPED into an edge cell by the tile encode, and the exactness
    proof assumes a point's assigned cell contains its true position —
    a query near the antimeridian could then prune the cell of its
    genuine nearest neighbor (haversine distances are periodic, the cell
    grid is not).  Row-CONDITIONAL rewrite: in-range rows keep their
    EXACT original bits ((lon+180)-180 is not an identity in floating
    point — absorption near 0), so existing in-range corpora are
    bit-unchanged; only out-of-range rows wrap.  Planar metrics skip the
    wrap entirely — UTM-magnitude coordinates are legitimate there and
    the cell bounds handle them via the world-boundary edge rules."""
    if not isinstance(metric, Haversine):
        return df
    w = (f"(((({lon}) + 180.0) - floor((({lon}) + 180.0) / 360.0) "
         f"* 360.0) - 180.0)")
    return df.withColumn(
        lon,
        F.expr(
            f"CASE WHEN ({lon}) >= -180.0 AND ({lon}) < 180.0 "
            f"THEN ({lon}) ELSE {w} END"
        ),
    )


def _cell_mindist_sql(res: int, metric: Distance,
                      cell: str = "_ccell") -> str:
    """SQL lower bound on the distance from a query (_qlon, _qlat) to ANY
    point inside cell ``cell`` at resolution ``res`` — conservative (may
    under-estimate, never over-estimates), used to prune the candidate
    cells of `knn_join_tiled_exact`."""
    n = tiling.nside(res)
    ch = 180.0 / n
    cw = 360.0 / n
    ty = tiling.ty_from_cell_expr(cell)
    tx = tiling.tx_from_cell_expr(cell)
    l0 = f"({ty} * {ch!r} - 90.0)"
    l1 = f"(({ty} + 1) * {ch!r} - 90.0)"
    g0 = f"({tx} * {cw!r} - 180.0)"
    lat_margin = (
        f"CASE WHEN _qlat < {l0} THEN ({l0} - _qlat) "
        f"WHEN _qlat > {l1} THEN (_qlat - {l1}) ELSE 0.0 END"
    )
    if isinstance(metric, Haversine):
        r_ = metric.radius
        lat_term = f"({r_!r} * radians({lat_margin}))"
        # wrapped angular separation to the nearest lon edge of the cell
        # (portable non-negative mod — identical text in Spark and DuckDB)
        w = f"((((_qlon - {g0}) % 360.0) + 360.0) % 360.0)"
        sep = (
            f"CASE WHEN {w} <= {cw!r} THEN 0.0 "
            f"ELSE least({w} - {cw!r}, 360.0 - {w}) END"
        )
        lon_term = (
            f"({r_!r} * asin(abs(cos(radians(_qlat)) * "
            f"sin(radians({sep})))))"
        )
        return f"greatest({lat_term}, {lon_term})"
    from .distances import Anisotropic

    ax = (1.0, 1.0)
    if isinstance(metric, Anisotropic):
        ax = (float(metric.radii[0]), float(metric.radii[1]))
    g1 = f"(({tx} + 1) * {cw!r} - 180.0)"
    # planar domains may extend beyond the ±180/±90 world box;
    # tiling._tx_expr/_ty_expr CLAMP such points into the boundary cells,
    # so a boundary cell effectively contains points beyond its raw
    # rectangle — drop (zero) the margin on any cell side that lies on the
    # world boundary to keep the bound conservative for clamped points
    lat_margin_p = (
        f"CASE WHEN _qlat < {l0} AND {ty} > 0 THEN ({l0} - _qlat) "
        f"WHEN _qlat > {l1} AND {ty} < {n - 1} THEN (_qlat - {l1}) "
        f"ELSE 0.0 END"
    )
    lon_margin = (
        f"CASE WHEN _qlon < {g0} AND {tx} > 0 THEN ({g0} - _qlon) "
        f"WHEN _qlon > {g1} AND {tx} < {n - 1} THEN (_qlon - {g1}) "
        f"ELSE 0.0 END"
    )
    return (
        f"greatest(({lat_margin_p}) / {ax[1]!r}, ({lon_margin}) / {ax[0]!r})"
    )


def _pyramid_cells(lon: str, lat: str, top: int) -> str:
    """Spark SQL array of a point's cell ids at every level 0..``top``
    (the level-``top`` encode shifted right; same packed layout as
    `tiling.cell_expr`, so the level rides in the id)."""
    tx, ty = tiling._tx_expr(lon, top), tiling._ty_expr(lat, top)
    return (
        f"transform(sequence(0, {top}), _l -> CAST(_l AS BIGINT) * "
        f"{1 << 58} + shiftright({ty}, {top} - _l) * {1 << 29} "
        f"+ shiftright({tx}, {top} - _l))"
    )


def _bbox_farthest_sql(metric: Distance) -> str:
    """SQL upper bound on the distance from a query (_qlon, _qlat) to any
    point of the box lon ∈ [_x0, _x1], lat ∈ [_y0, _y1].

    Planar: `metric.sql` to each corner, the greatest — rounding is
    monotone in |Δx| and |Δy|, so no point of the box computes farther.
    Sphere: the length of a meridian-then-parallel path,
    ``R·radians(max Δφ + min(180, max |Δλ|)·max cos φ over [y0, y1])``;
    it is at least the great-circle distance, and the caller's (1 + 1e-9)
    inflation covers the formula's rounding.  No cap at πR is needed:
    `_widths_sql` caps at the world.  A NULL box (no pyramid cell)
    gives NULL."""
    if not isinstance(metric, Haversine):
        return "greatest(" + ", ".join(
            metric.sql(("_qlon", "_qlat"), (x, y))
            for x in ("_x0", "_x1") for y in ("_y0", "_y1")) + ")"
    r_ = metric.radius
    cmax = ("CASE WHEN _y0 <= 0.0 AND _y1 >= 0.0 THEN 1.0 "
            "ELSE cos(radians(least(abs(_y0), abs(_y1)))) END")
    return (
        f"({r_!r} * radians(greatest(abs(_qlat - _y0), abs(_qlat - _y1))"
        f" + least(180.0, greatest(abs(_qlon - _x0), abs(_qlon - _x1)))"
        f" * {cmax}))"
    )


def _widths_sql(res: int, metric: Distance) -> tuple[str, str]:
    """SQL (lat rows, lon columns) half-widths of the cell rectangle
    around the query's cell at ``res`` that holds every point within
    ``_u`` of the query (_qlon, _qlat).

    Sphere, ρ = _u/R: rows ``⌊deg ρ / cell height⌋ + 1``; columns the
    full circle once the ρ-cap reaches a pole, else
    ``⌊asin(sin ρ / cos φ_q) / cell width⌋ + 1`` (the cap's widest
    longitude offset).  Planar: ``⌊_u·rᵢ / cell size⌋ + 1`` (|Δxᵢ| ≤
    rᵢ·dist).  The +1 covers the query's offset inside its own cell;
    widths are capped at the world, so _u = ∞ takes every cell."""
    n = tiling.nside(res)
    ch, cw = 180.0 / n, 360.0 / n
    if isinstance(metric, Haversine):
        deg = f"degrees(_u / {metric.radius!r})"
        rows = f"floor(least({float(n)!r}, {deg} / {ch!r})) + 1"
        lon = (f"degrees(asin(least(1.0, sin(_u / {metric.radius!r}) "
               f"/ cos(radians(_qlat)))))")
        cols = (f"CASE WHEN abs(_qlat) + {deg} >= 90.0 THEN {n // 2} "
                f"ELSE least({n // 2}, floor(least({float(n)!r}, "
                f"{lon} / {cw!r})) + 1) END")
        return rows, cols
    from .distances import Anisotropic

    ax = (1.0, 1.0)
    if isinstance(metric, Anisotropic):
        ax = (float(metric.radii[0]), float(metric.radii[1]))
    rows = f"floor(least({float(n)!r}, _u * {ax[1]!r} / {ch!r})) + 1"
    cols = (f"least({n // 2}, floor(least({float(n)!r}, "
            f"_u * {ax[0]!r} / {cw!r})) + 1)")
    return rows, cols


def knn_join_tiled_exact(
    queries: DataFrame,
    data: DataFrame,
    k: int,
    res: int,
    query_id: str = "cell_id",
    data_id: str = "data_id",
    lon: str = "lon",
    lat: str = "lat",
    metric: Distance | None = None,
    salt: int = 0,
) -> DataFrame:
    """EXACT big-big kNN join as one lazy plan: no driver collect of
    either side, no cache and no action.

    1. **bound** — a cell-count pyramid over the data (levels 0..top,
       top = min(res + 4, MAX_RES): rows and data bbox per occupied
       cell, one ``groupBy``) is joined to each query's OWN cell at every
       level.  U_q is the least, over levels whose cell holds ≥ k rows,
       of the farthest distance from the query to that cell's bbox
       (`_bbox_farthest_sql`), inflated by 1e-9; no such level (fewer
       than k data rows) gives U_q = ∞.
    2. **candidates** — the query is exploded over the cells of the
       rectangle around its cell at ``res`` that can hold a point within
       U_q (`_widths_sql`, `tiling.ring_expr`), cells whose minimum
       distance exceeds U_q are dropped (`_cell_mindist_sql`), and one
       equi-join on cell id pairs the rest with the data;
    3. **top-k** — ``salt > 1`` pre-reduces per-query candidates through
       a two-stage top-k (stage 1 keeps k per (query, data_id % salt):
       explicit hot-cell handling on top of AQE's skew split), then one
       window ranks by (dist, data_id).

    Exact by construction: k rows lie within U_q, so the kth distance is
    ≤ U_q, and every row within U_q sits in a kept cell.

    Negative result (4-core box): a first cut with levels 0..res only, a
    ring-1 block per level and no cos φ factor in the sphere bound took
    19–22 s for the tiled LOO at sf0.1, because at res 3 its U spans 45°
    cells; this form takes 4.3–4.8 s there (the escalation ladder it
    replaced: 7.3–9.6 s).

    Returns (query_id, data_id, dist, rank, *the data side's other
    columns): the neighbor records, each with the columns of the row its
    distance was computed on, so a gather reads the data side no second
    time (unselected columns are pruned at the scan).  The pairs are
    identical to a brute-force kNN (the north rule's 'identical join
    output rows').
    """
    from pyspark.sql import Window

    metric = metric or Haversine()
    top = min(res + 4, tiling.MAX_RES)
    carry = [c for c in data.columns if c not in (data_id, lon, lat)]
    clash = set(carry) & {query_id, "dist", "rank", "_salt", "_r1"}
    if clash:
        raise ValueError(f"data columns {sorted(clash)} collide with the "
                         "kNN join's own columns")
    q = _wrap_lon(queries, lon, metric).selectExpr(
        query_id, f"{lon} AS _qlon", f"{lat} AS _qlat")
    d = _wrap_lon(data, lon, metric).selectExpr(
        data_id, f"{lon} AS _dlon", f"{lat} AS _dlat", *carry)
    pyramid = (
        d.selectExpr(f"explode({_pyramid_cells('_dlon', '_dlat', top)})"
                     " AS _pcell", "_dlon", "_dlat")
        .groupBy("_pcell")
        .agg(F.count(F.lit(1)).alias("_n"),
             F.min("_dlon").alias("_x0"), F.max("_dlon").alias("_x1"),
             F.min("_dlat").alias("_y0"), F.max("_dlat").alias("_y1"))
        .filter(F.col("_n") >= k)
    )
    bounded = (
        q.selectExpr("*", f"explode({_pyramid_cells('_qlon', '_qlat', top)})"
                          " AS _pcell")
        .join(pyramid, "_pcell", "left")
        .groupBy(query_id, "_qlon", "_qlat")
        .agg(F.min(F.expr(_bbox_farthest_sql(metric))).alias("_u"))
        .selectExpr(query_id, "_qlon", "_qlat",
                    "coalesce(_u * (1.0 + 1e-9), CAST('Infinity' AS DOUBLE))"
                    " AS _u")
    )
    wy, wx = _widths_sql(res, metric)
    probes = (
        bounded.selectExpr(
            "*", f"{tiling.cell_expr('_qlon', '_qlat', res)} AS _qcell",
            f"{wy} AS _wy", f"{wx} AS _wx")
        .selectExpr(query_id, "_qlon", "_qlat", "_u", "explode("
                    f"{tiling.ring_expr('_qcell', res, '_wy', '_wx')})"
                    " AS _jcell")
        .where(f"({_cell_mindist_sql(res, metric, '_jcell')})"
               " * (1.0 - 1e-12) <= _u")
    )
    dcell = d.selectExpr(
        "*", f"{tiling.cell_expr('_dlon', '_dlat', res)} AS _dcell")
    cand = probes.hint(_CAND_JOIN_HINT).join(
        dcell, F.col("_jcell") == F.col("_dcell"), "inner"
    ).withColumn(
        "dist", F.expr(metric.sql(("_qlon", "_qlat"), ("_dlon", "_dlat"))))
    if salt > 1:
        w1 = Window.partitionBy(query_id, "_salt").orderBy(
            F.col("dist").asc(), F.col(data_id).asc())
        cand = (
            cand.withColumn("_salt", F.pmod(F.col(data_id), F.lit(salt)))
            .withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= k)
        )
    w = Window.partitionBy(query_id).orderBy(
        F.col("dist").asc(), F.col(data_id).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, data_id, "dist", "rank", *carry)
    )
