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
  Both sides get H3-style cell ids; one side is replicated into the
  ring-1 halo of its cell by exploding a JVM-side ring array
  (`tiling.ring_expr`, no Python stage); an equi-join on cell id
  (ordinary shuffle join Catalyst/AQE can optimize, incl. skew
  splitting) produces candidates; a window top-k per query with a
  *certification radius* keeps only provably-exact neighbors;
  unresolved queries (kth neighbor not certified) escalate to a wider
  ring and finally to a bounded terminal pass.  The pairs are joined
  back to their attributes and collected into per-query arrays that
  fill the same stacks.

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

# join-strategy hint for the tiled candidate joins.  The hint's
# purpose is to forbid AQE from broadcasting a halo'd 10¹²-row side:
# Spark cannot estimate an explode's output rows, so its size estimate
# of the ring side is blind to the (2·ring+1)² fan-out; "merge"
# (sort-merge) is the measured choice.  A "shuffle_hash" variant —
# which also forbids the broadcast and skips sort-merge's sorts, and
# which DID win 25% for the variography ring join
# (variography._pair_sql) — was interleaved-A/B'd here at the sf1.0
# shape (round 7) and REJECTED: wash on knn_join_tiled
# (2.51 vs 2.44 s min-of-3) and idw_pages_tiled (3.35 vs 3.38),
# consistently WORSE on the multi-pass loo_idw_cv ladder (7.8–10.1 vs
# 5.7–6.3 s, every rep) — the escalation/terminal passes lose more to
# per-partition hash builds than they save in sorts.  Kept as a
# constant so the experiment is one flip to reproduce.
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


def _block_guard_sql(res: int, ring: int, metric: Distance) -> str:
    """SQL lower bound on the distance from a query point (``_qlon``,
    ``_qlat``, cell ``_qcell``) to ANY point outside its (2·ring+1)² cell
    block — the certification radius of the tiled kNN join.

    Sphere (Haversine): exact wrap/pole-safe bounds on the lon/lat cell
    block:

    * lat edges — meridian arc ``R·radians(Δφ)``; DROPPED when the block
      edge sits on the world boundary (±90): no data exists beyond it and
      any wrapped path to other data crosses a meridian edge first.
    * lon edges — distance to the FULL meridian great circle
      ``R·asin(|cos φ_q · sin Δλ|)``: periodic in Δλ (wrap-safe) and the
      poles lie on every meridian (over-pole-safe).  The two-edge union
      covers the block's lon complement only while the block spans
      < 180°; a block spanning the full circle drops the lon edges, and
      the awkward middle (≥ 180° but not full) certifies nothing (0).

    Planar (Euclidean/Anisotropic): plain coordinate margins; edges on the
    world boundary are dropped because out-of-range coords CLAMP into the
    boundary cells (tiling._tx_expr/_ty_expr), i.e. such points are inside
    the block's candidate set already.
    """
    n = tiling.nside(res)
    ch = 180.0 / n
    cw = 360.0 / n
    ty = tiling.ty_from_cell_expr("_qcell")
    tx = tiling.tx_from_cell_expr("_qcell")
    bot = f"(({ty} - {ring}) * {ch!r} - 90.0)"
    top = f"(({ty} + {ring} + 1) * {ch!r} - 90.0)"
    west = f"(({tx} - {ring}) * {cw!r} - 180.0)"
    east = f"(({tx} + {ring} + 1) * {cw!r} - 180.0)"
    big = "CAST(1e308 AS DOUBLE)"
    hav = isinstance(metric, Haversine)
    # Anisotropic scales each axis by 1/radii — a raw-coordinate margin m
    # on axis a bounds the metric distance only as m / radii[a] (with
    # radii > 1 the raw margin would OVER-estimate and falsely certify)
    from .distances import Anisotropic

    ax = (1.0, 1.0)
    if isinstance(metric, Anisotropic):
        ax = (float(metric.radii[0]), float(metric.radii[1]))
    terms: list[str] = []
    if hav:
        r_ = metric.radius
        lat_bot = f"({r_!r} * radians(_qlat - {bot}))"
        lat_top = f"({r_!r} * radians({top} - _qlat))"
    else:
        lat_bot = f"((_qlat - {bot}) / {ax[1]!r})"
        lat_top = f"(({top} - _qlat) / {ax[1]!r})"
    terms.append(f"CASE WHEN {ty} >= {ring + 1} THEN {lat_bot} ELSE {big} END")
    terms.append(
        f"CASE WHEN {ty} <= {n - ring - 2} THEN {lat_top} ELSE {big} END"
    )
    span = 2 * ring + 1  # block width in cells
    if span >= n:
        pass  # full circle in lon: no lon edge exists
    elif hav:
        if span * cw < 180.0:
            for edge in (west, east):
                terms.append(
                    f"({r_!r} * asin(abs(cos(radians(_qlat)) * "
                    f"sin(radians(_qlon - {edge})))))"
                )
        else:
            # hemisphere-union argument needs span < 180°: certify nothing
            terms.append("CAST(0.0 AS DOUBLE)")
    else:
        terms.append(
            f"CASE WHEN {tx} >= {ring + 1} THEN ((_qlon - {west}) / {ax[0]!r}) "
            f"ELSE {big} END"
        )
        terms.append(
            f"CASE WHEN {tx} <= {n - ring - 2} THEN (({east} - _qlon) / {ax[0]!r}) "
            f"ELSE {big} END"
        )
    if len(terms) == 1:
        return terms[0]
    return "least(" + ", ".join(terms) + ")"


def _wrap_lon(df: DataFrame, lon: str, metric: "Distance") -> DataFrame:
    """Spherical-metric longitude normalization into [-180, 180).

    0–360-convention (or otherwise out-of-range) longitudes would be
    CLAMPED into an edge cell by the tile encode, and the certification
    proof assumes a point's assigned cell contains its true position —
    a query near the antimeridian could then certify while missing its
    genuine nearest neighbor (haversine distances are periodic, the cell
    grid is not).  Row-CONDITIONAL rewrite: in-range rows keep their
    EXACT original bits ((lon+180)-180 is not an identity in floating
    point — absorption near 0), so existing in-range corpora are
    bit-unchanged; only out-of-range rows wrap.  Planar metrics skip the
    wrap entirely — UTM-magnitude coordinates are legitimate there and
    certification handles them via the world-boundary edge rules."""
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


def knn_join_tiled(
    queries: DataFrame,
    data: DataFrame,
    k: int,
    res: int,
    query_id: str = "cell_id",
    data_id: str = "data_id",
    lon: str = "lon",
    lat: str = "lat",
    metric: Distance | None = None,
    ring: int = 1,
    replicate: str = "data",
    salt: int = 0,
) -> DataFrame:
    """Big-big exact-certified kNN join via cell-ring expansion.

    1. encode both sides at resolution ``res`` (JVM-side arithmetic);
    2. replicate ONE side into the ring-``ring`` halo by exploding
       ``tiling.ring_expr`` (unique cells — off-world lat rows dropped,
       lon wraps deduplicated, so no data row can occupy two ranks of one
       query):
       ``replicate='data'`` (default, the bulk first pass — ×(2r+1)²
       bounded fanout of the data side) or ``replicate='queries'``
       (escalation passes over a small pending side — replicating the
       small side keeps wide rings cheap);
    3. equi-join on cell id → candidates; AQE skew-join splits hot cells;
       ``salt > 1`` additionally pre-reduces per-query candidates through
       a two-stage top-k — stage 1 partitions by (query, data_id % salt)
       and keeps k per salt, bounding the final per-query window input to
       salt·k rows (explicit hot-cell handling per the north rule, on top
       of AQE);
    4. window top-k per query with deterministic (dist, data_id) order;
    5. certification: kth distance ≤ exact lower bound on the distance to
       anything outside the covered block (``_block_guard_sql`` — wrap-
       and pole-safe), else the query escalates.

    Returns (query_id, data_id, dist, rank, certified).
    """
    from pyspark.sql import Window

    metric = metric or Haversine()
    queries = _wrap_lon(queries, lon, metric)
    data = _wrap_lon(data, lon, metric)
    cexpr = tiling.cell_expr(lon, lat, res)

    q = queries.withColumn("_qcell", F.expr(cexpr)).select(
        F.col(query_id), F.col("_qcell"),
        F.col(lon).alias("_qlon"), F.col(lat).alias("_qlat"),
    )
    d = data.withColumn("_dcell", F.expr(cexpr)).select(
        F.col(data_id), F.col("_dcell"),
        F.col(lon).alias("_dlon"), F.col(lat).alias("_dlat"),
    )

    if replicate == "data":
        d_rep = d.select(
            F.explode(F.expr(tiling.ring_expr("_dcell", res, ring)))
            .alias("_jcell"),
            data_id, "_dlon", "_dlat",
        )
        cand = q.hint(_CAND_JOIN_HINT).join(
            d_rep, F.col("_qcell") == F.col("_jcell"), "inner"
        )
    elif replicate == "queries":
        q_rep = q.select(
            query_id, "_qcell", "_qlon", "_qlat",
            F.explode(F.expr(tiling.ring_expr("_qcell", res, ring)))
            .alias("_jcell"),
        )
        cand = q_rep.hint(_CAND_JOIN_HINT).join(
            d, F.col("_jcell") == F.col("_dcell"), "inner"
        )
    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"replicate must be 'data' or 'queries': {replicate}")

    dist_sql = metric.sql(("_qlon", "_qlat"), ("_dlon", "_dlat"))
    cand = cand.withColumn("dist", F.expr(dist_sql))

    if salt > 1:
        w1 = Window.partitionBy(query_id, "_salt").orderBy(
            F.col("dist").asc(), F.col(data_id).asc()
        )
        cand = (
            cand.withColumn("_salt", F.pmod(F.col(data_id), F.lit(salt)))
            .withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= k)
            .drop("_salt", "_r1")
        )

    w = Window.partitionBy(query_id).orderBy(
        F.col("dist").asc(), F.col(data_id).asc()
    )
    topk = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )

    guard = _block_guard_sql(res, ring, metric)
    # (1 − 1e-12) slack: the guard formulas round at ~1 ulp; certification
    # must never exceed the true bound (same slack as bucket_index.topk)
    topk = topk.withColumn(
        "certified", F.expr(f"dist <= ({guard}) * (1.0 - 1e-12)")
    )
    return topk.select(query_id, data_id, "dist", "rank", "certified")


def _cell_mindist_sql(res: int, metric: Distance,
                      cell: str = "_ccell") -> str:
    """SQL lower bound on the distance from a query (_qlon, _qlat) to ANY
    point inside cell ``cell`` at resolution ``res`` — conservative (may
    under-estimate, never over-estimates), used to prune whole cells in
    the bounded terminal pass."""
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
    # world boundary, mirroring _block_guard_sql's edge-drop rule, to keep
    # the bound conservative for clamped points
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


def _bounded_terminal(
    pending: DataFrame,
    bounds: DataFrame,
    data: DataFrame,
    k: int,
    query_id: str,
    data_id: str,
    lon: str,
    lat: str,
    metric: Distance,
    res: int = 4,
) -> DataFrame:
    """EXACT terminal pass with cell-level pruning: each pending query
    carries an upper bound on its true kth distance (the kth candidate
    it has ALREADY seen in earlier ring passes — a real point, so a valid
    bound); coarse cells whose minimum possible distance exceeds the
    bound cannot contain a top-k member and are pruned BEFORE pairing.
    Queries with no bound (< k candidates anywhere) keep bound = ∞ and
    degrade to the full pairing — exact either way."""
    from pyspark.sql import Window

    pending = _wrap_lon(pending, lon, metric)
    data = _wrap_lon(data, lon, metric)
    n = tiling.nside(res)
    q = pending.join(
        bounds, query_id, "left"
    ).selectExpr(
        query_id, f"{lon} AS _qlon", f"{lat} AS _qlat",
        "coalesce(_bound, CAST(1e308 AS DOUBLE)) AS _b",
    )
    # static ×n² coarse-cell fanout as a pure PROJECTION (explode of a
    # sequence literal — no cross join in the plan), then the per-cell
    # minimum-distance prune
    mind = _cell_mindist_sql(res, metric)
    probes = q.selectExpr(
        "*", f"explode(sequence(0, {n * n - 1})) AS _ci"
    ).selectExpr(
        "*",
        f"CAST({res} AS BIGINT) * {1 << 58} "
        f"+ CAST(floor(_ci / {n}) AS BIGINT) * {1 << 29} + (_ci % {n}) "
        f"AS _ccell",
    ).where(F.expr(f"({mind}) * (1.0 - 1e-12) <= _b"))
    d = data.selectExpr(
        data_id,
        f"{tiling.cell_expr(lon, lat, res)} AS _dcell",
        f"{lon} AS _dlon", f"{lat} AS _dlat",
    )
    # merge hint: the probe side is explode-derived (no stats) — never
    # let AQE broadcast the data side here
    cand = probes.hint(_CAND_JOIN_HINT).join(
        d, F.col("_ccell") == F.col("_dcell"), "inner"
    )
    dist_sql = metric.sql(("_qlon", "_qlat"), ("_dlon", "_dlat"))
    cand = cand.withColumn("dist", F.expr(dist_sql))
    w = Window.partitionBy(query_id).orderBy(
        F.col("dist").asc(), F.col(data_id).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, data_id, "dist", "rank")
    )


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
    first_replicate: str = "data",
) -> DataFrame:
    """EXACT big-big kNN join, fully distributed (NO driver-side collect of
    either side at any stage):

    ``first_replicate``: which side the bulk ring-1 pass replicates ×9 —
    pick the side with FEWER ROWS ('data' when conditioning points are
    sparser than query cells, 'queries' when an estimation grid is smaller
    than a 10¹²-page data side); candidate sets and results are identical
    either way.  Escalation passes always replicate the pending-query
    side (it shrinks toward zero).

    * pass 1 — ring-1 tiled join at ``res`` with the data side replicated
      into its halo: resolves the dense bulk;
    * escalation passes — uncertified queries re-run with geometrically
      wider rings (4, 16, …, while the block stays < a half-circle), now
      replicating the PENDING QUERY side into its ring cells, so a wide
      ring multiplies the small side, never the 10¹²-row data side;
    * terminal pass — BOUNDED: each remaining query's kth-so-far candidate
      distance (an actual data point, hence a valid upper bound on its
      true kth distance) prunes every coarse cell whose minimum possible
      distance exceeds it before any pairing; only queries with < k
      candidates anywhere degrade to the full pairing.  Ordinary
      distributed joins throughout — never a broadcast or driver collect
      of the data side.

    Returns (query_id, data_id, dist, rank) — provably identical rows to
    a brute-force kNN (the north rule's 'identical join output rows').
    """
    metric = metric or Haversine()
    sel = [query_id, data_id, "dist", "rank"]
    n = tiling.nside(res)
    rings = [1]
    rk = 4
    while (2 * rk + 1) * 2 < n:  # block span must stay < half the circle
        rings.append(rk)
        rk *= 4
    # NOTE: no final half-circle ring — a ring r multiplies the pending
    # side by (2r+1)² probe cells (16k at res 8), which is the memory hot
    # spot; the BOUNDED terminal below resolves the same tail with a
    # per-query distance bound instead of a blanket ring

    parts: list[DataFrame] = []
    caches: list[DataFrame] = []
    pending = queries
    last_out = None
    for i, ring in enumerate(rings):
        out = knn_join_tiled(
            pending, data, k, res, query_id, data_id, lon, lat, metric,
            ring=ring,
            replicate=(first_replicate if i == 0 else "queries"),
            salt=salt,
        ).cache()
        caches.append(out)
        last_out = out
        # a query is resolved iff it has ≥ k candidates and the kth is
        # certified (rank k certified implies ranks < k certified — same
        # candidate set and smaller dist)
        resolved_ids = (
            out.groupBy(query_id)
            .agg(
                F.sum(F.col("certified").cast("int")).alias("_nc"),
                F.count(F.lit(1)).alias("_n"),
            )
            .filter((F.col("_nc") >= F.col("_n")) & (F.col("_n") >= k))
            .select(query_id)
        )
        parts.append(out.join(resolved_ids, query_id, "semi").select(*sel))
        # cache: each query-replicated pass consumes pending TWICE (ring
        # cells + probe rows) and the anti-join chain would otherwise
        # re-execute per consumer; the pending set shrinks toward zero
        pending = pending.join(resolved_ids, query_id, "anti").cache()
        caches.append(pending)
        # eager short-circuit: one cheap limit-1 action per pass prunes
        # every later (and increasingly wide) escalation stage once all
        # queries certified — the common dense-data case pays pass 1 only
        if pending.isEmpty():
            pending = None
            break

    if pending is not None:
        # terminal, bounded: pending queries already hold ≥k real
        # candidates from the widest ring pass in the common case — their
        # kth distance upper-bounds the true kth, so whole coarse cells
        # beyond it are pruned before pairing (the unbounded all-data
        # pairing only remains for queries with < k candidates anywhere)
        bounds = (
            last_out.groupBy(query_id)
            .agg(F.max("dist").alias("_bound"), F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= k)
            .select(query_id, "_bound")
        )
        term = _bounded_terminal(
            pending, bounds, data, k, query_id, data_id, lon, lat, metric,
        )
        parts.append(term.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # materialize the final pairs ONCE (callers materialize them anyway),
    # then free every ladder intermediate — repeated tiled solves in one
    # session previously accumulated pass caches until storage memory
    # filled.  The returned result stays cached (bounded: ≤ nq × k rows);
    # callers may .unpersist() it when finished.
    out = out.cache()
    out.count()
    for c in caches:
        c.unpersist()
    return out
