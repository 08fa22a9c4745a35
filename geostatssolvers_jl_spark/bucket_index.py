"""Bucketed spatial index — the executor-side analogue of the reference's
kd-tree (``NearestNeighbors.jl`` via ``src/ui.jl:27``), built from scratch
in numpy (no scipy in the runtime).

Built once per broadcast payload (driver or lazily per worker process) and
queried inside ``mapInPandas`` batches.  Exact kNN with certification:

* data points land in a uniform d-D bucket grid (CSR layout: ``starts`` +
  permutation) sized for ~``target`` points per bucket — per *occupied*
  bucket when the data wraps its whole grid, as globe-spread sphere data
  does (see ``__init__``).  The grid lives in
  the metric's ranking-feature space (``rank_features``): the coordinates
  for Euclidean, the per-axis scaled coordinates for Anisotropic, and 3-D
  unit vectors for Haversine — in each of those spaces the metric is a
  monotone function of the plain Euclidean distance;
* queries are grouped by bucket — every query in a group shares one
  candidate set (the (2r+1)^d bucket window), so each group is one small
  GEMM + argpartition over ~10² candidates instead of the full data set,
  keeping the working set cache-resident (brute force is memory-bandwidth
  bound and stops scaling across executor cores exactly there);
* float32 surrogate keys only *shortlist* a buffer of candidates; the
  final selection, ordering, and certification all use exact float64
  canonical distances (same op order as the SQL text → DuckDB oracle
  parity);
* a query is *certified* when its kth exact distance is ≤ a lower bound on
  the distance to any point outside the covered window.  The bound is the
  axis-aligned margin from the query to the window's faces in feature
  space; a face on the data bbox is dropped (no data lies beyond it).  On
  the sphere that margin is a chord, and the arc it bounds is
  ``2R·asin(min(1, c/2))`` — the unit-vector space has no wrap and no
  pole, so no special case exists.  Uncertified queries widen the window
  (ring 1 → 4 → all data).

Ties break by original data position (== data id after `collect_points`'
canonical sort) — identical to the brute-force path and the SQL oracle.
"""

from __future__ import annotations

import numpy as np

from . import neighbors
from .distances import Distance, Haversine


def _grid_shape(span: np.ndarray, total: int) -> np.ndarray:
    """Buckets per axis: cubic cells whose count is ≤ ``total``.  An axis
    thinner than one cell gets a single bucket and leaves the budget to
    the others, so degenerate (near-collinear, single-latitude) data
    cannot explode the remaining axes."""
    act = np.ones(span.size, dtype=bool)
    while True:
        w = (np.prod(span[act]) / total) ** (1.0 / act.sum())
        thin = act & (span < w)
        if not thin.any():
            break
        act &= ~thin  # the widest axis always stays: its span ≥ w
    return np.where(act, np.maximum(1, np.floor(span / w)), 1).astype(np.int64)


class BucketIndex:
    def __init__(self, coords: np.ndarray, metric: Distance,
                 target: int = 32):
        self.metric = metric
        self.coords = coords
        m = coords.shape[0]
        assert coords.shape[1] == 2, "bucket index is 2-D; use brute force otherwise"
        self.is_sphere = isinstance(metric, Haversine)
        # float64 features place the buckets and bound the certification;
        # centered on the data mean before the float32 cast they rank —
        # large-magnitude planar coords AND tightly clustered spherical
        # unit vectors otherwise carry absolute key noise past the
        # shortlist slack (exact float64 distances always use the
        # ORIGINAL coords; see neighbors.topk_search)
        F64 = metric.rank_features(coords)
        self._fcenter = F64.mean(axis=0)
        self.features = (F64 - self._fcenter).astype(np.float32)

        self.lo = F64.min(axis=0)
        self.span = np.maximum(F64.max(axis=0) - self.lo, 1e-9)
        total = max(1, int(m / target))
        self._layout(F64, total)
        # a flat sheet across a d-D grid occupies ~prod(nb)^(2/d) buckets;
        # data occupying more than π such sheets wraps its whole box, as
        # sphere data spread over the globe does (a shell: π× the area
        # of the box's cross-section).  Every query then lies near data,
        # but occupied buckets grow only as nb² while all grow as nb^d, so
        # the budget leaves most of them empty: one rescale puts ~target
        # points into each OCCUPIED bucket, capped at one bucket per data
        # point.  Data below that (clusters, caps, strips, any planar
        # data) keeps its budget: finer buckets there push the queries
        # between the data onto the brute path.
        occ = np.count_nonzero(np.diff(self.starts))
        d = max(1, np.count_nonzero(self.nb > 1))
        if occ >= np.pi * np.prod(self.nb) ** (2.0 / d) and occ < total:
            self._layout(F64, min(m, int(total * (total / occ) ** (d / 2))))

    def _layout(self, F64: np.ndarray, total: int) -> None:
        self.nb = _grid_shape(self.span, total)
        self.w = self.span / self.nb
        # axis 0 varies fastest: a window row along it is one CSR range
        self.stride = np.concatenate([[1], np.cumprod(self.nb[:-1])])
        bid = self._cells(F64) @ self.stride
        self.perm = np.argsort(bid, kind="stable")
        self.starts = np.searchsorted(
            bid[self.perm], np.arange(int(np.prod(self.nb)) + 1)
        )

    # -- helpers ----------------------------------------------------------

    def _cells(self, F: np.ndarray) -> np.ndarray:
        """(n, d) bucket coordinates; points beyond the bbox clamp in."""
        c = ((F - self.lo) / self.span * self.nb).astype(np.int64)
        return np.clip(c, 0, self.nb - 1)

    def _window_members(self, c0: np.ndarray, c1: np.ndarray) -> np.ndarray:
        """Data positions in the bucket box [c0, c1] (inclusive)."""
        bases = np.zeros(1, dtype=np.int64)
        for ax in range(1, self.nb.size):
            bases = (bases[:, None] + np.arange(c0[ax], c1[ax] + 1)
                     * self.stride[ax]).ravel()
        s = self.starts[bases + c0[0]]
        e = self.starts[bases + c1[0] + 1]
        rows = [self.perm[a:b] for a, b in zip(s, e) if b > a]
        if not rows:
            return np.empty(0, dtype=np.int64)
        return np.concatenate(rows) if len(rows) > 1 else rows[0]

    def _boundary_dist(self, QF: np.ndarray, c0: np.ndarray, c1: np.ndarray
                       ) -> np.ndarray:
        """Exact-metric lower bound on the distance from each query
        (float64 features ``QF``) to any point OUTSIDE the bucket box
        [c0, c1].  Conservative; float64."""
        edges = []
        for ax in range(self.nb.size):
            if c0[ax] > 0:  # a face on the data bbox has no data beyond it
                edges.append(QF[:, ax] - (self.lo[ax] + c0[ax] * self.w[ax]))
            if c1[ax] < self.nb[ax] - 1:
                edges.append(self.lo[ax] + (c1[ax] + 1) * self.w[ax] - QF[:, ax])
        if not edges:
            return np.full(QF.shape[0], np.inf)
        bound = np.maximum(np.minimum.reduce(edges), 0.0)
        if self.is_sphere:  # chord → great-circle arc
            bound = 2.0 * self.metric.radius * np.arcsin(
                np.minimum(1.0, bound / 2.0))
        return bound

    # -- main entry -------------------------------------------------------

    def topk(self, qcoords: np.ndarray, k: int, radius: float | None = None
             ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Same contract as `neighbors.topk_search`."""
        metric = self.metric
        n = qcoords.shape[0]
        m = self.coords.shape[0]
        k = min(k, m)
        out_idx = np.full((n, k), -1, dtype=np.int64)
        out_dist = np.full((n, k), np.inf, dtype=np.float64)
        if n == 0 or k == 0 or m == 0:
            return out_idx, out_dist, np.zeros(n, dtype=np.int64)

        QF64 = metric.rank_features(qcoords)
        QF_all = (QF64 - self._fcenter).astype(np.float32)
        qcell = self._cells(QF64)
        bid = qcell @ self.stride
        order = np.argsort(bid, kind="stable")
        bid_sorted = bid[order]
        gstarts = np.searchsorted(bid_sorted, np.arange(self.starts.size))
        max_r = int(self.nb.max())
        buffer_extra = 16

        for b in np.unique(bid_sorted):
            qsel = order[gstarts[b]:gstarts[b + 1]]
            cell = qcell[qsel[0]]
            pending = qsel
            r = 1
            while pending.size:
                c0 = np.maximum(cell - r, 0)
                c1 = np.minimum(cell + r, self.nb - 1)
                if (c0 == 0).all() and (c1 == self.nb - 1).all():
                    # window == all data: the chunked brute path does this
                    # cache-optimally (and with identical tie semantics)
                    bi, bd, _ = neighbors.topk_search(
                        qcoords[pending], self.coords, k, metric, radius
                    )
                    out_idx[pending] = bi
                    out_dist[pending] = bd
                    break
                cand = self._window_members(c0, c1)
                if cand.size >= k:
                    # chunk the query side so each key block stays cache-
                    # resident (same rationale as topk_search's qchunk)
                    qstep = max(32, 1_500_000 // cand.size)
                    still = []
                    for cs in range(0, pending.size, qstep):
                        psel = pending[cs:cs + qstep]
                        K = metric.rank_keys(QF_all[psel], self.features[cand])
                        nbuf = min(cand.size, k + buffer_extra)
                        sel, overflow = neighbors.shortlist_topk(K, nbuf)
                        cidx = cand[sel]
                        # exact float64 distances on the shortlist
                        cd = metric.np_pairs(qcoords[psel], self.coords[cidx])
                        if radius is not None:
                            cd = np.where(cd <= radius, cd, np.inf)
                        o2 = np.lexsort((cidx, cd), axis=1)
                        cidx = np.take_along_axis(cidx, o2, axis=1)[:, :k]
                        cd = np.take_along_axis(cd, o2, axis=1)[:, :k]
                        for row, cols in overflow:
                            rcols = cand[cols]
                            rd = metric.np_pairs(
                                qcoords[psel[row]][None, :],
                                self.coords[rcols][None, :, :],
                            )[0]
                            if radius is not None:
                                rd = np.where(rd <= radius, rd, np.inf)
                            o = np.lexsort((rcols, rd))[:k]
                            cidx[row, : len(o)] = rcols[o]
                            cd[row, : len(o)] = rd[o]
                        kth = cd.max(axis=1)  # inf if any slot unfilled
                        bound = self._boundary_dist(QF64[psel], c0, c1)
                        done = kth <= bound * (1.0 - 1e-12)
                        if radius is not None:
                            # window provably covering the whole ball also
                            # certifies (even with < k in-radius neighbors)
                            done = done | (bound * (1.0 - 1e-12) >= radius)
                        if done.any():
                            dsel = psel[done]
                            valid = np.isfinite(cd[done])
                            out_idx[dsel] = np.where(valid, cidx[done], -1)
                            out_dist[dsel] = cd[done]
                        still.append(psel[~done])
                    pending = np.concatenate(still) if still else pending[:0]
                # aggressive schedule: ring 1 → 4 → everything.  Each
                # failed ring re-pays its GEMM, so a slow doubling walk
                # costs more than jumping straight to the full window
                r = 4 if r == 1 else max_r
        nvalid = np.isfinite(out_dist).sum(axis=1).astype(np.int64)
        return out_idx, out_dist, nvalid
