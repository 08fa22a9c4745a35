"""Bit-exact vectorized kernels for the embedding operators (r7 perf).

The SQL spellings in `similarity.py` / `clustering.py` evaluate the
64-term distance/dot folds with Catalyst's *interpreted* higher-order
functions (`aggregate(zip_with(...))` — deliberately, because the
expanded term chain blows the Janino method limit).  That is the right
cross-engine contract for the ORACLE, but on the Spark side it burns
~µs per pair, and the vectors × centroids quantizer is O(n·k) such
folds on however many partitions the parquet scan happened to produce
(measured: a 13 MB single-file embeddings scan ran the whole fold on
2 tasks).

These kernels compute the IDENTICAL IEEE-double values with numpy by
accumulating over the dimension axis **sequentially, left to right from
a 0.0 seed** — the exact operation order of the SQL fold — vectorized
across rows instead of across dims.  Every reduction here is a loop of
`acc = acc + term_d` over d = 0..dim-1 on float64 arrays, so each
scalar's FP history is the same `0.0 + t0 + t1 + ...` chain the SQL
fold produces; products/differences/sqrt/division are single correctly-
rounded IEEE ops in both engines.  Rounding and ranking stay in Spark
SQL on top of these raw values (Spark's `round` is BigDecimal HALF_UP —
NOT numpy's half-even — so no rounding ever happens in Python).

Scale posture (guide §4, §5): the quantizer broadcasts only the
centroid matrix (k×dim — the planner keeps k ≈ √n in the production
tier).  The pair scorer broadcasts the embedding matrix itself and is
therefore a *bounded* tier: callers must gate it on
``GATHER_SCORE_LIMIT`` rows and fall back to the per-bucket equi-join
SQL above that bound (the 100-TB form, where embeddings travel with
their bucket rows instead of being replicated to every task).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# gather-scorer bound: rows × (64 dims + norm) × 8 B ≈ 260 MB of
# broadcast state per executor at the limit — comfortably inside local
# executor memory and far below the 8 GB broadcast cap.  Above this the
# callers keep the per-bucket join plan.
GATHER_SCORE_LIMIT = 500_000


def seq_sqdist(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n,d) × (k,d) → (n,k) squared L2 distances, accumulated over the
    dimension axis left-to-right — bit-identical to `_sqdist_sql`'s
    ``aggregate(zip_with(...), 0.0, acc + (x-y)²)`` fold."""
    n, d = X.shape
    k = C.shape[0]
    acc = np.zeros((n, k), dtype=np.float64)
    for j in range(d):
        diff = X[:, j, None] - C[None, :, j]
        acc += diff * diff
    return acc


def seq_dot_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot of two (n,d) float64 matrices, accumulated over the
    dimension axis left-to-right — bit-identical to `_dot_sql`."""
    acc = np.zeros(len(A), dtype=np.float64)
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def seq_norm_rows(A: np.ndarray) -> np.ndarray:
    """‖row‖ via the same fold + one IEEE sqrt — matches `_norm_sql`."""
    return np.sqrt(seq_dot_rows(A, A))


def _emb_matrix(rows) -> tuple[np.ndarray, np.ndarray]:
    """Collected (vec_id, embedding) rows → (sorted ids, float64 matrix
    in id order).  float32 → float64 widening is exact, like the SQL
    ``CAST(x AS DOUBLE)``."""
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    E = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    return ids[order], E[order]


def tie_safe_topk(d2: np.ndarray, nprobe: int) -> np.ndarray:
    """Column indices (n, nprobe) of the nprobe smallest entries per row
    under the total order (value, column index) — exact
    ``ROW_NUMBER() OVER (ORDER BY d2, cid)`` semantics when columns are
    in ascending-cid order.

    `np.argpartition` alone is NOT exact: when the nprobe-th and
    (nprobe+1)-th smallest values tie, either column may survive the
    partition, and the survivor's cid would silently decide the rank.
    Rows whose partition boundary ties (or where anything is within the
    boundary value) fall back to the full stable argsort — exact, just
    slower for those rows."""
    n, k = d2.shape
    if nprobe >= k:
        return np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
    part = np.argpartition(d2, nprobe - 1, axis=1)
    head, tail = part[:, :nprobe], part[:, nprobe:]
    rowi = np.arange(n)[:, None]
    kth = d2[rowi, head].max(axis=1)
    boundary_tie = d2[rowi, tail].min(axis=1) <= kth
    out = np.empty((n, nprobe), dtype=np.int64)
    safe = ~boundary_tie
    if safe.any():
        h = np.sort(head[safe], axis=1)  # ascending column (cid) order
        ordr = np.argsort(d2[np.nonzero(safe)[0][:, None], h], axis=1,
                          kind="stable")
        out[safe] = h[np.arange(len(h))[:, None], ordr]
    if boundary_tie.any():
        full = np.argsort(d2[boundary_tie], axis=1, kind="stable")
        out[boundary_tie] = full[:, :nprobe]
    return out


def ranked_cells(spark, emb_df, cent_ids: np.ndarray, C: np.ndarray,
                 nprobe: int, keep_d2: bool = False,
                 num_parts: int | None = None):
    """(vec_id, cid, rkc[, d2]) — each vector's ``nprobe`` nearest
    centroids under the sequential-fold squared distance, ties broken by
    ascending cid exactly like ``ROW_NUMBER() OVER (ORDER BY d2, cid)``.

    ``emb_df``: (vec_id, embedding) DataFrame.  ``cent_ids``/``C``: the
    centroid id vector and (k,dim) matrix, ALREADY sorted ascending by
    cid (the stable sorts then reproduce the (d2, cid) tie-break).  The
    centroid matrix rides the task closure — k×dim doubles, the model,
    not the corpus.  The input is repartitioned to the session's
    parallelism first: the single-file parquet scan otherwise runs the
    whole O(n·k) kernel on one or two tasks."""
    if not (np.diff(cent_ids) > 0).all():
        raise ValueError("ranked_cells: cent_ids must be strictly ascending")
    k = len(cent_ids)
    nprobe = min(int(nprobe), k)
    # chunk so the (chunk, k) distance block stays ~32 MB
    chunk = max(1, 4_000_000 // max(1, k))
    cid_arr = np.ascontiguousarray(cent_ids, dtype=np.int64)
    C = np.ascontiguousarray(C, dtype=np.float64)
    schema = "vec_id long, cid long, rkc int"
    if keep_d2:
        schema += ", d2 double"

    def fn(batches):
        for b in batches:
            vid = b["vec_id"].to_numpy(dtype=np.int64)
            X = np.asarray(list(b["embedding"]), dtype=np.float64)
            for s in range(0, len(vid), chunk):
                x = X[s:s + chunk]
                v = vid[s:s + chunk]
                d2 = seq_sqdist(x, C)
                sel = tie_safe_topk(d2, nprobe)
                rows = {
                    "vec_id": np.repeat(v, nprobe),
                    "cid": cid_arr[sel].ravel(),
                    "rkc": np.tile(
                        np.arange(1, nprobe + 1, dtype=np.int32),
                        len(v)),
                }
                if keep_d2:
                    rows["d2"] = d2[np.arange(len(v))[:, None],
                                    sel].ravel()
                yield pd.DataFrame(rows)

    npart = num_parts or spark.sparkContext.defaultParallelism
    return (emb_df.select("vec_id", "embedding")
            .repartition(npart)
            .mapInPandas(fn, schema))


def gather_score_pairs(spark, pairs_df, ids: np.ndarray, E: np.ndarray,
                       qcol: str = "qid", ncol: str = "nid",
                       out_col: str = "c_raw"):
    """(qcol, ncol) pair DataFrame → + ``out_col`` raw cosine, computed
    as ``seq_dot(q, d) / (‖q‖·‖d‖)`` with the sequential folds — the
    bit-identical value of `ann_topk_lsh_sql`'s per-pair expression
    BEFORE its `round(..., 6)` (rounding stays in SQL).

    ``ids``/``E``: sorted id vector + embedding matrix (from
    `_emb_matrix`).  The matrix and its norms ship once per executor as
    a broadcast, not in every task's closure.  Bounded tier: gated on
    GATHER_SCORE_LIMIT — above it callers keep the per-bucket join
    plan."""
    if len(ids) > GATHER_SCORE_LIMIT:
        raise ValueError(
            f"gather_score_pairs: {len(ids)} vectors exceeds the "
            f"gather-scorer bound {GATHER_SCORE_LIMIT}; use the "
            f"per-bucket join plan")
    bc = spark.sparkContext.broadcast((ids, E, seq_norm_rows(E)))
    schema = f"{qcol} long, {ncol} long, {out_col} double"

    def fn(batches):
        ids, E, nrm = bc.value
        for b in batches:
            qv = b[qcol].to_numpy(dtype=np.int64)
            nv = b[ncol].to_numpy(dtype=np.int64)
            qi = np.searchsorted(ids, qv)
            ni = np.searchsorted(ids, nv)
            dot = seq_dot_rows(E[qi], E[ni])
            yield pd.DataFrame({
                qcol: qv, ncol: nv,
                out_col: dot / (nrm[qi] * nrm[ni]),
            })

    return pairs_df.select(qcol, ncol).mapInPandas(fn, schema)


def bucket_tables_kernel(spark, emb_df, n_planes: int = 5,
                         n_tables: int = 6, dim: int = 64):
    """``(vec_id, tbl, bucket)`` — kernel twin of
    `similarity.bucket_tables_sql` (r7 second session): the multi-table
    sign-LSH assignment whose SQL form evaluates n_tables × n_planes
    interpreted 64-term folds per vector (measured 7–9 s at sf1.0 —
    invisible to a min-of-N bench but fully charged by the driver's
    reduced-reps big-SF run).

    Bit-exact replay: the hyperplane weights are the same integer
    arithmetic (``(seed % 1000)/1000.0 − 0.5`` — each step a single
    correctly-rounded IEEE op in both engines), and each plane's dot
    accumulates over the dimension axis sequentially from a 0.0 seed,
    replaying the ``aggregate(zip_with())`` fold's exact FP history; the
    sign test ``>= 0.0`` admits −0.0 in numpy exactly as SQL's CASE
    does.  The bucket id is pure integer arithmetic.  Pinned against
    the SQL by `tests/test_vecops.py`."""
    W = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                seed = t * 37199 + p * 8191 + d * 131 + 7
                W[t, p, d] = (seed % 1000) / 1000.0 - 0.5
    pows = (1 << np.arange(n_planes)).astype(np.int64)

    def fn(batches):
        empty = pd.DataFrame({
            "vec_id": pd.Series(dtype="int64"),
            "tbl": pd.Series(dtype="int32"),
            "bucket": pd.Series(dtype="int32"),
        })
        for b in batches:
            n = len(b)
            if n == 0:
                yield empty
                continue
            X = np.asarray(list(b["embedding"]), dtype=np.float64)
            vid = b["vec_id"].to_numpy(dtype=np.int64)
            for t in range(n_tables):
                acc = np.zeros((n, n_planes), dtype=np.float64)
                for d in range(dim):
                    acc = acc + X[:, d:d + 1] * W[t, :, d][None, :]
                # Spark's `dot >= 0.0` orders NaN ABOVE every double
                # (sets the bit); numpy's NaN >= 0.0 is False — OR in
                # isnan so a NaN dot buckets identically
                sign = (acc >= 0.0) | np.isnan(acc)
                bucket = (sign.astype(np.int64) * pows).sum(axis=1)
                yield pd.DataFrame({
                    "vec_id": vid,
                    "tbl": np.full(n, t, dtype=np.int32),
                    "bucket": bucket.astype(np.int32),
                })

    return emb_df.select("vec_id", "embedding").mapInPandas(
        fn, "vec_id long, tbl int, bucket int")
