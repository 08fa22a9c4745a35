"""Cross-validation of estimation solvers (model selection / error rate).

The reference ecosystem validates solvers with leave-one-out /
k-fold cross-validation (GeoStatsValidation.jl; the reference's own
error-rate surface is SURVEY §2.4 A8).  Two forms, Spark-first:

* **Leave-one-out IDW** (`loo_idw`) — one more local-estimator kernel:
  each point is estimated from its k nearest OTHER points by the IDW
  kernel `solve_idw` runs (`idw.idw_stack`), on the gather
  `tiled.solve_local` picks (broadcast up to `planner.BROADCAST_LIMIT`
  data rows, the tiled kNN join above).  `loo_idw_sql` is the same
  operator as one shared-dialect text (a self-excluding kNN pair
  relation + `idw_agg_sql`): the DuckDB oracle.
* **k-fold** (`kfold_cv`) — solver-agnostic: folds assigned by a
  deterministic id hash, each fold estimated by the caller's solver
  trained on the complement.  k solver calls, each fully distributed;
  the per-fold results union back into one (data_id, z, zhat) frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .distances import Distance
from .operators.idw import idw_agg_sql, idw_stack
from .operators.tiled import solve_local
from .oracle import knn_pairs_sql


def loo_idw(points, k: int, metric: Distance, exponent: float):
    """Leave-one-out IDW cross-validation of ``points (data_id, x, y, z)``
    (rows with a NULL ``z`` are neither estimated nor used): per point
    ``(data_id, z, zhat, err)``, the rows of `loo_idw_sql` — zhat the IDW
    estimate from the k nearest other points in (dist, data_id) order,
    err = zhat − z, both rounded half-up to 6 places in Spark.  A point
    with no other point gets no row.

    The gather fetches each point's k + 1 nearest, its own ``data_id``
    riding along as a value; the kernel drops the point's own slot (which
    is missing when k + 1 co-located points have lower ids) and hands
    `idw_stack` the first k other valid slots."""
    pts = points.filter("z IS NOT NULL").selectExpr(
        "data_id", "x", "y", "CAST(z AS DOUBLE) AS z", "data_id AS _nid")
    queries = pts.selectExpr("data_id AS target_id", "x", "y", "z")

    def kernel(pdf, qcoords, NC, vals, dist, valid):
        ids = pdf["target_id"].to_numpy(np.int64)
        keep = valid & (vals["_nid"] != ids[:, None])
        keep &= np.cumsum(keep, axis=1) <= k
        zhat, _ = idw_stack(vals["z"], dist, keep, exponent)
        out = pd.DataFrame({"data_id": ids, "z": pdf["z"].to_numpy(),
                            "zhat": zhat})
        return out[keep.any(axis=1)]

    est = solve_local(
        pts, queries, "z", kernel, "data_id long, z double, zhat double",
        ["x", "y"], ["x", "y"], k + 1, 1, metric, None, "target_id",
        "auto", None, value_cols=["z", "_nid"],
    )
    return est.selectExpr(
        "data_id", "z", "round(zhat, 6) + 0.0 AS zhat",
        "round(zhat - z, 6) + 0.0 AS err")


def loo_knn_pairs_sql(points_rel: str, dist_sql: str, k: int,
                      val_col: str = "z") -> str:
    """Self-excluding kNN pair relation
    ``(target_id, data_id, dist, z, rank)``: for every point, its k
    nearest neighbors among the OTHER points — `oracle.knn_pairs_sql`
    with queries = data, a ``target_id`` alias on the query side, and
    the self-exclusion predicate (ONE ranking/tie-break source of
    truth for every kNN consumer)."""
    q_side = f"(SELECT *, data_id AS target_id FROM {points_rel} _qs)"
    return knn_pairs_sql(
        q_side, points_rel, dist_sql, k, qid="target_id",
        value_cols=(val_col,),
        where_extra="q.data_id <> d.data_id",
        broadcast_data=True,
    )


def loo_idw_sql(points_rel: str, dist_sql: str, k: int,
                exponent: float = 1.0, val_col: str = "z",
                round_to: int = 6) -> str:
    """Leave-one-out IDW cross-validation, per-point.

    Output: ``(data_id, z, zhat, err)`` — z the held-out truth, zhat
    the IDW estimate from the k nearest other points, err = zhat − z.
    A co-located duplicate point (dist 0 among the neighbors) estimates
    exactly by the A2 exactness rule — the right semantics for LOO
    (a duplicated measurement predicts its twin)."""
    pairs = loo_knn_pairs_sql(points_rel, dist_sql, k, val_col)
    est = idw_agg_sql(f"({pairs}) _p", var=val_col, exponent=exponent,
                      qid="target_id")
    return f"""
SELECT t.data_id, CAST(t.{val_col} AS DOUBLE) AS z,
       round(e.zhat, {int(round_to)}) + 0.0 AS zhat,
       round(e.zhat - CAST(t.{val_col} AS DOUBLE), {int(round_to)})
         + 0.0 AS err
FROM {points_rel} t
JOIN (SELECT target_id, {val_col} AS zhat FROM ({est}) _e) e
  ON e.target_id = t.data_id"""


def cv_summary_sql(loo_rel: str, round_to: int = 6) -> str:
    """MAE / RMSE / bias over a per-point CV relation ``(…, err)``."""
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n,
       round(avg(abs(err)), {int(round_to)}) + 0.0 AS mae,
       round(sqrt(avg(err * err)), {int(round_to)}) + 0.0 AS rmse,
       round(avg(err), {int(round_to)}) + 0.0 AS bias
FROM {loo_rel}"""


def kfold_cv(points_df, solver_fn, k: int = 5, id_col: str = "data_id",
             val_col: str = "z"):
    """Solver-agnostic k-fold CV: fold = deterministic id hash, each
    fold estimated by ``solver_fn(train_df, test_df) -> DataFrame``
    (must return ``(id_col, zhat)``); per-fold frames union into one
    ``(id_col, val_col, zhat, err)`` result.  Each solver call is
    fully distributed; k is small.

    Uses ``pmod(hash(id), k)`` — the engine's standard deterministic
    splitter (raw ``id % k`` is biased on aligned id spaces)."""
    if k < 2:
        raise ValueError("kfold_cv: k must be >= 2")
    if "_fold" in points_df.columns:
        raise ValueError(
            "kfold_cv: points_df already carries a `_fold` column — "
            "rename it (the splitter would silently overwrite it)"
        )
    from pyspark.sql import functions as F

    tagged = points_df.withColumn(
        "_fold", F.pmod(F.hash(F.col(id_col)), F.lit(int(k))))
    out = None
    for fold in range(k):
        test = tagged.filter(F.col("_fold") == fold).drop("_fold")
        train = tagged.filter(F.col("_fold") != fold).drop("_fold")
        est = solver_fn(train, test)
        part = test.join(est, id_col).select(
            id_col, val_col, F.col("zhat"),
            (F.col("zhat") - F.col(val_col)).alias("err"))
        out = part if out is None else out.unionByName(part)
    return out
