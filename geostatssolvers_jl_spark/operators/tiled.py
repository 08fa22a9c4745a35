"""Physical routing for the local estimators, and their tiled (big-big)
gather.

Every local estimator (IDW, compositional IDW, LWR, kriging) is one
stacked-array kernel ``kernel(q_pdf, qcoords, NC, vals, dist, valid)``
(`neighbors.ArrayKernel`), written once in its operator module.
`solve_local` decides which of two gathers fills the kernel's (B, k)
stacks:

* **broadcast** (`neighbors.stacked_apply`) mirrors the reference's
  global in-memory kd-tree (``src/ui.jl:27``): collect the
  data side, search per Arrow batch, index the stacks out of the
  broadcast `PointData`.  Valid while the conditioning data fits one
  executor.
* **tiled** (`tiled_local_apply`), chosen above
  `planner.BROADCAST_LIMIT` data rows:

  1. exact neighbor pairs via the fully-distributed one-pass tiled join
     (`neighbors.knn_join_tiled_exact` — no driver collect of either
     side, no cache, no action);
  2. each pair arrives with its neighbor's coords + values, passed
     through the join from the row it ranked (no second read of the
     data side, no lookup by ``data_id``);
  3. per-query neighbor ARRAYS via ``sort_array(collect_list(struct(...)))``
     — rank-sorted, so the gathered stacks are in the identical
     (dist, data_id) order the broadcast gather produces;
  4. one vectorized ``mapInPandas`` pass zero-fills the stacks from the
     arrays and runs the same kernel.

Same kernel, same stacks ⇒ results bit-identical between the two paths
whenever the distance bits agree (proven by tests/test_tiled_estimation.py).
On Haversine the tiled path's distances come from JVM trig instead of
numpy trig; 1-ulp libm differences can propagate to ~1e-11 relative on
ill-conditioned (duplicate-coordinate) kriging systems — far below the
round-6 correctness gate.

Scale shape of the tiled path: one lazy plan.  Its shuffles are the
bound (the data's cell pyramid aggregate, the query-to-pyramid join, a
per-query min), the candidate join, the top-k window and the
group-to-arrays; the replicated side is always the query
side, over the cells its kth-distance bound can reach.  Never a
broadcast or driver materialization of the data side.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..distances import Distance, Haversine
from ..neighbors import (
    ArrayKernel, PointData, collect_points, knn_join_tiled_exact,
    stacked_apply,
)

# never filled (the tiled join caches nothing; its pairs are scanned
# once); kept only because `perfbench.workloads.reset_engine_caches`
# still clears them
_LAST_PAIRS: dict = {}
_PAIRS_LOCK = __import__("threading").Lock()


def tiled_local_apply(
    grid_df: DataFrame,
    data_df: DataFrame,
    query_coord_cols: list[str],
    data_coord_cols: list[str],
    value_cols: list[str],
    k: int,
    kernel: ArrayKernel,
    out_schema: str,
    metric: Distance | None = None,
    radius: float | None = None,
    res: int = 6,
    id_col: str = "cell_id",
) -> DataFrame:
    """Search + gather + solve for a data side too big to broadcast."""
    if len(data_coord_cols) != 2 or len(query_coord_cols) != 2:
        # SUPPORTED 3-D strategy: broadcast.  The reference's domains are
        # 1-D/2-D (CartesianGrid(100), (100,100) throughout its tests);
        # the N-D broadcast path covers 3-D data up to its documented
        # bound of planner.BROADCAST_LIMIT conditioning rows (≈ 100 MB
        # per executor, well under executor memory).  A z-slab tiled join
        # (slab over z with halo ≥ search radius, 2-D tiles within each
        # slab) is the designed extension if a >2M-row 3-D corpus ever
        # materializes; it is NOT implemented, and this guard makes that
        # an explicit error instead of silently wrong neighbors.
        raise ValueError(
            "the tiled strategy tiles a 2-D (lon, lat) domain; "
            f"got {len(data_coord_cols)}-D coords — use the broadcast "
            "strategy for higher-dimensional data"
        )
    if "data_id" not in data_df.columns:
        raise ValueError(
            "tiled strategy requires a deterministic 'data_id' column "
            "(tie-break identity must not depend on partitioning)"
        )
    metric = metric or Haversine()
    qsel = grid_df.selectExpr(
        id_col,
        f"{query_coord_cols[0]} AS lon",
        f"{query_coord_cols[1]} AS lat",
    )
    # the join passes _nx/_ny/_v_* through from each ranked row, so the
    # stacks need no second read of the data side; _nx/_ny keep the
    # ORIGINAL coordinates (the join may wrap its copy of an out-of-range
    # lon, and the kernel must see what the broadcast gather sees)
    dsel = data_df.selectExpr(
        "data_id",
        f"{data_coord_cols[0]} AS lon",
        f"{data_coord_cols[1]} AS lat",
        f"{data_coord_cols[0]} AS _nx",
        f"{data_coord_cols[1]} AS _ny",
        *[f"{v} AS _v_{v}" for v in value_cols],
    )
    pairs = knn_join_tiled_exact(qsel, dsel, k, res, query_id=id_col,
                                 metric=metric)
    if radius is not None:
        # KBallSearch semantics: the ≤k nearest within the ball
        pairs = pairs.filter(F.col("dist") <= radius)
    struct_cols = [
        F.col("rank"), F.col("dist"), F.col("_nx"), F.col("_ny"),
        *[F.col(f"_v_{v}") for v in value_cols],
    ]
    nb = pairs.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct(*struct_cols))).alias("_nb")
    )
    # split the rank-sorted struct array into TYPED arrays JVM-side: Arrow
    # then delivers plain float64 numpy arrays per field, and the kernel
    # fills the (B, k) stacks with per-ROW slice assignments instead of a
    # per-ELEMENT Python dict walk (the hot path at 10⁸ queries × k)
    field_cols = ["dist", "_nx", "_ny"] + [f"_v_{v}" for v in value_cols]
    nb = nb.select(
        id_col,
        *[
            F.expr(f"transform(_nb, s -> s.{f})").alias(f"_a{f}")
            for f in field_cols
        ],
    )
    # the whole query row, as the broadcast gather hands the kernel its
    # whole query batch
    joined = grid_df.join(nb, id_col, "left")
    vnames = list(value_cols)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = len(pdf)
            qcoords = pdf[query_coord_cols].to_numpy(np.float64)
            NC = np.zeros((B, k, 2))
            dist = np.full((B, k), np.inf)
            valid = np.zeros((B, k), dtype=bool)
            vals = {v: np.zeros((B, k)) for v in vnames}
            cols = {f: pdf[f"_a{f}"].to_numpy() for f in field_cols}
            for b in range(B):
                dd = cols["dist"][b]
                if dd is None or len(dd) == 0:
                    continue
                m = min(len(dd), k)
                dist[b, :m] = dd[:m]
                valid[b, :m] = True
                NC[b, :m, 0] = cols["_nx"][b][:m]
                NC[b, :m, 1] = cols["_ny"][b][:m]
                for v in vnames:
                    vals[v][b, :m] = cols[f"_v_{v}"][b][:m]
            yield kernel(pdf, qcoords, NC, vals, dist, valid)

    return joined.mapInPandas(run, schema=out_schema)


def solve_local(
    data: DataFrame | PointData,
    grid_df: DataFrame,
    var: str,
    kernel: ArrayKernel,
    out_schema: str,
    data_coord_cols: list[str],
    query_coord_cols: list[str],
    maxneighbors: int | None,
    minneighbors: int,
    metric: Distance,
    radius: float | None,
    id_col: str,
    strategy: str,
    tile_res: int | None,
    empty_msg: str = "estimation requires data",
    value_cols: list[str] | None = None,
    expand: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Run one local estimator's ``kernel`` on its physical path.

    ``strategy``: 'auto' consults `planner.choose_strategy` — a DataFrame
    data side above `planner.BROADCAST_LIMIT` rows routes through the tiled
    gather instead of a driver collect; 'local-broadcast' / 'local-tiled'
    force a path; any other value raises.  A `PointData` data side or
    ``maxneighbors=None`` (all data / ball-only search) always runs
    broadcast.

    The data side is the rows with ``var`` non-missing, passed through
    ``expand`` when given (a DataFrame → DataFrame step that flattens
    ``var`` into the scalar ``value_cols`` the kernel gathers; default
    ``[var]``)."""
    if strategy not in ("auto", "local-broadcast", "local-tiled"):
        raise ValueError(
            f"unknown strategy {strategy!r}: expected 'auto', "
            "'local-broadcast' or 'local-tiled'")
    value_cols = value_cols or [var]
    if isinstance(data, DataFrame):
        points = data.filter(f"{var} IS NOT NULL")
        if expand is not None:
            points = expand(points)
        if maxneighbors is not None:
            # lazy: planner imports operators.kriging, which imports us
            from ..planner import choose_strategy, choose_tile_res

            if strategy == "auto":
                n_data = data.count()
                strategy = choose_strategy(n_data, maxneighbors)
                if tile_res is None:
                    tile_res = choose_tile_res(n_data)
            if strategy == "local-tiled":
                if minneighbors > maxneighbors:
                    raise ValueError("invalid min/max number of neighbors")
                return tiled_local_apply(
                    grid_df, points, query_coord_cols, data_coord_cols,
                    value_cols, maxneighbors, kernel, out_schema,
                    metric=metric, radius=radius,
                    res=(tile_res if tile_res is not None else 6),
                    id_col=id_col,
                )
        data = collect_points(
            points, data_coord_cols, value_cols,
            id_col="data_id" if "data_id" in data.columns else None,
        )
    if data.n == 0:
        raise ValueError(empty_msg)
    k = data.n if maxneighbors is None else min(maxneighbors, data.n)
    if minneighbors > k:
        raise ValueError("invalid min/max number of neighbors")
    return stacked_apply(
        grid_df, data, query_coord_cols, value_cols, k, metric, kernel,
        out_schema, radius,
    )
