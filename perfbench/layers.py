"""Per-layer metrics of a traced run.

Each layer is a module of the engine.  The numbers come from three
places: the event log of the traced session (jobs tagged by span), the
engine's own ``[graft-profile]`` lines, and single-threaded driver-side
calls of the layer's kernels that the benchmark times itself.  A traced
run runs every workload, so every layer is measured on the input of the
workload that calls it.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np

from . import trace
from .workloads import (
    KRIGE_K, WORKLOADS, Ctx, krige_grid, krige_model, krige_pages,
)

OP_FIELDS = ("wall_s", "task_s", "core_util", "gc_s", "tasks", "task_skew",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
             "py_sent_mb", "py_recv_mb", "py_s")
LAYER_NAMES = (
    "session.start_s", "session.warm_s",
    "sources.pages.geocode_s",
    "neighbors.collect_points_s", "neighbors.collect_points_mb",
    "neighbors.search_rows_per_s",
    "neighbors.local_apply.search_s", "neighbors.local_apply.kernel_s",
    "neighbors.local_apply.arrow_in_s",
    "bucket_index.build_s",
    "operators.kriging.systems_per_s", "operators.kriging.flops",
    "lineage.commit_s", "lineage.written_mb",
    "neighbors.tiled.candidate_rows", "neighbors.tiled.pair_yield",
    "operators.tiled.gather_s",
    "tiling.replication_factor",
    "variography.pair_rows", "variography.pair_yield",
    "webtext.vecops.bucket_tables_s", "webtext.similarity.ivf_ranked_s",
    "webtext.similarity.candidate_pairs", "webtext.similarity.topk_yield",
    "webtext.dedup.signature_s", "webtext.dedup.lsh_candidates",
    "trace.overhead_s",
)
BATCH = 16_384


def per_layer_names() -> list[str]:
    return list(LAYER_NAMES) + [f"{op.name}.{f}"
                                for w in WORKLOADS.values() for op in w.ops
                                for f in OP_FIELDS]


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("yield", "factor", "util", "skew")):
        return "ratio"
    return "count"


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------- driver-side probes


def probe(ctxs: dict[str, Ctx], tracer: trace.Tracer) -> dict:
    """Driver-side timings of the layers, each on the input of the
    workload that exercises it (``ctxs``: workload name -> context)."""
    from geostatssolvers_jl_spark.sources import pages as P

    ctx = ctxs["grid_krige"]
    out = {}
    with tracer.span("probe.geocode"):
        out["sources.pages.geocode_s"], _ = _timed(lambda: _noop(
            P.geocode(P.load_pages(ctx.spark, ctx.sf_dir))))
    out.update(_probe_krige(ctx, tracer))
    out.update(_probe_webtext(ctxs["corpus_ann"], tracer))
    return out


def _probe_krige(ctx: Ctx, tracer: trace.Tracer) -> dict:
    from geostatssolvers_jl_spark.bucket_index import BucketIndex
    from geostatssolvers_jl_spark.distances import Haversine
    from geostatssolvers_jl_spark.neighbors import collect_points, search
    from geostatssolvers_jl_spark.operators.kriging import solve_systems

    metric = Haversine(6371.0)
    with tracer.span("probe.collect_points"):
        t_collect, data = _timed(lambda: collect_points(
            krige_pages(ctx.spark, ctx.sf_dir), ["lon", "lat"], ["z"],
            id_col="data_id"))
    mb = (data.coords.nbytes + data.ids.nbytes
          + sum(v.nbytes for v in data.values.values())) / 1e6
    t_index, _ = _timed(lambda: BucketIndex(data.coords, metric))
    grid = krige_grid()
    q = grid.centroids_np(np.arange(min(BATCH, grid.ncells)))
    data.index(metric)  # build outside the search timing
    t_search, (idx, dist, nvalid) = _timed(
        lambda: search(data, q, KRIGE_K, metric))
    valid = idx >= 0
    safe = np.where(valid, idx, 0)
    NC = data.coords[safe]
    zn = np.where(valid, data.values["z"][safe], 0.0)
    t_solve, _ = _timed(lambda: solve_systems(
        krige_model(), q, NC, zn, valid, dist, metric, 1))
    n = KRIGE_K + 1  # ordinary kriging: k weights + one Lagrange row
    return {
        "neighbors.collect_points_s": t_collect,
        "neighbors.collect_points_mb": mb,
        "bucket_index.build_s": t_index,
        "neighbors.search_rows_per_s": len(q) / t_search,
        "operators.kriging.systems_per_s": len(q) / t_solve,
        # LU factor + one solve per system
        "operators.kriging.flops": float(len(q) * (2 * n ** 3 / 3
                                                   + 2 * n ** 2)),
    }


def _probe_webtext(ctx: Ctx, tracer: trace.Tracer) -> dict:
    import __spark_entry__ as E
    from geostatssolvers_jl_spark.webtext.dedup import minhash128_sig_kernel
    from geostatssolvers_jl_spark.webtext.similarity import ivf_ranked_spark
    from geostatssolvers_jl_spark.webtext.vecops import bucket_tables_kernel

    spark = ctx.spark
    E._register(spark, ctx.sf_dir, ("documents", "embeddings"))
    dp = spark.sparkContext.defaultParallelism
    out = {}
    with tracer.span("probe.bucket_tables"):
        out["webtext.vecops.bucket_tables_s"], _ = _timed(lambda: _noop(
            bucket_tables_kernel(spark, spark.table("embeddings"))))
    with tracer.span("probe.ivf_ranked"):
        out["webtext.similarity.ivf_ranked_s"], _ = _timed(lambda: _noop(
            ivf_ranked_spark(spark, "embeddings", nprobe=6, pivot_mod=51)))
    with tracer.span("probe.signature"):
        out["webtext.dedup.signature_s"], _ = _timed(lambda: _noop(
            minhash128_sig_kernel(
                spark, spark.table("documents").repartition(dp))))
    return out


# ---------------------------------------------- after a traced iteration


def after_iteration(wl_name: str, ctx: Ctx, rows: dict) -> dict:
    """Counts read from the outputs of one traced iteration."""
    out = {}
    if wl_name == "grid_krige":
        base = ctx.scratch / "lineage"
        out["lineage.written_mb"] = sum(
            p.stat().st_size for p in (base / "kriging").rglob("*")
            if p.is_file()) / 1e6
    if wl_name == "tiled_join":
        import __spark_entry__ as E
        from geostatssolvers_jl_spark.variography import _pair_sql

        # the variogram's candidate pairs: its tiled pair relation before
        # the 0 < h < maxlag filter, which the plan folds into the join
        E._register(ctx.spark, ctx.sf_dir, ("documents",))
        pairs = _pair_sql(E._vario_pts_rel(), E.VARIO_MAXLAG, tiled=True,
                          coord_cols=("x", "y"), val_col="z",
                          id_col="data_id")
        r = ctx.spark.sql(f"SELECT count(*) AS n FROM ({pairs}) _c").collect()
        out["_vario_candidates"] = float(r[0]["n"])
        # idw_pages_tiled asks for the 5 nearest pages of every cell
        out["_k_queries"] = 5.0 * len(rows["idw_tiled"])
    if wl_name == "corpus_ann":
        out["webtext.dedup.lsh_candidates"] = float(len(rows["dedup_lsh"]))
        out["_ann_rows"] = float(len(rows["ann_ivf"]))
    return out


# ------------------------------------------------------ from the event log


def from_event_log(wl_name: str, ev: trace.EventLog, tracer: trace.Tracer,
                   it: dict, cores: int) -> dict:
    """Metrics of one traced iteration ``it``: {"spans": {op: span},
    "extra": counts from `after_iteration`}."""
    out = {}
    spans = it["spans"]
    plans = {op: ev.plans_for(tracer.tags_under(sp["id"]))
             for op, sp in spans.items()}
    for op, sp in spans.items():
        m = trace.op_metrics(ev, tracer.tags_under(sp["id"]),
                             sp["end"] - sp["start"], cores)
        out.update({f"{op}.{k}": v for k, v in m.items()})
    extra = it["extra"]
    if wl_name == "grid_krige":
        out["lineage.commit_s"] = trace.lineage_s(
            ev, tracer.tags_under(spans["krige"]["id"]))
    if wl_name == "tiled_join":
        tiled = plans["idw_tiled"]
        cand = trace.ranked_rows(ev, tiled)
        out["neighbors.tiled.candidate_rows"] = cand
        out["neighbors.tiled.pair_yield"] = (
            extra["_k_queries"] / cand if cand else 0.0)
        out["operators.tiled.gather_s"] = out["idw_tiled.py_s"]
        rows_out, rows_in = trace.ring_replication(
            ev, tiled + plans["vario_fit"])
        out["tiling.replication_factor"] = (
            rows_out / rows_in if rows_in else 0.0)
        pair_rows = trace.tile_pair_rows(ev, plans["vario_fit"])
        out["variography.pair_rows"] = pair_rows
        cand = extra["_vario_candidates"]
        out["variography.pair_yield"] = pair_rows / cand if cand else 0.0
    if wl_name == "corpus_ann":
        ann = trace.ranked_rows(ev, plans["ann_ivf"])
        out["webtext.similarity.candidate_pairs"] = ann
        out["webtext.similarity.topk_yield"] = (
            extra["_ann_rows"] / ann if ann else 0.0)
    out.update({k: v for k, v in extra.items() if not k.startswith("_")})
    return out


def profile_totals(log_path: Path, start: int, end: int) -> dict:
    with open(log_path, "rb") as f:
        f.seek(start)
        text = f.read(end - start).decode("utf-8", "replace")
    tot = trace.parse_profile_lines(text)
    return {f"neighbors.local_apply.{k}": v for k, v in tot.items()
            if k != "rows"}


def median_dicts(dicts: list[dict]) -> dict:
    keys = set().union(*dicts) if dicts else set()
    return {k: statistics.median(d[k] for d in dicts if k in d)
            for k in keys}
