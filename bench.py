"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--scaling`` additionally runs the headline pipeline at local[8] and
local[32] on the same input and reports throughput at both plus scaling
efficiency (the sandbox proxy for the N→4N executor requirement — see
BASELINE.md measurement protocol).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# benchmark grid: 360x180 = 64,800 estimation cells over the world
BENCH_DIMS = (360, 180)
# scaling runs use 16x the cells so compute dominates fixed overhead —
# the N→4N criterion measures *throughput* scaling, not session startup
SCALING_DIMS = (2880, 1440)
# the declared-query leaves timed after the headline, in this order
BENCH_NAMES = (
    "idw_pages", "knn_join", "knn_join_tiled", "idw_pages_tiled",
    "tile_assign", "dedup_exact", "token_count", "langid",
    "ann_cosine", "ann_topk_lsh", "dedup_minhash_lsh", "pip_polygon",
    "url_canonical", "split_assign", "redact_pii", "repetition_ratio",
    "langid_model", "events_sessions", "zonal_stats",
    "token_count_subword", "zonal_stats_join",
    "multimodal_decode_real", "ann_topk_ivf",
    "bm25_rank", "lm_quality",
    "variogram_empirical", "variogram_fit", "nscore_transform",
    "loo_idw_cv", "substring_dedup",
    "corpus_curation", "curation_funnel", "sample_stratified",
    "quantile_thresholds", "kmeans_assign", "kmeans_step",
    "tfidf_topterms", "variogram_cross", "pagerank", "logreg_score",
    "heavy_hitters", "indicator_kriging", "cokriging_collocated",
    "etype_estimate", "quantile_map",
)


def _warm(spark, cores: int):
    """Spin up + warm every Python worker (imports, Arrow path) AND the
    driver JVM's one-time machinery (SQL parser, analyzer, whole-stage
    codegen, TorrentBroadcast, Arrow serde classes) before timing.  On a
    real cluster the JVM and executors are long-lived; class loading and
    worker startup are one-time costs, not part of per-job throughput.

    The warmup runs the headline pipeline SHAPE on *synthesized* pages
    (never the timed input files) at a toy grid, so no timed result or
    input-scan cache is precomputed — profiling showed the identical cold
    call ranges 2.7-4.4 s across fresh processes purely from class-loading
    + shared-VM noise, while the warm call is a stable ~1.1-1.6 s."""

    def noop(batches):
        import numpy  # noqa: F401
        import pandas as pd  # noqa: F401

        from geostatssolvers_jl_spark import neighbors  # noqa: F401

        for b in batches:
            yield b[["id"]]

    (
        spark.range(cores * 4, numPartitions=cores * 2)
        .mapInPandas(noop, "id long")
        .count()
    )
    from geostatssolvers_jl_spark.distances import Haversine
    from geostatssolvers_jl_spark.grid import CartesianGrid
    from geostatssolvers_jl_spark.operators.kriging import (
        KrigingModel, solve_kriging,
    )
    from geostatssolvers_jl_spark.sources import pages as P
    from geostatssolvers_jl_spark.variogram import GaussianVariogram

    pg = P.geocode(P.synthesize_pages(spark, 512), res=6)
    pagesdf = pg.selectExpr(
        "doc_id AS data_id", "lon", "lat",
        "CAST(length(text) AS DOUBLE) AS z", "cell",
    )
    toy = CartesianGrid.from_extent((-180.0, -90.0), (180.0, 90.0), (36, 18))
    solve_kriging(
        pagesdf, toy.spark_df(spark, scramble=True, num_partitions=cores),
        model=KrigingModel(variogram=GaussianVariogram(range=2000.0, sill=1e4)),
        data_coord_cols=["lon", "lat"], maxneighbors=8,
        metric=Haversine(6371.0), strategy="local-broadcast",
    ).count()


def _pipeline(spark, sf_dir: str, k: int = 8, dims: tuple[int, int] = BENCH_DIMS):
    """The headline: pages → geocode → tile → kNN → local kriging."""
    from geostatssolvers_jl_spark.distances import Haversine
    from geostatssolvers_jl_spark.grid import CartesianGrid
    from geostatssolvers_jl_spark.operators.kriging import (
        KrigingModel, solve_kriging,
    )
    from geostatssolvers_jl_spark.sources import pages as P
    from geostatssolvers_jl_spark.variogram import GaussianVariogram

    pg = P.geocode(P.load_pages(spark, sf_dir), res=6)
    pagesdf = pg.selectExpr(
        "doc_id AS data_id", "lon", "lat",
        "CAST(length(text) AS DOUBLE) AS z", "cell",
    )
    grid = CartesianGrid.from_extent((-180.0, -90.0), (180.0, 90.0), dims)
    sol = solve_kriging(
        pagesdf, grid.spark_df(spark, scramble=True, num_partitions=32),
        model=KrigingModel(variogram=GaussianVariogram(range=2000.0, sill=1e4)),
        data_coord_cols=["lon", "lat"], maxneighbors=k,
        metric=Haversine(6371.0),
        # the data side is known-small here; skip auto's count probe
        strategy="local-broadcast",
    )
    return sol


def _run_queries(spark, sf_dir: str) -> tuple[dict, int]:
    import __spark_entry__ as entry

    n_pages = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    timings: dict[str, float] = {}

    # min-of-N per query: single-sample walls on this shared VM swing up
    # to 2x from hypervisor steal (r3: the same tiled entry measured 4.7 s
    # and 9.7 s the same day); the minimum is the steal-free estimate of
    # the query's actual cost and is the documented protocol in BASELINE.md
    # floor at 1: reps=0 would skip every query and emit bare Infinity
    # tokens (non-standard JSON) for all timings
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    def timed(name, fn):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    timed("kriging_pipeline", lambda: _pipeline(spark, sf_dir).count())
    qs = entry.queries()
    for name in BENCH_NAMES:
        timed(name, lambda n=name: qs[n](spark, sf_dir).count())
    return timings, n_pages


def _bench_once(master: str, sf_dir: str, dims: tuple[int, int]):
    from geostatssolvers_jl_spark.session import get_spark

    cores = int(master.split("[")[1].rstrip("]"))
    spark = get_spark("bench", master=master)
    try:
        _warm(spark, cores)
        # steady-state throughput: first run pays one-time JIT/scan costs a
        # long-lived cluster amortizes; time the best of two warm runs
        _pipeline(spark, sf_dir, dims=dims).count()
        walls = []
        for _ in range(2):
            t0 = time.time()
            n = _pipeline(spark, sf_dir, dims=dims).count()
            walls.append(time.time() - t0)
        return min(walls), n
    finally:
        spark.stop()


def main():
    scaling = "--scaling" in sys.argv
    from geostatssolvers_jl_spark.session import get_spark

    extra = {}
    if scaling:
        # two N→4N pairs: 2→8 (low machine contention — closest sandbox
        # analogue of adding executor NODES, which add memory bandwidth
        # with their cores) and 8→32 (all-core: includes the single-box
        # bandwidth + hypervisor-steal ceiling; see BASELINE.md analysis)
        # per-pair grids: the small pair at 1M cells (local[2] feasible),
        # the large pair at 4.1M cells (amortizes fixed cost at 32 cores)
        small = (1440, 720)
        w2, _ = _bench_once("local[2]", SF_DIR, small)
        w8s, _ = _bench_once("local[8]", SF_DIR, small)
        w8, _ = _bench_once("local[8]", SF_DIR, SCALING_DIMS)
        w32, _ = _bench_once("local[32]", SF_DIR, SCALING_DIMS)
        import duckdb  # lightweight row count, no spark needed

        npages = duckdb.sql(
            f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'"
        ).fetchone()[0]
        extra = {
            "scaling": {
                "grid_small": list(small),
                "grid_large": list(SCALING_DIMS),
                "local2_sec": round(w2, 3),
                "local8_small_sec": round(w8s, 3),
                "local8_sec": round(w8, 3),
                "local32_sec": round(w32, 3),
                "local8_pages_per_sec": round(npages / w8, 1),
                "local32_pages_per_sec": round(npages / w32, 1),
                "efficiency_2_to_8": round((w2 / w8s) / 4.0, 3),
                "efficiency_8_to_32": round((w8 / w32) / 4.0, 3),
            }
        }

    spark = get_spark("bench", master=f"local[{CPUS}]")
    _warm(spark, int(CPUS))
    t0 = time.time()
    timings, n_pages = _run_queries(spark, SF_DIR)
    total = round(time.time() - t0, 3)
    spark.stop()

    out = {
        "metric": "kriging-grid estimation + tile-join pipeline wall",
        "value": timings["kriging_pipeline"],
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "n_pages": n_pages,
        "grid_cells": BENCH_DIMS[0] * BENCH_DIMS[1],
        "pages_per_sec": round(n_pages / timings["kriging_pipeline"], 1),
        "total_sec": total,
        **extra,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
