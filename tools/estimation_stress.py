"""Tiled ESTIMATION stress — the grid-heavy (query-heavy) shape: a 1M-cell
estimation grid kriged against 200k synthetic pages through
`strategy='local-tiled'`, whose tiled join replicates the query side over
the cells each query's kth-distance bound reaches (the grid's polar rows
lie beyond the data's ±80° band, so their bounds are wide), with a
broadcast-path spot-check on a sampled sub-grid.

Usage: python tools/estimation_stress.py [n_cells_side] [n_data]
Prints one JSON line.
"""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SIDE = int(sys.argv[1]) if len(sys.argv) > 1 else 1000   # SIDE^2 cells
ND = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
K = 8


def main():
    import numpy as np

    from geostatssolvers_jl_spark.distances import Haversine
    from geostatssolvers_jl_spark.grid import CartesianGrid
    from geostatssolvers_jl_spark.operators.kriging import (
        KrigingModel, solve_kriging,
    )
    from geostatssolvers_jl_spark.session import get_spark
    from geostatssolvers_jl_spark.variogram import GaussianVariogram

    spark = get_spark("est-stress", master="local[32]",
                      extra_conf={"spark.driver.memory": "12g"})
    data = spark.range(ND).selectExpr(
        "id AS data_id",
        "(CAST((id * 2654435761) % 3600000 AS DOUBLE) / 10000.0) - 180.0 "
        "AS lon",
        "(CAST((id * 40503) % 1600000 AS DOUBLE) / 10000.0) - 80.0 AS lat",
        "CAST((id * 97) % 1000 AS DOUBLE) AS z",
    )
    grid = CartesianGrid.from_extent(
        (-180.0, -90.0), (180.0, 90.0), (SIDE, SIDE)
    )
    gdf = grid.spark_df(spark, scramble=True, num_partitions=64)
    model = KrigingModel(variogram=GaussianVariogram(range=500.0, sill=1e4))
    kw = dict(
        model=model, data_coord_cols=["lon", "lat"], maxneighbors=K,
        metric=Haversine(6371.0),
    )
    t0 = time.time()
    sol = solve_kriging(data, gdf, strategy="local-tiled", **kw)
    n = sol.count()
    wall = time.time() - t0

    # spot-check: the same solve through the BROADCAST path on a sampled
    # sub-grid must agree within 1e-6 ABSOLUTE (not round-6 equality: the
    # tiled path's distances come from JVM trig, the broadcast path's from
    # numpy trig, and the 1-ulp libm differences propagate to ~1e-11
    # relative through ill-conditioned near-duplicate-row systems — a
    # value straddling a rounding boundary is not a defect; observed at
    # 5e-9 on this synthetic data)
    sub = gdf.filter("cell_id % 9973 = 0")
    a = {
        r["cell_id"]: (r["z"], r["z_variance"])
        for r in solve_kriging(
            data, sub, strategy="local-broadcast", **kw
        ).collect()
    }
    got = {
        r["cell_id"]: (r["z"], r["z_variance"])
        for r in sol.join(sub.select("cell_id"), "cell_id", "semi").collect()
    }
    mism = [
        c for c, (za, va) in a.items()
        if c not in got
        or abs(got[c][0] - za) > 1e-6 or abs(got[c][1] - va) > 1e-6
    ]
    spark.stop()
    print(json.dumps({
        "grid_cells": SIDE * SIDE, "n_data": ND, "k": K,
        "rows": n, "wall_sec": round(wall, 1),
        "cells_per_sec": round(SIDE * SIDE / wall),
        "spot_checked": len(a), "mismatches": len(mism),
    }))


if __name__ == "__main__":
    main()
