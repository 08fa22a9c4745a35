"""End-to-end resumable estimation pipeline (the north rule's flagship:
geocode → tile → kNN → batched kriging, checkpointed per unit so a killed
job resumes without recompute).

The grid is split into ``n_units`` contiguous cell-id blocks; each block
is one resumable work unit (`lineage.run_stage_resumable`), named by its
integer id ``0 … n_units - 1`` on the driver: its estimation output lands
partitioned by unit with a per-unit lineage row (rows, wall), and a
restart subtracts the manifest's done ids so only unfinished blocks
recompute (the grid is filtered to their cells).  Unit granularity
trades resume precision against manifest size — at 10¹² pages one unit
≈ one tile-group of the output grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .distances import Distance, Haversine
from .grid import CartesianGrid
from .lineage import run_stage_resumable
from .operators.kriging import KrigingModel, solve_kriging
from .sources import pages as P


def kriging_pages_resumable(
    spark: SparkSession,
    sf_dir: str,
    base: str,
    grid: CartesianGrid,
    model: KrigingModel,
    n_units: int = 16,
    maxneighbors: int = 8,
    metric: Distance | None = None,
    var: str = "z",
    stage: str = "kriging",
) -> DataFrame:
    """Returns the complete estimation output (previous + newly computed
    units).  Safe to re-run after a kill: finished units are skipped."""
    metric = metric or Haversine(6371.0)
    ncells = grid.ncells
    block = -(-ncells // n_units)

    pg = P.geocode(P.load_pages(spark, sf_dir))
    pagesdf = pg.selectExpr(
        "doc_id AS data_id", "lon", "lat",
        f"CAST(length(text) AS DOUBLE) AS {var}",
    )

    def compute(todo: list[int]) -> DataFrame:
        gdf = grid.spark_df(spark).withColumn(
            "unit", (F.col("cell_id") / block).cast("long")
        )
        gdf = gdf.filter(F.col("unit").isin(todo))
        sol = solve_kriging(
            pagesdf, gdf.drop("unit"), var=var, model=model,
            data_coord_cols=["lon", "lat"], maxneighbors=maxneighbors,
            metric=metric,
            # the pages side here is known to fit the broadcast path;
            # skip auto's count probe (it would run once per resume batch)
            strategy="local-broadcast",
        )
        return sol.withColumn("unit", (F.col("cell_id") / block).cast("long"))

    return run_stage_resumable(spark, base, stage, range(n_units), compute)
