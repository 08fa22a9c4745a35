"""Bucketed (co-located) table layout — the shuffle-elimination tool for
REPEATED joins on the same key at 100 TB.

A pages table bucketed by tile cell joins any other cell-bucketed table
(grid aggregates, per-cell models, prior-run solutions) with NO exchange
on either side: Spark trusts the on-disk hash layout (`bucketBy`), so the
join is a per-bucket zip.  At 10¹² rows the eliminated shuffle IS the
query cost; this is the storage-layout counterpart of the engine's
runtime tiling (the reference has no storage layer — engine addition,
SURVEY §2.1/§4).

Bucketed writes go through ``saveAsTable`` (bucket metadata lives in the
catalog); production swaps the warehouse for Iceberg where the same
co-location is expressed as a bucket partition transform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "cell",
    n_buckets: int = 64,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by ``bucket_col``.
    Sorting within buckets additionally enables sort-merge joins without
    the sort step."""
    w = (
        df.write.format("parquet").mode(mode)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str,
    on: str = "cell", how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key — plans with zero
    Exchange when both sides were written with the same bucket count
    (asserted by tests/test_plans.py)."""
    return spark.table(left_table).join(
        spark.table(right_table), on, how
    )
