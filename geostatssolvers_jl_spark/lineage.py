"""Checkpoint / resume with per-partition lineage + row-count metrics.

North-rule requirement: "every stage checkpoints per-partition lineage +
row-count metrics ... so a killed job resumes without recompute"
(BASELINE.json).  The reference has no notion of this (single-process);
it is an engine addition (SURVEY.md §2.9, §4).

Model: a *stage* writes its output partitioned by a **unit key** (tile
cell, realization id, shard id...).  Each successfully written unit gets a
manifest row ``(unit, rows, stage, wall_s)`` committed *after* the data.
Unit writes are idempotent (dynamic partition overwrite), so a crash
between data and manifest commit re-runs that unit harmlessly.

The manifest holds one row per unit, so the control plane runs on the
driver and units are plain integer ids: on restart the done units of the
stage are collected (when the manifest exists) and subtracted from the
input's ids as a set; compute gets the sorted pending ids.  The per-unit
row counts are one ``groupBy`` over the persisted output, and the
manifest batch is appended from a local (driver) table.  The stage is
read back with the schema its commits record (a sidecar next to the
data), never by inference.  No lineage step starts a Python worker —
every plan it builds is JVM-only (``createDataFrame`` from a list, or from
an empty pandas frame, would scan a Python RDD).

Sandbox backend is parquet directories; on a production cluster the same
two tables are Iceberg tables and the manifest commit is the Iceberg
snapshot commit — the control flow is identical, only ``format("iceberg")``
changes (`FORMAT` below).
"""

from __future__ import annotations

import json
import time
from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

FORMAT = "parquet"  # "iceberg" in production

MANIFEST_SCHEMA = "unit long, rows long, stage string, wall_s double"


def _manifest_path(base: str) -> str:
    return f"{base}/_lineage_manifest"


def _schema_path(base: str, stage: str) -> str:
    return f"{base}/{stage}/_engine_schema.json"


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — any URI Spark can write
    (hdfs://, s3a://), never driver-local I/O."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _sidecar_write(spark: SparkSession, path: str, payload: str) -> None:
    """Write a tiny driver-side sidecar file through the Hadoop
    FileSystem API, so it lands next to the Spark-written data even when
    ``base`` is a non-local URI (hdfs://, s3a://) — a driver-local
    ``open()`` would silently write into a bogus local directory and the
    stage read would never find it."""
    fs, jpath = _fs_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()


def _sidecar_read(spark: SparkSession, path: str) -> str | None:
    """Read a sidecar written by `_sidecar_write`; None if absent.
    Goes through the Hadoop FileSystem API (not ``spark.read.text`` —
    file sources IGNORE ``_``-prefixed files, and the underscore prefix
    is deliberate so the stage's parquet read skips the sidecar), so any
    URI the writer could reach is readable — no driver-local I/O.  One
    py4j round-trip per line; the sidecar is one JSON line."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return None
    jvm = spark._jvm
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(jpath), "UTF-8")
    )
    try:
        lines = []
        while True:
            line = reader.readLine()
            if line is None:
                break
            lines.append(line)
        return "\n".join(lines)
    finally:
        reader.close()


def _empty(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """A typed empty relation planned on the JVM (an empty ``Range``)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _manifest(spark: SparkSession, base: str, stage: str
              ) -> DataFrame | None:
    """The stage's manifest rows, or None on a fresh run.  Existence is
    checked through the FileSystem API, so a CORRUPT or transiently
    unreadable manifest still surfaces (a blanket except would silently
    schedule a full recompute of every unit and append duplicate rows)."""
    path = _manifest_path(base)
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return None
    m = spark.read.schema(MANIFEST_SCHEMA).format(FORMAT).load(path)
    return m.filter(F.col("stage") == stage)


def read_manifest(spark: SparkSession, base: str, stage: str) -> DataFrame:
    """The stage's manifest rows; a typed empty relation on a fresh run."""
    m = _manifest(spark, base, stage)
    return _empty(spark, MANIFEST_SCHEMA) if m is None else m


def pending_units(
    units: Iterable[int], spark: SparkSession, base: str, stage: str,
) -> list[int]:
    """The sorted ids of ``units`` that have no manifest row for this
    stage: a set difference on the driver (the manifest holds one row per
    unit).  Without a manifest no Spark job runs."""
    m = _manifest(spark, base, stage)
    done = set() if m is None else {r[0] for r in m.select("unit").collect()}
    return sorted({int(u) for u in units} - done)


def commit_units(
    df: DataFrame,
    base: str,
    stage: str,
    units: list[int] | None = None,
) -> DataFrame:
    """Write one batch of finished units + their manifest rows.

    ``df`` must carry ``unit``; data lands partitioned by it so a
    re-run of the same unit overwrites in place (idempotent).  Returns the
    manifest rows written (the per-partition lineage record).

    ``units``: the ids of ALL work units this batch covers — a unit whose
    compute legitimately produced zero rows still gets a manifest row
    (rows = 0); without it such units would stay pending forever and every
    'resume' would re-run the whole stage.
    """
    t0 = time.time()
    spark = df.sparkSession
    # persist so the manifest counts reuse the materialized rows instead of
    # re-executing the whole compute DAG (each unit's kriging would run
    # TWICE per commit otherwise — and a nondeterministic compute could
    # write counts that disagree with the committed data)
    df = df.withColumn("unit", F.col("unit").cast("long")).persist()
    try:
        (
            df.write.format(FORMAT)
            .mode("overwrite")
            .partitionBy("unit")
            .option("partitionOverwriteMode", "dynamic")
            .save(f"{base}/{stage}")
        )
        wall = time.time() - t0
        # schema sidecar (driver-side, tiny): the stage read takes its
        # schema from here instead of inferring it from the part files —
        # no inference job, ``unit`` reads back as the manifest's long,
        # and an all-empty stage (ZERO part files under partitionBy)
        # reads as a typed empty frame
        _sidecar_write(spark, _schema_path(base, stage),
                       json.dumps(df.schema.jsonValue()))
        # lineage rows for THIS batch only — never rescan previously-
        # committed units (at 10^12-row scale a full rescan per batch is
        # the bottleneck); one row per unit, so the counts come back to
        # the driver and the covered units without rows are filled in there
        counts = {r["unit"]: r["count"]
                  for r in df.groupBy("unit").count().collect()}
    finally:
        df.unpersist()
    if units is not None:
        counts = {u: counts.get(u, 0) for u in units}
    if not counts:
        return _empty(spark, MANIFEST_SCHEMA)
    # a non-empty pandas frame plans as a LocalTableScan: the append runs
    # no Python worker
    batch = pd.DataFrame({"unit": list(counts), "rows": list(counts.values()),
                          "stage": stage, "wall_s": wall})
    out = spark.createDataFrame(batch, MANIFEST_SCHEMA)
    out.write.format(FORMAT).mode("append").save(_manifest_path(base))
    return out


def run_stage_resumable(
    spark: SparkSession,
    base: str,
    stage: str,
    units: Iterable[int],
    compute: Callable[[list[int]], DataFrame],
) -> DataFrame:
    """Compute only unfinished units, commit data + lineage, return the
    stage's full output (previous + new).  ``compute`` gets the sorted
    pending unit ids and returns their output rows (with ``unit``)."""
    todo = pending_units(units, spark, base, stage)
    if todo:
        commit_units(compute(todo), base, stage, units=todo)
    txt = _sidecar_read(spark, _schema_path(base, stage))
    if txt is None:
        raise FileNotFoundError(f"stage {stage!r} has no commit under {base}")
    schema = StructType.fromJson(json.loads(txt))
    return spark.read.schema(schema).format(FORMAT).load(f"{base}/{stage}")
