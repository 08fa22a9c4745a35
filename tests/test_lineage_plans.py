"""The lineage control plane runs on the driver: no plan it builds scans a
Python RDD (``ExistingRDD`` / ``LogicalRDD``), so no lineage step starts
a Python worker; and a unit whose compute yields no rows still gets its
manifest row."""

from __future__ import annotations

from pyspark.sql import functions as F

from geostatssolvers_jl_spark.lineage import (
    commit_units,
    pending_units,
    read_manifest,
    run_stage_resumable,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def _assert_jvm_only(df):
    plan = _plan(df)
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan


def test_lineage_plans_scan_no_python_rdd(spark, tmp_path):
    base = str(tmp_path / "ck")
    # a NULL unit matches no manifest row: it stays pending
    units = spark.range(7).select(
        F.when(F.col("id") < 6, F.col("id")).alias("unit"))

    fresh = read_manifest(spark, base, "s1")
    _assert_jvm_only(fresh)
    assert fresh.count() == 0
    assert fresh.dtypes == [("unit", "bigint"), ("rows", "bigint"),
                            ("stage", "string"), ("wall_s", "double")]
    _assert_jvm_only(pending_units(units, spark, base, "s1"))

    batch = units.filter("unit < 3").selectExpr("unit", "unit * 2 AS val")
    appended = commit_units(batch, base, "s1", units=[0, 1, 2])
    _assert_jvm_only(appended)
    assert "LocalTableScan" in _plan(appended)

    present = read_manifest(spark, base, "s1")
    _assert_jvm_only(present)
    assert sorted((r["unit"], r["rows"]) for r in present.collect()) == [
        (0, 1), (1, 1), (2, 1)]
    todo = pending_units(units, spark, base, "s1")
    _assert_jvm_only(todo)
    assert sorted(r["unit"] for r in todo.collect()
                  if r["unit"] is not None) == [3, 4, 5]
    assert todo.filter("unit IS NULL").count() == 1


def test_zero_row_units_get_manifest_rows(spark, tmp_path):
    base = str(tmp_path / "ck")
    units = spark.range(4).select(F.col("id").alias("unit"))
    calls: list[list[int]] = []

    def compute(todo):
        _assert_jvm_only(todo)
        calls.append(sorted(r["unit"] for r in todo.collect()))
        # units 2 and 3 legitimately produce no rows
        return todo.filter("unit < 2").selectExpr("unit", "unit * 10 AS val")

    out = run_stage_resumable(spark, base, "s1", units, compute)
    assert sorted(r["val"] for r in out.collect()) == [0, 10]
    rows = {r["unit"]: r["rows"] for r in read_manifest(spark, base, "s1")
            .collect()}
    assert rows == {0: 1, 1: 1, 2: 0, 3: 0}

    # the empty units count as done: a resume computes nothing
    run_stage_resumable(spark, base, "s1", units, compute)
    assert calls == [[0, 1, 2, 3]]
