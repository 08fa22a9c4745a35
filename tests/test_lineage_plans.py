"""The lineage control plane runs on the driver: no plan it builds scans a
Python RDD (``ExistingRDD`` / ``LogicalRDD``), so no lineage step starts
a Python worker; a unit whose compute yields no rows still gets its
manifest row; and unit ids stay on the driver, so pending units without
a manifest and the stage read start no Spark job."""

from __future__ import annotations

import pytest
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


def _unit_rows(spark, todo, expr="unit * 2 AS val"):
    """Output rows for the unit ids ``todo``, planned on the JVM."""
    return (spark.range(max(todo) + 1).select(F.col("id").alias("unit"))
            .filter(F.col("unit").isin(todo)).selectExpr("unit", expr))


def _jobs(spark, group, fn):
    """(fn's result, the Spark jobs it started).  The group is checked to
    catch jobs by running one action in it afterwards."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, "lineage job count")
    try:
        out = fn()
        jobs = list(tracker.getJobIdsForGroup(group))
        spark.range(1).count()
        assert list(tracker.getJobIdsForGroup(group)) != jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, jobs


def test_lineage_plans_scan_no_python_rdd(spark, tmp_path):
    base = str(tmp_path / "ck")

    fresh = read_manifest(spark, base, "s1")
    _assert_jvm_only(fresh)
    assert fresh.count() == 0
    assert fresh.dtypes == [("unit", "bigint"), ("rows", "bigint"),
                            ("stage", "string"), ("wall_s", "double")]
    assert pending_units(range(6), spark, base, "s1") == list(range(6))

    batch = _unit_rows(spark, [0, 1, 2])
    appended = commit_units(batch, base, "s1", units=[0, 1, 2])
    _assert_jvm_only(appended)
    assert "LocalTableScan" in _plan(appended)

    present = read_manifest(spark, base, "s1")
    _assert_jvm_only(present)
    assert sorted((r["unit"], r["rows"]) for r in present.collect()) == [
        (0, 1), (1, 1), (2, 1)]
    assert pending_units(range(6), spark, base, "s1") == [3, 4, 5]


def test_zero_row_units_get_manifest_rows(spark, tmp_path):
    base = str(tmp_path / "ck")
    calls: list[list[int]] = []

    def compute(todo):
        calls.append(todo)
        # units 2 and 3 legitimately produce no rows
        out = _unit_rows(spark, todo, "unit * 10 AS val")
        _assert_jvm_only(out)
        return out.filter("unit < 2")

    out = run_stage_resumable(spark, base, "s1", range(4), compute)
    assert sorted(r["val"] for r in out.collect()) == [0, 10]
    # the stage reads back with the manifest's unit type, not the
    # partition-inferred int
    assert dict(out.dtypes)["unit"] == "bigint"
    rows = {r["unit"]: r["rows"] for r in read_manifest(spark, base, "s1")
            .collect()}
    assert rows == {0: 1, 1: 1, 2: 0, 3: 0}

    # the empty units count as done: a resume computes nothing
    run_stage_resumable(spark, base, "s1", range(4), compute)
    assert calls == [[0, 1, 2, 3]]


def test_lineage_control_plane_job_counts(spark, tmp_path):
    base = str(tmp_path / "ck")
    # no manifest: the pending set is the input's ids, with no Spark job
    todo, jobs = _jobs(spark, "lineage-pending-fresh",
                       lambda: pending_units([3, 1, 2, 1], spark, base, "s1"))
    assert todo == [1, 2, 3]
    assert jobs == []
    # nothing committed, nothing pending: no schema to read the stage with
    with pytest.raises(FileNotFoundError, match="has no commit"):
        run_stage_resumable(spark, base, "s1", [], None)

    run_stage_resumable(spark, base, "s1", range(4), lambda t: _unit_rows(
        spark, t))
    # with a manifest, the done ids are one collect; a resume with nothing
    # pending runs exactly that job, so the stage read starts none
    todo, jobs = _jobs(spark, "lineage-pending-done",
                       lambda: pending_units(range(4), spark, base, "s1"))
    assert todo == [] and len(jobs) == 1
    out, jobs = _jobs(spark, "lineage-resume-read",
                      lambda: run_stage_resumable(spark, base, "s1",
                                                  range(4), None))
    assert len(jobs) == 1
    assert sorted(r["val"] for r in out.collect()) == [0, 2, 4, 6]
