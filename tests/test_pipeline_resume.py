"""Kill-and-resume of the flagship kriging pipeline (north rule)."""

from __future__ import annotations

from pyspark.sql import functions as F

from geostatssolvers_jl_spark.grid import CartesianGrid
from geostatssolvers_jl_spark.lineage import commit_units, read_manifest
from geostatssolvers_jl_spark.operators.kriging import KrigingModel
from geostatssolvers_jl_spark.pipelines import kriging_pages_resumable
from geostatssolvers_jl_spark.variogram import GaussianVariogram

SF = "/root/testdata/sf0.001"
GRID = CartesianGrid.from_extent((-180.0, -90.0), (180.0, 90.0), (40, 20))
MODEL = KrigingModel(variogram=GaussianVariogram(range=2000.0, sill=1e4))


def test_pipeline_kill_and_resume(spark, tmp_path):
    base = str(tmp_path / "ck")

    # full first run (complete manifest); the PARTIAL kill/resume case
    # is covered by test_pipeline_true_partial_resume below
    partial = kriging_pages_resumable(
        spark, SF, base, GRID, MODEL, n_units=8, stage="krig_partial"
    )
    full_rows = partial.count()
    assert full_rows == GRID.ncells
    assert dict(partial.dtypes)["unit"] == "bigint"

    # a fresh invocation must not recompute anything (manifest complete)
    m_before = read_manifest(spark, base, "krig_partial").count()
    again = kriging_pages_resumable(
        spark, SF, base, GRID, MODEL, n_units=8, stage="krig_partial"
    )
    assert again.count() == GRID.ncells
    m_after = read_manifest(spark, base, "krig_partial").count()
    assert m_before == m_after == 8  # one lineage row per unit, no dupes

    # per-unit lineage row counts sum to the grid size
    total = (
        read_manifest(spark, base, "krig_partial")
        .agg(F.sum("rows")).collect()[0][0]
    )
    assert total == GRID.ncells


def test_pipeline_true_partial_resume(spark, tmp_path):
    """Pre-commit half the units as if a previous run died mid-way; the
    resume run computes only the remainder and the union is complete and
    identical to a from-scratch run."""
    base = str(tmp_path / "ck2")
    full = kriging_pages_resumable(
        spark, SF, str(tmp_path / "ref"), GRID, MODEL, n_units=8,
        stage="krig",
    ).select("cell_id", "z").collect()
    want = {r["cell_id"]: r["z"] for r in full}

    # fake the dead run: units 0-3 committed from the reference output
    ref = spark.createDataFrame(
        [(c, v) for c, v in want.items()], "cell_id long, z double"
    ).withColumn("unit", (F.col("cell_id") / 100).cast("long"))
    commit_units(ref.filter("unit < 4"), base, "krig")

    out = kriging_pages_resumable(
        spark, SF, base, GRID, MODEL, n_units=8, stage="krig"
    )
    got = {r["cell_id"]: r["z"] for r in out.select("cell_id", "z").collect()}
    assert len(got) == GRID.ncells
    # deterministic engine ⇒ resumed result identical to from-scratch
    assert all(abs(got[c] - want[c]) < 1e-9 for c in want)


def test_resume_all_empty_stage_returns_typed_empty(spark, tmp_path):
    """A stage whose every unit legitimately produces zero rows must stay
    resumable (r4 review: zero part files -> schema inference failed on
    the final read and every subsequent resume crashed)."""
    from geostatssolvers_jl_spark.lineage import run_stage_resumable

    def compute(todo):
        return spark.createDataFrame(
            [], "unit long, z double"
        )

    base = str(tmp_path / "empty_stage")
    out = run_stage_resumable(spark, base, "s1", [1, 2], compute)
    assert out.count() == 0
    assert out.dtypes == [("unit", "bigint"), ("z", "double")]
    # resume with nothing pending: still readable, still empty
    out2 = run_stage_resumable(spark, base, "s1", [1, 2], compute)
    assert out2.count() == 0
    assert out2.dtypes == out.dtypes
