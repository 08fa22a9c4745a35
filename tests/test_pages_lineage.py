"""Pages bridge (north-rule input) + lineage/checkpoint tests."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from geostatssolvers_jl_spark import tiling
from geostatssolvers_jl_spark.lineage import (
    commit_units,
    pending_units,
    run_stage_resumable,
)
from geostatssolvers_jl_spark.sources import pages as P

SF = "/root/testdata/sf0.001"


def test_pages_schema_and_geocode(spark):
    pg = P.load_pages(spark, SF)
    assert [f.name for f in pg.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang", "doc_id",
    ]
    geo = P.geocode(pg, res=6)
    row = geo.first()
    assert -180.0 <= row["lon"] < 180.0
    assert -90.0 <= row["lat"] < 90.0
    assert row["cell"] >> 58 == 6


def test_geocode_matches_duckdb_oracle(spark):
    """The geocode SQL is the parity anchor: same text → same coordinates
    in both engines, which is exactly the byte-identity invariant."""
    pg = P.load_pages(spark, SF)
    sql = (
        "SELECT url, round(lon, 6) AS lon, round(lat, 6) AS lat, text_md5 "
        f"FROM ({P.geocoded_pages_sql('__pages_docs')}) g"
    )
    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView(
        "__pages_docs"
    )
    srows = {r["url"]: (r["lon"], r["lat"], r["text_md5"])
             for r in spark.sql(sql).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW __pages_docs AS SELECT * FROM '{SF}/documents.parquet'"
    )
    drows = {r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()}
    assert srows == drows
    assert len(srows) > 0


def test_text_byte_identity_through_pipeline(spark):
    """text must survive geocode→tile→(any compute) byte-identical per url."""
    pg = P.load_pages(spark, SF)
    before = pg.select("url", F.md5("text").alias("h"))
    after = (
        P.geocode(pg, res=8)
        .filter("lon IS NOT NULL")
        .select("url", F.md5("text").alias("h"))
    )
    diff = (
        before.alias("b").join(after.alias("a"), "url")
        .filter(F.col("b.h") != F.col("a.h"))
    )
    assert diff.count() == 0
    assert after.count() == before.count()


def test_synthesized_pages_deterministic(spark):
    a = P.synthesize_pages(spark, 100).select("url", "text").collect()
    b = P.synthesize_pages(spark, 100).select("url", "text").collect()
    assert sorted(a) == sorted(b)
    assert len({r["url"] for r in a}) == 100


def _unit_rows(spark, todo, expr):
    return (spark.range(max(todo) + 1).select(F.col("id").alias("unit"))
            .filter(F.col("unit").isin(todo)).selectExpr("unit", expr))


def test_lineage_resume(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    calls: list[int] = []

    def compute(todo):
        calls.append(len(todo))
        return _unit_rows(spark, todo, "unit * 2 AS val")

    out1 = run_stage_resumable(spark, base, "s1", range(10), compute)
    assert out1.count() == 10
    assert calls == [10]

    # resume: nothing pending → compute not called again
    out2 = run_stage_resumable(spark, base, "s1", range(10), compute)
    assert out2.count() == 10
    assert calls == [10]

    # new units appear → only they are computed
    out3 = run_stage_resumable(spark, base, "s1", range(15), compute)
    assert out3.count() == 15
    assert calls == [10, 5]

    # lineage rows recorded per unit with row counts
    assert pending_units(range(15), spark, base, "s1") == []


def test_partial_crash_resume(spark, tmp_path):
    """Simulate a crash after half the units committed."""
    base = str(tmp_path / "ckpt2")
    commit_units(_unit_rows(spark, [0, 1, 2, 3], "unit + 100 AS val"),
                 base, "s2")

    seen: list[list[int]] = []

    def compute(todo):
        seen.append(todo)
        return _unit_rows(spark, todo, "unit + 100 AS val")

    out = run_stage_resumable(spark, base, "s2", range(8), compute)
    assert seen == [[4, 5, 6, 7]]  # only the un-committed half re-ran
    assert out.count() == 8
    vals = {r["unit"]: r["val"] for r in out.collect()}
    assert vals == {u: u + 100 for u in range(8)}
