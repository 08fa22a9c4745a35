"""Cross-validation (LOO-IDW, k-fold library) + duplicate-substring
span detection."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from geostatssolvers_jl_spark.distances import Euclidean, Haversine
from geostatssolvers_jl_spark.validation import (
    cv_summary_sql,
    kfold_cv,
    loo_idw_sql,
)
from geostatssolvers_jl_spark.webtext.dedup import (
    dup_span_detail_sql,
    dup_span_sql,
)

EUC = Euclidean().sql(("q.x", "q.y"), ("d.x", "d.y"))


# ------------------------------------------------------------ LOO IDW CV


def test_loo_hand_computed(spark):
    pts = pd.DataFrame({
        "data_id": [0, 1, 2, 3],
        "x": [0.0, 1.0, 2.0, 10.0], "y": [0.0] * 4,
        "z": [1.0, 2.0, 3.0, 10.0],
    })
    con = duckdb.connect()
    con.register("pts", pts)
    sql = loo_idw_sql("pts", EUC, k=2)
    out = con.sql(sql + " ORDER BY data_id").df()
    # point 0: neighbors 1 (d=1, z=2), 2 (d=2, z=3):
    # (2/1 + 3/2) / (1 + 1/2) = 7/3
    assert abs(out.loc[0, "zhat"] - round(7.0 / 3.0, 6)) < 1e-9
    # point 1 is midway between equal-ish: (1/1 + 3/1)/(2) = 2 → err 0
    assert out.loc[1, "zhat"] == 2.0 and out.loc[1, "err"] == 0.0

    spark.createDataFrame(pts).createOrReplaceTempView("pts")
    a = spark.sql(sql + " ORDER BY data_id").toPandas()
    pd.testing.assert_frame_equal(a, out, check_dtype=False)
    s = con.sql(cv_summary_sql(f"({sql}) _l")).df()
    assert s.loc[0, "n"] == 4
    assert s.loc[0, "mae"] >= abs(s.loc[0, "bias"])
    spark.catalog.dropTempView("pts")


def test_loo_colocated_duplicate_exact(spark):
    """A co-located duplicate measurement must predict its twin exactly
    (the A2 zero-distance rule carries into LOO)."""
    pts = pd.DataFrame({
        "data_id": [0, 1, 2],
        "x": [5.0, 5.0, 9.0], "y": [0.0, 0.0, 0.0],
        "z": [7.0, 7.0, 1.0],
    })
    con = duckdb.connect()
    con.register("pts", pts)
    out = con.sql(loo_idw_sql("pts", EUC, k=2)
                  + " ORDER BY data_id").df()
    assert out.loc[0, "zhat"] == 7.0 and out.loc[0, "err"] == 0.0
    assert out.loc[1, "zhat"] == 7.0


def test_loo_better_on_smooth_field(spark):
    """On a smooth field LOO error is small; on shuffled values (same
    locations, destroyed spatial structure) it must be much larger —
    the diagnostic the operator exists to provide."""
    rng = np.random.default_rng(23)
    n = 200
    x = rng.uniform(0, 100, n)
    y = rng.uniform(0, 100, n)
    z = np.sin(x / 15.0) + np.cos(y / 15.0)
    con = duckdb.connect()
    for name, zz in (("smooth", z),
                     ("broken", rng.permutation(z))):
        pts = pd.DataFrame({"data_id": np.arange(n), "x": x, "y": y,
                            "z": zz})
        con.register("pts", pts)
        s = con.sql(cv_summary_sql(
            f"({loo_idw_sql('pts', EUC, k=5)}) _l")).df()
        if name == "smooth":
            mae_smooth = s.loc[0, "mae"]
        else:
            mae_broken = s.loc[0, "mae"]
    assert mae_broken > 3.0 * mae_smooth, (mae_smooth, mae_broken)


def test_loo_idw_cv_tiled_tier_equals_brute(spark, monkeypatch):
    """`loo_idw_cv` on the tiled gather (`planner.BROADCAST_LIMIT`
    patched to 0) returns the broadcast gather's rows (sf0.01 sits below
    the limit, so the gate runs only the broadcast gather there)."""
    import __spark_entry__ as entry
    import geostatssolvers_jl_spark.operators.tiled as tiled
    from geostatssolvers_jl_spark import planner
    from test_classifier import SF

    run = entry.queries()["loo_idw_cv"]
    broadcast = sorted(map(tuple, run(spark, SF).collect()))
    join = tiled.knn_join_tiled_exact
    calls = []

    def counted(*a, **kw):
        calls.append(1)
        return join(*a, **kw)

    monkeypatch.setattr(tiled, "knn_join_tiled_exact", counted)
    monkeypatch.setattr(planner, "BROADCAST_LIMIT", 0)
    gathered = sorted(map(tuple, run(spark, SF).collect()))
    assert calls == [1]
    assert len(broadcast) == 500
    assert gathered == broadcast


@pytest.mark.parametrize("limit", ["broadcast", "tiled"])
def test_loo_idw_colocated_cluster(spark, monkeypatch, limit):
    """Five co-located points (k + 1 = 4 or more): the point with the
    highest id does not find itself among its k + 1 gathered neighbors,
    the others drop their own slot; either way the rows equal
    `loo_idw_sql` on DuckDB.  A lone point gets no row."""
    from geostatssolvers_jl_spark import planner
    from geostatssolvers_jl_spark.validation import loo_idw

    if limit == "tiled":
        monkeypatch.setattr(planner, "BROADCAST_LIMIT", 0)
    pts = pd.DataFrame({
        "data_id": np.arange(9),
        "x": [10.0] * 5 + [10.5, 12.0, -30.0, 40.0],
        "y": [20.0] * 5 + [20.0, 21.0, 5.0, -10.0],
        "z": [1.0, 2.0, 3.0, 4.0, 5.0, 6.5, 7.25, 0.5, 9.0],
    })
    hav = Haversine(6371.0)
    con = duckdb.connect()
    con.register("pts", pts)
    want = con.sql(loo_idw_sql("pts", hav.sql(("q.x", "q.y"), ("d.x", "d.y")),
                               k=3) + " ORDER BY data_id").df()
    got = loo_idw(spark.createDataFrame(pts), k=3, metric=hav,
                  exponent=1.0) \
        .toPandas().sort_values("data_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)
    assert list(got.zhat[:5]) == [2.0, 1.0, 1.0, 1.0, 1.0]
    assert loo_idw(spark.createDataFrame(pts.iloc[:1]), k=3, metric=hav,
                   exponent=1.0).count() == 0


def test_loo_idw_cv_plan(spark):
    """`loo_idw_cv` at sf0.01 runs on the broadcast gather: one
    MapInPandas, no pair product and no shuffle (its one exchange is the
    broadcast side of the pages join every pages entry reads)."""
    import re

    import __spark_entry__ as entry
    from test_classifier import SF

    out = entry.queries()["loo_idw_cv"](spark, SF)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan


def test_kfold_cv_idw(spark):
    """k-fold with the real IDW solver: folds cover every point exactly
    once; errors are finite; a deterministic re-run is identical."""
    from geostatssolvers_jl_spark.operators.idw import solve_idw

    rng = np.random.default_rng(31)
    n = 120
    pts = pd.DataFrame({
        "data_id": np.arange(n),
        "x": rng.uniform(0, 50, n), "y": rng.uniform(0, 50, n),
        "z": rng.normal(10.0, 2.0, n),
    })
    sdf = spark.createDataFrame(pts)

    def solver(train, test):
        est = solve_idw(
            train, test.selectExpr("data_id AS cell_id", "x", "y"),
            var="z", data_coord_cols=["x", "y"],
            query_coord_cols=["x", "y"], maxneighbors=4,
            metric=Euclidean(), strategy="local-broadcast",
        )
        return est.selectExpr("cell_id AS data_id", "z AS zhat")

    out = kfold_cv(sdf, solver, k=4).toPandas() \
        .sort_values("data_id").reset_index(drop=True)
    assert len(out) == n
    assert sorted(out.data_id) == list(range(n))
    assert np.isfinite(out.err).all()
    out2 = kfold_cv(sdf, solver, k=4).toPandas() \
        .sort_values("data_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(out, out2)

    with pytest.raises(ValueError, match="k must be"):
        kfold_cv(sdf, solver, k=1)
    with pytest.raises(ValueError, match="_fold"):
        kfold_cv(sdf.withColumn("_fold", sdf.data_id), solver, k=3)

    # non-default value column name flows through end to end
    out3 = kfold_cv(sdf.withColumnRenamed("z", "temp"),
                    lambda tr, te: solver(
                        tr.withColumnRenamed("temp", "z"),
                        te.withColumnRenamed("temp", "z")),
                    k=4, val_col="temp").toPandas() \
        .sort_values("data_id").reset_index(drop=True)
    assert np.allclose(out3.err, out.err)


# ------------------------------------------------- duplicate substrings


SHARED = "the quick brown fox jumps over the lazy dog today"  # 49 chars


def _span_docs() -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4],
        "text": [
            "AAA " + SHARED + " unique tail zero 0",
            "completely different text with no repeats at all here ok",
            "prefix one " + SHARED + " suffix xyz",
            "selfrep " + "REPEATED-BLOCK-1234567890-ABCDEF " * 3 + "end",
            "tiny",
        ],
    })


def test_dup_span_planted_fixture(spark):
    """Planted cross-doc shared string + a self-repeating doc: spans
    merge to the exact maximal boundaries; clean/short docs report 0;
    Spark == DuckDB."""
    docs = _span_docs()
    con = duckdb.connect()
    con.register("documents", docs)
    spark.createDataFrame(docs).createOrReplaceTempView("documents")

    a = spark.sql(dup_span_sql("spark", L=20)).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    b = con.sql(dup_span_sql("duck", L=20) + " ORDER BY doc_id").df()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    by = a.set_index("doc_id")
    # shared = " " + SHARED + " " (the flanking spaces also repeat)
    assert by.loc[0, "dup_chars"] == 51 and by.loc[0, "n_dup_spans"] == 1
    assert by.loc[2, "dup_chars"] == 51
    assert by.loc[1, "dup_chars"] == 0 and by.loc[4, "dup_chars"] == 0
    # 3×33-char self-repeat + the boundary char merges into one span
    assert by.loc[3, "n_dup_spans"] == 1 and by.loc[3, "dup_chars"] == 100

    d = con.sql(dup_span_detail_sql("duck", L=20)
                + " ORDER BY doc_id, span_start").df()
    ds = spark.sql(dup_span_detail_sql("spark", L=20)).toPandas() \
        .sort_values(["doc_id", "span_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(ds, d, check_dtype=False)
    # doc 0: "AAA " is 4 chars → shared region starts at the space
    # (1-based pos 4) and spans 51 chars
    r0 = d[d.doc_id == 0].iloc[0]
    assert (r0.span_start, r0.span_end) == (4, 55)


def test_dup_span_disjoint_spans_not_merged():
    """Two duplicated regions separated by more than L unique chars
    stay separate spans with exact char counts."""
    blk_a = "X" * 1 + "alpha-block-shared-across-docs-one"   # 35 chars
    blk_b = "beta-block-shared-across-docs-two!"             # 34 chars
    # the separator must not be self-periodic: a repeating filler like
    # "0123456789"*4 makes its own windows corpus-duplicates (period-10
    # self-match) and legitimately bridges the two spans
    gap = " each word here appears just once in all docs "   # 47 chars
    docs = pd.DataFrame({
        "doc_id": [0, 1],
        "text": [blk_a + gap + blk_b,
                 "zzz " + blk_a + " qqq " + blk_b + " www"],
    })
    con = duckdb.connect()
    con.register("documents", docs)
    out = con.sql(dup_span_sql("duck", L=30) + " ORDER BY doc_id").df()
    assert out.loc[0, "n_dup_spans"] == 2
    d = con.sql(dup_span_detail_sql("duck", L=30)
                + " ORDER BY doc_id, span_start").df()
    spans0 = d[d.doc_id == 0]
    assert len(spans0) == 2
    assert spans0.iloc[0].span_end <= spans0.iloc[1].span_start


def test_dup_span_single_explode_plan(spark):
    """The duplicate test is a window count on one pass — the executed
    Spark plan must contain exactly ONE Generate (explode) node (a
    GROUP-BY CTE joined back would re-inline and scan twice)."""
    docs = _span_docs()
    spark.createDataFrame(docs).createOrReplaceTempView("documents")
    plan = spark.sql(dup_span_sql("spark", L=20)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate explode") == 1, plan
    spark.catalog.dropTempView("documents")


def test_dup_span_validation():
    with pytest.raises(ValueError, match="L must be"):
        dup_span_sql("duck", L=1)
    with pytest.raises(ValueError, match="min_count"):
        dup_span_sql("duck", min_count=1)


def test_dup_span_property_vs_python():
    """Property (hypothesis): on ANY small corpus over a tiny alphabet
    (duplicates ubiquitous by construction) the SQL output equals a
    direct pure-python implementation — window counting, position
    marking, island merging, short-doc handling, all of it."""
    from hypothesis import given, settings, strategies as st

    L = 4

    def py_ref(texts):
        from collections import Counter
        cnt = Counter()
        for t in texts:
            for p in range(len(t) - L + 1):
                cnt[t[p:p + L]] += 1
        rows = []
        for i, t in enumerate(texts):
            pos = [p for p in range(len(t) - L + 1)
                   if cnt[t[p:p + L]] >= 2]
            spans = []
            for p in pos:
                if spans and p <= spans[-1][1]:
                    spans[-1][1] = max(spans[-1][1], p + L)
                else:
                    spans.append([p, p + L])
            rows.append((i, len(spans), sum(e - s for s, e in spans)))
        return rows

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.text(alphabet="ab ", max_size=16),
                    min_size=1, max_size=6))
    def check(texts):
        con = duckdb.connect()
        con.register("documents", pd.DataFrame({
            "doc_id": range(len(texts)), "text": texts}))
        got = [tuple(r) for r in con.sql(
            dup_span_sql("duck", L=L) + " ORDER BY doc_id"
        ).fetchall()]
        assert got == py_ref(texts), texts

    check()


def test_dup_span_on_real_corpus(spark):
    """sf0.001 documents: the known exact-duplicate docs are flagged
    ~fully duplicated; every doc gets exactly one row."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("documents")
    out = spark.sql(dup_span_sql("spark", L=30)).toPandas()
    assert len(out) == docs.count()
    # the corpus plants exact duplicates (dedup_exact relies on them) —
    # each member of a duplicate pair must be ≈fully covered
    full = spark.sql(
        "SELECT count(*) AS c FROM (SELECT md5(text) h, count(*) n "
        "FROM documents WHERE length(text) >= 30 GROUP BY md5(text) "
        "HAVING count(*) > 1) _d").collect()[0]["c"]
    if full:
        lens = {r["doc_id"]: r["n_chars"] for r in spark.sql(
            "SELECT doc_id, length(text) AS n_chars FROM documents"
        ).collect()}
        dup_docs = [r["doc_id"] for r in spark.sql(
            "SELECT doc_id FROM documents WHERE md5(text) IN "
            "(SELECT md5(text) FROM documents WHERE length(text) >= 30 "
            "GROUP BY md5(text) HAVING count(*) > 1)").collect()]
        by = out.set_index("doc_id")
        for d in dup_docs:
            assert by.loc[d, "dup_chars"] == lens[d], d
    spark.catalog.dropTempView("documents")


def test_kfold_kriging_cv_fold_semantics(spark):
    """The fold-aware Cramer CV: folds are balanced-ish and every
    point's error reflects OUT-of-fold neighbors — the CV error is
    orders of magnitude above the exactness residual (which would be
    ~0 if a point could see itself or same-fold co-located twins)."""
    import __spark_entry__ as entry

    out = entry.queries()["kfold_kriging_cv"](
        spark, "/root/testdata/sf0.01").collect()
    assert len(out) == 500
    folds = {}
    for r in out:
        folds[r["fold"]] = folds.get(r["fold"], 0) + 1
    assert set(folds) == {0, 1, 2, 3}
    assert min(folds.values()) > 50  # arithmetic splitter is balanced
    import math

    rmse = math.sqrt(sum(r["err"] ** 2 for r in out) / len(out))
    assert rmse > 10.0  # genuine held-out error, not exactness ~1e-3
    assert all(math.isfinite(r["zhat"]) for r in out)
