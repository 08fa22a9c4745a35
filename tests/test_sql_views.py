"""One way to run SQL over a DataFrame: every library wrapper and entry
binds its inputs through ``spark.sql``'s DataFrame arguments, so no call
leaves a temporary view behind, and only the named relations of
``__spark_entry__`` (`_register`, `_grid_view`, `_materialize`) create
views at all."""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from test_webtext import SF

ROOT = Path(__file__).resolve().parents[1]


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def _points(spark):
    rng = np.random.default_rng(5)
    n = 200
    return spark.createDataFrame(pd.DataFrame({
        "data_id": np.arange(n),
        "x": rng.uniform(0, 100, n), "y": rng.uniform(0, 100, n),
        "lon": rng.uniform(-180, 180, n), "lat": rng.uniform(-80, 80, n),
        "z": rng.normal(10.0, 2.0, n), "z2": rng.normal(5.0, 1.0, n),
    }))


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _entry(name):
    def run(spark, monkeypatch):
        import __spark_entry__ as E

        if name == "loo_idw_cv":
            from geostatssolvers_jl_spark import planner

            monkeypatch.setattr(planner, "BROADCAST_LIMIT", 0)
        return E.queries()[name](spark, SF)
    return run


def _lsh_spark(spark, monkeypatch):
    import __spark_entry__ as E
    from geostatssolvers_jl_spark.webtext.similarity import (
        ann_topk_lsh_spark,
    )

    return ann_topk_lsh_spark(spark, k=3, bt_rel=E._mat_buckets(spark, SF))


def _ivf_spark(spark, monkeypatch):
    import __spark_entry__ as E
    from geostatssolvers_jl_spark.webtext.similarity import (
        ann_topk_ivf_spark,
    )

    return ann_topk_ivf_spark(spark, k=3, nprobe=E.IVF_NPROBE,
                              rk_rel="ivf_rk_mat")


def _seam(spark, monkeypatch):
    from geostatssolvers_jl_spark.simulation.seqsim import (
        seam_semivariance,
    )

    sol = spark.range(2 * 64).selectExpr(
        "id DIV 64 AS real_id", "id % 64 AS cell_id",
        "CAST((id * 2654435761) % 1000 AS DOUBLE) / 100.0 AS z")
    return seam_semivariance(sol, side=8, step=4)


def _wrapper(module, fn, inputs, *args, **kw):
    def run(spark, monkeypatch):
        import importlib

        mod = importlib.import_module(f"geostatssolvers_jl_spark.{module}")
        return getattr(mod, fn)(spark, inputs(spark), *args, **kw)
    return run


CASES = {
    "empirical_variogram": _wrapper(
        "variography", "empirical_variogram", _points, 30.0, 6),
    "robust_variogram": _wrapper(
        "variography", "robust_variogram", _points, 30.0, 6),
    "cross_variogram": _wrapper(
        "variography", "cross_variogram", _points, 30.0, 6),
    "directional_variogram": _wrapper(
        "variography", "directional_variogram", _points, 30.0, 6),
    "nscore": _wrapper("transforms", "nscore", _points),
    "decluster_weights": _wrapper(
        "transforms", "decluster_weights", _points, 3),
    "bm25_rank": _wrapper(
        "webtext.ranking", "bm25_rank", _docs, ("the", "a")),
    "tfidf_topterms": _wrapper("webtext.ranking", "tfidf_topterms", _docs),
    "heavy_hitters": _wrapper(
        "webtext.heavyhitters", "heavy_hitters", _docs, 0.01),
    "kmeans_fit_spark": _wrapper(
        "webtext.clustering", "kmeans_fit_spark", _emb, 4, iters=2),
    "train_trigram_model": _wrapper(
        "webtext.langmodel", "train_trigram_model", _docs),
    "langid_model": _wrapper("webtext.langmodel", "langid_model", _docs),
    "ann_topk": _wrapper("webtext.similarity", "ann_topk", _emb),
    "dedup_embedding": _wrapper(
        "webtext.similarity", "dedup_embedding", _emb),
    "ann_topk_ivf": _wrapper("webtext.similarity", "ann_topk_ivf", _emb),
    "ann_topk_lsh_spark": _lsh_spark,
    "ann_topk_ivf_spark": _ivf_spark,
    "seam_semivariance": _seam,
    "load_pages": _wrapper("sources.pages", "load_pages", lambda spark: SF),
    "entry_loo_idw_cv_tiled": _entry("loo_idw_cv"),
    "entry_ann_cosine": _entry("ann_cosine"),
    "entry_change_support": _entry("change_support"),
    "entry_multimodal_features": _entry("multimodal_features"),
    "entry_multimodal_invariants": _entry("multimodal_invariants"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_call_leaves_no_view(spark, monkeypatch, case):
    """Snapshot the catalog once the parquet tables and the materialized
    relations a case reads are registered; the call, and running its
    result after the argument views are gone, must leave it unchanged."""
    import __spark_entry__ as E

    E._register(spark, SF)
    if case == "ann_topk_lsh_spark":
        E._mat_buckets(spark, SF)
    if case == "ann_topk_ivf_spark":
        E.queries()["ann_topk_ivf"](spark, SF)
    before = _views(spark)
    out = CASES[case](spark, monkeypatch)
    if isinstance(out, DataFrame):
        out.count()
    assert _views(spark) == before


# wrappers whose query binds the caller's DataFrame directly:
# (module, function, input, further arguments)
KEEP_CACHE = {
    "empirical_variogram": ("variography", "empirical_variogram", _points,
                            30.0, 6),
    "nscore": ("transforms", "nscore", _points),
    "bm25_rank": ("webtext.ranking", "bm25_rank", _docs, ("the", "a")),
    "tfidf_topterms": ("webtext.ranking", "tfidf_topterms", _docs),
    "ann_topk": ("webtext.similarity", "ann_topk", _emb),
}


@pytest.mark.parametrize("case", sorted(KEEP_CACHE))
def test_wrapper_keeps_caller_cache(spark, monkeypatch, case):
    """A caller's persisted input stays cached through the call, and the
    wrapper's query reads that cache instead of recomputing the input."""
    module, fn, inputs, *args = KEEP_CACHE[case]
    df = inputs(spark).persist()
    df.count()
    cache = spark._jsparkSession.sharedState().cacheManager()
    try:
        out = _wrapper(module, fn, lambda _: df, *args)(spark, monkeypatch)
        assert cache.lookupCachedData(df._jdf).isDefined()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        df.unpersist()


def test_bm25_rank_term_with_braces(spark):
    """Braces in a query term reach the SQL literal unchanged (the text
    goes through ``str.format`` to bind the DataFrame argument)."""
    from geostatssolvers_jl_spark.webtext.ranking import bm25_rank

    docs = spark.createDataFrame(
        [(1, "x{b}y zz"), (2, "zz zz"), (3, "x{b}y")],
        "doc_id long, text string")
    rows = bm25_rank(spark, docs, ("x{b}y",), topk=5).collect()
    assert sorted(r.doc_id for r in rows) == [1, 3]


@pytest.mark.parametrize("case", ["heavy_hitters", "kmeans_fit_spark"])
def test_persist_survives_argument_view_drop(spark, monkeypatch, case):
    """`heavy_hitters` persists its token relation and `kmeans_fit_spark`
    its embedding relation, both derived from the argument view that
    spark.sql drops before their first action: the plans that read them
    must still scan the cache."""
    from geostatssolvers_jl_spark.webtext import clustering, heavyhitters

    mod, fn = ((heavyhitters, "misra_gries_partials")
               if case == "heavy_hitters"
               else (clustering, "_step_partials"))
    orig = getattr(mod, fn)
    plans = []

    def spy(df, *a, **kw):
        out = orig(df, *a, **kw)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(mod, fn, spy)
    if case == "heavy_hitters":
        heavyhitters.heavy_hitters(spark, _docs(spark), 0.01)
    else:
        clustering.kmeans_fit_spark(spark, _emb(spark), 4, iters=2)
    assert plans and all("InMemoryTableScan" in p for p in plans)


def _view_calls(path: Path):
    """(enclosing function, method) per createOrReplaceTempView /
    dropTempView call in ``path``."""
    tree = ast.parse(path.read_text())
    calls = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn)
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("createOrReplaceTempView",
                                            "dropTempView")):
                calls.append((name, child.func.attr))
            walk(child, name)

    walk(tree, None)
    return calls


def test_views_only_for_named_relations():
    """The package creates and drops no view; `__spark_entry__` does so
    only in the three helpers whose views are named by contract."""
    pkg = sorted((ROOT / "geostatssolvers_jl_spark").rglob("*.py"))
    found = {str(p.relative_to(ROOT)): _view_calls(p) for p in pkg}
    assert {k: v for k, v in found.items() if v} == {}
    entry = _view_calls(ROOT / "__spark_entry__.py")
    assert entry
    assert {fn for fn, _ in entry} <= {"_register", "_grid_view",
                                       "_materialize"}
