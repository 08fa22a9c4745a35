"""r7 optimization internals: the vectorized kernels must be BIT-exact
twins of the shared-dialect SQL folds (the gate hashes depend on it)."""

from __future__ import annotations

import numpy as np
import pytest

from geostatssolvers_jl_spark.webtext.vecops import (
    gather_score_pairs,
    ranked_cells,
    seq_dot_rows,
    seq_norm_rows,
    seq_sqdist,
    tie_safe_topk,
)


def _rand(n, d, seed):
    rng = np.random.default_rng(seed)
    # float32-valued doubles, like the parquet embeddings after CAST
    return rng.standard_normal((n, d)).astype(np.float32).astype(np.float64)


def _duck_fold_reference(X, C):
    """DuckDB evaluates the exact shared-dialect fold text — the
    independent bit-reference for the numpy kernels."""
    import duckdb

    from geostatssolvers_jl_spark.webtext.similarity import (
        _dot_sql, _norm_sql, _sqdist_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE x (i INT, e DOUBLE[])")
    con.execute("CREATE TABLE c (j INT, e DOUBLE[])")
    con.executemany("INSERT INTO x VALUES (?, ?)",
                    [(i, list(r)) for i, r in enumerate(X)])
    con.executemany("INSERT INTO c VALUES (?, ?)",
                    [(j, list(r)) for j, r in enumerate(C)])
    dim = X.shape[1]
    rows = con.execute(
        f"SELECT x.i, c.j, {_sqdist_sql('duck', 'x.e', 'c.e', dim)}, "
        f"{_dot_sql('duck', 'x.e', 'c.e', dim)}, "
        f"{_norm_sql('duck', 'x.e', dim)} "
        f"FROM x CROSS JOIN c ORDER BY x.i, c.j").fetchall()
    return rows


def test_seq_folds_bit_equal_duckdb_fold():
    X, C = _rand(7, 64, 1), _rand(5, 64, 2)
    d2 = seq_sqdist(X, C)
    nrm = seq_norm_rows(X)
    for i, j, rd2, rdot, rnrm in _duck_fold_reference(X, C):
        assert d2[i, j] == rd2  # bitwise: same FP op sequence
        assert seq_dot_rows(X[i:i + 1], C[j:j + 1])[0] == rdot
        assert nrm[i] == rnrm


def test_tie_safe_topk_matches_stable_argsort():
    rng = np.random.default_rng(7)
    # quantized values force plenty of exact ties, including at the
    # partition boundary
    d2 = np.round(rng.random((200, 23)) * 8) / 8.0
    for nprobe in (1, 3, 22, 23):
        got = tie_safe_topk(d2, nprobe)
        want = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        assert (got == want).all(), f"nprobe={nprobe}"


@pytest.fixture()
def emb_df(spark):
    rng = np.random.default_rng(11)
    rows = [
        (int(i * 3 + 1), [float(x) for x in
                          rng.standard_normal(8).astype(np.float32)])
        for i in range(60)  # non-dense, non-zero-based ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ranked_cells_matches_sql_window(spark, emb_df):
    """ranked_cells must equal the SQL `ivf_ranked_sql` rows — the
    same (d2, cid) ROW_NUMBER contract, kernel-computed."""
    from geostatssolvers_jl_spark.webtext.similarity import ivf_ranked_sql

    emb_df.createOrReplaceTempView("_vo_emb")
    want = {
        tuple(r) for r in spark.sql(
            ivf_ranked_sql("spark", "_vo_emb", nprobe=3, pivot_mod=7,
                           dim=8)).collect()
    }
    cent = emb_df.filter("vec_id % 7 = 0").orderBy("vec_id").collect()
    cids = np.array([r[0] for r in cent], dtype=np.int64)
    C = np.asarray([list(r[1]) for r in cent], dtype=np.float64)
    got = {
        tuple(r) for r in
        ranked_cells(spark, emb_df, cids, C, nprobe=3).collect()
    }
    assert got == want and len(got) == 60 * 3


def test_gather_scorer_matches_sql_cosine(spark, emb_df):
    """The gather scorer's raw cosine must be bitwise the SQL pair
    expression `dot/(nrm·nrm)` (before rounding)."""
    from geostatssolvers_jl_spark.webtext.similarity import (
        _dot_sql, _emb_double, _norm_sql,
    )

    emb_df.createOrReplaceTempView("_vo_emb2")
    emb = _emb_double("spark", "_vo_emb2", "e")
    want = {
        (r[0], r[1]): r[2] for r in spark.sql(
            f"SELECT q.vec_id, d.vec_id, "
            f"({_dot_sql('spark', 'q.e', 'd.e', 8)}) / "
            f"({_norm_sql('spark', 'q.e', 8)} * "
            f"{_norm_sql('spark', 'd.e', 8)}) "
            f"FROM {emb} q CROSS JOIN {emb} d "
            f"WHERE q.vec_id < d.vec_id AND q.vec_id < 20").collect()
    }
    rows = emb_df.orderBy("vec_id").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    E = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for (a, b) in want], "qid long, nid long")
    got = gather_score_pairs(spark, pairs, ids, E).collect()
    assert len(got) == len(want)
    for r in got:
        assert want[(r["qid"], r["nid"])] == r["c_raw"]  # bitwise


def test_ann_fast_paths_match_sql_twins(spark, emb_df):
    """The exchange-free fast tier must produce exactly the SQL twin's
    rows (the gate compares against DuckDB; this pins Spark-vs-Spark)."""
    from geostatssolvers_jl_spark.webtext.similarity import (
        ann_topk_ivf_spark, ann_topk_ivf_sql, ann_topk_lsh_spark,
        ann_topk_lsh_sql, bucket_tables_sql, ivf_ranked_spark,
    )

    emb_df.createOrReplaceTempView("_vo_emb3")
    bt = spark.sql(
        bucket_tables_sql("spark", "_vo_emb3", n_planes=3, n_tables=2,
                          dim=8)).localCheckpoint()
    bt.createOrReplaceTempView("_vo_bt")
    want = {tuple(r) for r in spark.sql(
        ann_topk_lsh_sql("spark", "_vo_emb3", k=2, n_planes=3,
                         n_tables=2, dim=8, bt_rel="_vo_bt")).collect()}
    got = {tuple(r) for r in ann_topk_lsh_spark(
        spark, k=2, n_planes=3, bt_rel="_vo_bt",
        emb_rel="_vo_emb3").collect()}
    assert got == want and want

    rk = ivf_ranked_spark(spark, "_vo_emb3", nprobe=2,
                          pivot_mod=7, dim=8).localCheckpoint()
    rk.createOrReplaceTempView("_vo_rk")
    want = {tuple(r) for r in spark.sql(
        ann_topk_ivf_sql("spark", "_vo_emb3", k=2, nprobe=2,
                         pivot_mod=7, dim=8)).collect()}
    got = {tuple(r) for r in ann_topk_ivf_spark(
        spark, k=2, nprobe=2, rk_rel="_vo_rk", emb_rel="_vo_emb3",
        dim=8).collect()}
    assert got == want and want


def test_collect_emb_matrix_raises_past_bound(spark, monkeypatch):
    """Past the gather-scorer bound the corpus collect refuses instead of
    handing back a marker the caller must route around."""
    import geostatssolvers_jl_spark.webtext.vecops as vecops
    from geostatssolvers_jl_spark.webtext.similarity import (
        collect_emb_matrix,
    )

    monkeypatch.setattr(vecops, "GATHER_SCORE_LIMIT", 10)
    with pytest.raises(ValueError, match="gather-scorer bound 10"):
        collect_emb_matrix(spark, "embeddings", known_n=11)


def test_bucket_tables_kernel_matches_sql(spark, emb_df):
    """The kernel bucket assignment must equal `bucket_tables_sql`'s
    rows exactly — same weights, same fold order, same sign test
    (including −0.0 dots admitted by `>= 0.0`)."""
    from geostatssolvers_jl_spark.webtext.similarity import (
        bucket_tables_sql,
    )
    from geostatssolvers_jl_spark.webtext.vecops import (
        bucket_tables_kernel,
    )

    emb_df.createOrReplaceTempView("_vo_emb_bt")
    want = sorted(map(tuple, spark.sql(
        bucket_tables_sql("spark", "_vo_emb_bt", n_planes=4, n_tables=3,
                          dim=8)).collect()))
    got = sorted(map(tuple, bucket_tables_kernel(
        spark, emb_df, n_planes=4, n_tables=3, dim=8).collect()))
    assert got == want and len(got) == 60 * 3
    # NaN components: Spark's `dot >= 0.0` orders NaN above every
    # double (bit set); the kernel must bucket identically
    nan_df = spark.createDataFrame(
        [(1, [float("nan")] * 8), (2, [1.0, float("nan")] + [0.5] * 6)],
        "vec_id long, embedding array<float>")
    nan_df.createOrReplaceTempView("_vo_emb_nan")
    want = sorted(map(tuple, spark.sql(
        bucket_tables_sql("spark", "_vo_emb_nan", n_planes=4,
                          n_tables=2, dim=8)).collect()))
    got = sorted(map(tuple, bucket_tables_kernel(
        spark, nan_df, n_planes=4, n_tables=2, dim=8).collect()))
    assert got == want and len(got) == 4


def _dot_chain(a: str, b: str, dim: int) -> str:
    """Expanded spelling of `_dot_sql`'s fold: ``0.0 + a[0]*b[0] + ...``
    — bit-identical (left-associated addition replays the fold's exact
    accumulation sequence, including the leading ``0.0 + t0`` step,
    which matters when ``t0`` is −0.0) but REJECTED for execution and
    kept only as the bit-equality test fixture: an interleaved A/B on
    20M pairs measured the expanded chain 5.5× SLOWER than the fold
    (51–70 s vs 9–17 s) — the 64-term tree pushes the generated stage
    past HotSpot's JIT method limit, so it runs as interpreted bytecode,
    while the `aggregate(zip_with(...))` fold's fallback loop is
    comparatively tight.  This re-confirms `_cos_sql`'s r6 rejection
    from the projection side."""
    terms = " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim))
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def test_dot_chain_bitwise_equals_fold(spark):
    """The expanded codegen chain must replay the fold's accumulation
    bit-for-bit — including signed zeros, which exercise the leading
    `0.0 +` step."""
    import numpy as np

    from geostatssolvers_jl_spark.webtext.similarity import _dot_sql

    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        a = rng.standard_normal(8)
        b = rng.standard_normal(8)
        if i % 4 == 0:
            a[:4] = -0.0  # force -0.0 products in the head terms
            b[0] = 0.0
        rows.append((i, [float(x) for x in a], [float(x) for x in b]))
    df = spark.createDataFrame(
        rows, "i long, a array<double>, b array<double>")
    df.createOrReplaceTempView("_dc_pairs")
    got = spark.sql(
        f"SELECT i, {_dot_chain('a', 'b', 8)} AS c, "
        f"{_dot_sql('spark', 'a', 'b', 8)} AS f FROM _dc_pairs").collect()
    for r in got:
        assert r["c"] == r["f"], r["i"]
