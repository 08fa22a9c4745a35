"""Distributed k-means clustering over embedding columns (engine
addition — the topic-clustering / corpus-partitioning operation a
100-TB curation pipeline runs over document embeddings, and the
coarse-quantizer trainer behind IVF similarity search).

Two tiers, mirroring the IVF quantizer split in `similarity`:

* ``kmeans_assign_sql`` / ``kmeans_step_sql`` — ONE Lloyd step in
  portable two-dialect SQL (assignment = argmin squared distance with
  ties to the lowest cid; update = per-dimension member mean).  With
  the deterministic pivot init (``vec_id % m = 0``) the entire step —
  quantizer included — is oracle-checkable end to end, the same
  contract as ``ann_topk_ivf_sql``.
* ``kmeans_fit_spark`` — the production trainer.  Per iteration it
  runs ONE ``mapInPandas`` scan over the corpus: each partition
  computes its vectors' nearest centroids with a numpy gemm
  (``x² + c² − 2·x·cᵀ`` against the closure-shipped k×d centroid
  matrix — the (n, k, d) broadcast-tensor form is gigabytes at
  (4096, 1000, 64)) and emits only its PARTIAL per-cluster sums,
  counts, and inertia in long form — ``partitions × k × (d+1)`` rows
  reach the final tiny aggregation, so the shuffle is bounded by the
  model size, never the corpus.  No join back to the embeddings, no
  row explosion.  The k×d centroid matrix itself is the bounded
  driver artifact inherent to Lloyd (like the reference's variogram
  parameters, GeoStatsSolvers.jl `src/solvers/kriging.jl:24` keeping
  the fitted model on the driver); everything that SCALES stays in
  the executors.

At 10¹²-row scale each iteration is one corpus scan + one
model-sized shuffle — this is the trainer ``ann_topk_ivf`` delegates
to (``trainer="spark"``) when the corpus outgrows the
sample-on-driver tier.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..session import sql_arg
from .similarity import DIM, _emb_double, _sqdist_sql


def _elem(dialect: str, arr: str, pos: str) -> str:
    """Array element at 0-based position `pos` (Spark brackets are
    0-based, DuckDB's 1-based)."""
    if dialect == "spark":
        return f"{arr}[{pos}]"
    return f"{arr}[{pos} + 1]"


def _assign_cte(dialect: str, emb_rel: str, pivot_mod: int, dim: int,
                cent_rel: str | None, raw: bool) -> str:
    """Shared WITH-prefix: `_emb0 (vec_id, e)` + `_a (vec_id, cid, d2)`
    — the Lloyd assignment under either the deterministic pivot
    quantizer or an external centroid relation ``(cid, c)``."""
    emb0 = (_emb_double(dialect, emb_rel, "e") if raw
            else f"(SELECT vec_id, e FROM {emb_rel})")
    cent = (f"SELECT vec_id AS cid, e AS c FROM _emb0 "
            f"WHERE vec_id % {pivot_mod} = 0"
            if cent_rel is None else f"SELECT cid, c FROM {cent_rel}")
    d2 = _sqdist_sql(dialect, "v.e", "c.c", dim)
    return f"""
WITH _emb0 AS (
  SELECT vec_id, e FROM {emb0} _e0
), _cent0 AS (
  {cent}
), _d2x AS (
  SELECT v.vec_id, c.cid, {d2} AS d2
  FROM _emb0 v CROSS JOIN _cent0 c
), _a AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cid) AS rk
    FROM _d2x
  ) _r WHERE rk = 1
)"""


def kmeans_assign_sql(dialect: str, emb_rel: str = "embeddings",
                      pivot_mod: int = 31, dim: int = DIM,
                      cent_rel: str | None = None,
                      round_digits: int | None = 6,
                      raw: bool = True) -> str:
    """``(vec_id, cid, d2_r)`` — each vector's nearest centroid and the
    (rounded) squared distance.  The distance fold is `_sqdist_sql`,
    summed left-to-right identically in both engines, so assignments
    (integer argmins over bit-identical doubles) are hash-exact;
    ``round_digits=None`` returns the raw double for engine callers."""
    d2 = ("d2" if round_digits is None
          else f"round(d2, {int(round_digits)})")
    return (_assign_cte(dialect, emb_rel, pivot_mod, dim, cent_rel, raw)
            + f"\nSELECT vec_id, cid, {d2} AS d2_r FROM _a")


def kmeans_step_sql(dialect: str, emb_rel: str = "embeddings",
                    pivot_mod: int = 31, dim: int = DIM,
                    cent_rel: str | None = None,
                    assign_rel: str | None = None,
                    raw: bool = True) -> str:
    """One full Lloyd update in portable SQL: ``(cid, pos, size,
    c_new_r)`` — the new centroid value per (cluster, dimension) as the
    member mean, long form (one scalar row per dimension; k×d rows —
    the model, not the corpus).  Clusters that captured no members
    don't appear (the trainer keeps their previous centroid; the SQL
    form states only what the data determines).

    ``assign_rel``: optional pre-materialized `kmeans_assign_sql`
    relation — the Spark gate entry passes a cached view because Spark
    inlines CTEs and would otherwise run the O(n·k) distance fold once
    per reference (the `ivf_ranked_sql` lesson, 2 BNLJ measured);
    DuckDB evaluates the CTE once, so the oracle keeps the inline form.
    Means are rounded to 6: the per-cluster sums are the only
    aggregation-order-dependent floats in the step (the assignment
    itself is bit-identical), and ulp noise sits ~1e-13 relative."""
    if assign_rel is not None:
        prefix = f"""
WITH _emb0 AS (
  SELECT vec_id, e FROM {(_emb_double(dialect, emb_rel, 'e') if raw
                          else f'(SELECT vec_id, e FROM {emb_rel})')} _e0
), _a AS (
  SELECT vec_id, cid FROM {assign_rel}
)"""
    else:
        prefix = _assign_cte(dialect, emb_rel, pivot_mod, dim, cent_rel,
                             raw)
    elem = _elem(dialect, "v.e", "p.pos")
    return prefix + f"""
SELECT a.cid, p.pos,
       COUNT(*) AS size,
       round(AVG({elem}), 6) + 0.0 AS c_new_r
FROM _a a
JOIN _emb0 v ON v.vec_id = a.vec_id
CROSS JOIN (SELECT id AS pos FROM range({dim}) AS _r(id)) p
GROUP BY a.cid, p.pos"""


@dataclass
class KMeansResult:
    """`centroids`: (k, d) float64; `sizes`: (k,) int64 member counts at
    the LAST assignment; `inertia`: Σ min-d² at the last assignment
    (computed against the centroids that PRODUCED it, i.e. one step
    behind `centroids` — the standard Lloyd bookkeeping); `n_iter`:
    update steps actually run (early stop on centroid convergence)."""

    centroids: "object"
    sizes: "object"
    inertia: float
    n_iter: int


def _step_partials(emb_df, cent, dim: int):
    """One Lloyd iteration's distributed work: a mapInPandas over the
    (vec_id, e) relation emitting per-PARTITION partial sums/counts/
    inertia in long form ``(cid, pos, psum, pcnt)`` — pos = d is the
    inertia slot.  Output is bounded at partitions × k × (d+1) rows."""
    import numpy as np
    import pandas as pd

    C = np.ascontiguousarray(np.asarray(cent, dtype=np.float64))
    k = len(C)
    c2 = (C * C).sum(axis=1)

    def fn(batches):
        S = np.zeros((k, dim))
        cnt = np.zeros(k, dtype=np.int64)
        inert = np.zeros(k)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            X = np.asarray(pdf["e"].tolist(), dtype=np.float64)
            x2 = (X * X).sum(axis=1)
            D = x2[:, None] + c2[None, :] - 2.0 * (X @ C.T)
            lab = D.argmin(axis=1)  # ties -> lowest cid, like the SQL
            np.add.at(S, lab, X)
            cnt += np.bincount(lab, minlength=k)
            # clamp: the gemm form can go ~-1e-12 on exact hits
            d2 = np.maximum(D[np.arange(len(X)), lab], 0.0)
            inert += np.bincount(lab, weights=d2, minlength=k)
        if not seen:
            return
        live = np.flatnonzero(cnt)
        rows = {
            "cid": np.repeat(live, dim + 1).astype(np.int64),
            "pos": np.tile(np.arange(dim + 1, dtype=np.int64),
                           len(live)),
            "psum": np.concatenate(
                [np.concatenate([S[j], [inert[j]]]) for j in live]
            ) if len(live) else np.zeros(0),
            "pcnt": np.repeat(cnt[live], dim + 1).astype(np.int64),
        }
        yield pd.DataFrame(rows)

    return emb_df.mapInPandas(fn, "cid long, pos long, psum double, "
                                  "pcnt long")


def kmeans_fit_spark(spark, emb_df, n_centroids: int | None = None,
                     iters: int = 8, seed: int = 0,
                     sample_cap: int = 4096, dim: int = DIM,
                     init=None, tol: float = 0.0) -> KMeansResult:
    """Distributed Lloyd k-means (see the module docstring for the
    per-iteration shape).  ``init``: explicit (k, d) starting centroids
    (the parity tests pass the numpy trainer's); default draws the same
    bounded hash-mod sample as ``ann_topk_ivf`` and seeds from it the
    way ``kmeans_centroids_np`` does, so the two tiers start identically
    on the same corpus.  Early-stops when the max per-coordinate
    centroid shift is ≤ ``tol``."""
    import numpy as np

    from ..planner import choose_ivf

    embd = spark.sql(
        f"SELECT vec_id, e FROM {_emb_double('spark', '{emb}', 'e')} _t",
        emb=sql_arg(emb_df)).persist()
    try:
        n = embd.count()
        if n == 0:
            raise ValueError("kmeans_fit_spark: empty embedding relation")
        if n_centroids is None:
            n_centroids = choose_ivf(n)[0]
        if init is not None:
            cent = np.asarray(init, dtype=np.float64).copy()
            n_centroids = len(cent)
        else:
            step = max(1, -(-n // sample_cap))
            sample = (
                embd.selectExpr("vec_id", "e")
                .where(f"pmod(hash(vec_id), {step}) = 0")
                .orderBy("vec_id").limit(int(sample_cap)).collect()
            )
            vecs = np.asarray([r["e"] for r in sample], dtype=np.float64)
            if n_centroids >= len(vecs):
                cent = vecs.copy()
                n_centroids = len(cent)
            else:
                rng = np.random.default_rng(seed)
                cent = vecs[rng.choice(len(vecs), n_centroids,
                                       replace=False)].copy()
        from pyspark.sql import functions as F

        sizes = np.zeros(n_centroids, dtype=np.int64)
        inertia = float("nan")
        it = 0
        for it in range(1, iters + 1):
            # pcnt is constant across a partition-partial's pos rows, so
            # sum(pcnt) grouped on (cid, pos) is the cluster's TOTAL
            # member count (each partition contributes its count exactly
            # once per pos slot)
            rows = (_step_partials(embd, cent, dim)
                    .groupBy("cid", "pos")
                    .agg(F.sum("psum").alias("s"),
                         F.sum("pcnt").alias("c"))
                    .collect())
            sums = np.zeros((n_centroids, dim))
            cnts = np.zeros(n_centroids, dtype=np.int64)
            inert = 0.0
            for r in rows:
                j, p = int(r["cid"]), int(r["pos"])
                if p == dim:
                    inert += float(r["s"])
                    cnts[j] = int(r["c"])
                else:
                    sums[j, p] = float(r["s"])
            live = cnts > 0
            new = cent.copy()  # empty clusters keep their centroid
            new[live] = sums[live] / cnts[live, None]
            inertia = inert  # against the centroids that produced it
            sizes = cnts
            shift = float(np.max(np.abs(new - cent)))
            cent = new
            if shift <= tol:
                break
    finally:
        embd.unpersist()
    return KMeansResult(centroids=cent, sizes=sizes, inertia=inertia,
                        n_iter=it)


def kmeans_assign_spark(spark, emb_rel: str = "embeddings",
                        pivot_mod: int = 31, dim: int = DIM):
    """Kernel twin of `kmeans_assign_sql` (r7): (vec_id, cid, d2) via
    `vecops.ranked_cells` at nprobe=1 — the same sequential-fold d2 and
    (d2, cid) argmin, numpy-vectorized.  The caller applies the SQL
    ``round(d2, 6)`` (rounding never happens in Python); the SQL
    builder above remains the oracle's form."""
    from .similarity import ivf_ranked_spark  # noqa: F401  (doc link)
    from .vecops import ranked_cells

    import numpy as np

    cent = spark.sql(
        f"SELECT vec_id, embedding FROM {emb_rel} "
        f"WHERE vec_id % {int(pivot_mod)} = 0 ORDER BY vec_id"
    ).toPandas()
    cids = cent["vec_id"].to_numpy(dtype=np.int64)
    C = np.asarray(list(cent["embedding"]), dtype=np.float64)
    return ranked_cells(spark, spark.table(emb_rel), cids, C,
                        nprobe=1, keep_d2=True)
