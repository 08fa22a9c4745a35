"""Frequent-token detection at corpus scale: a Misra–Gries summary as
a CANDIDATE PRUNER with an exactness guarantee (public technique:
Misra & Gries 1982; merged-summary guarantee Agarwal et al. 2012,
"Mergeable Summaries").

The 100-TB problem: "which tokens appear in ≥ φ fraction of all token
occurrences" naively shuffles the ENTIRE vocabulary (billions of keys,
heavy skew).  The sketch path never does:

1. one ``mapInPandas`` scan — each partition keeps a Misra–Gries
   summary of size m = ceil(2/φ) and emits only its ≤ m (token,
   weight) rows; the summary property: a token with true partition
   count c is kept with weight ≥ c − n_part/m;
2. the partials are summed per token (a ≤ partitions × m relation —
   model-sized, not vocabulary-sized).  Summing per-partition
   lower bounds keeps the global guarantee: any token with total
   count ≥ φ·N has summed weight ≥ (φ − 1/m)·N > 0 when m > 1/φ,
   so EVERY above-threshold token survives as a candidate (false
   positives possible, false negatives impossible);
3. the candidate set (≤ partitions × m tokens, broadcast) is
   recounted EXACTLY in a second scan; ``HAVING count ≥ φ·N`` on
   exact counts discards the false positives.

The output therefore EQUALS the exact frequent-token relation — the
DuckDB oracle is a plain GROUP BY + HAVING — while the Spark plan
shuffles only sketch partials and candidate counts.
"""

from __future__ import annotations

from ..session import sql_arg


def _mg_reduce(counts, m: int):
    """Reduce a weight Series to a size-m Misra–Gries summary: subtract
    the (m+1)-th largest weight from every entry and drop non-positive
    ones (the Agarwal et al. 2012 mergeable-summary rule — exact counts
    are a summary of size |support|, and this is the batched equivalent
    of |support| − m decrement-all steps).  Vectorized; error per
    reduction ≤ (weight mass removed)/(m+1) ≤ n/(m+1)."""
    if len(counts) <= m:
        return counts
    kth = counts.nlargest(m + 1).iloc[m]
    out = counts - kth
    return out[out > 0]

def misra_gries_partials(token_df, m: int, token_col: str = "w"):
    """Per-partition Misra–Gries summaries → (token, weight) rows,
    ≤ m per partition.  Per Arrow batch: one vectorized value_counts
    (C-side), merged into the running summary by weight addition +
    the `_mg_reduce` rule — no per-token Python loop."""
    import pandas as pd

    if m < 1:
        raise ValueError("misra_gries_partials: m must be >= 1")

    def fn(batches):
        summ = None
        for pdf in batches:
            if not len(pdf):
                continue
            vc = pdf[token_col].astype(str).value_counts()
            summ = vc if summ is None else summ.add(vc, fill_value=0)
            summ = _mg_reduce(summ, m)
        if summ is None or not len(summ):
            return
        yield pd.DataFrame({
            "token": summ.index.to_numpy(dtype=object),
            "weight": summ.to_numpy("int64"),
        })

    return token_df.mapInPandas(fn, "token string, weight long")


def heavy_hitters(spark, docs_df, phi: float = 0.001,
                  text_col: str = "text", min_len: int = 1):
    """Exact frequent tokens via the sketch-prune + recount plan:
    (token, cnt) for every token whose occurrence count ≥ φ·N, N the
    total token count.  Guaranteed equal to the brute GROUP BY
    answer (module docstring)."""
    from pyspark.sql import functions as F

    from .ranking import word_select

    if not (0.0 < phi <= 1.0):
        raise ValueError("heavy_hitters: phi must be in (0, 1]")
    m = max(2, int(-(-2.0 // phi)))  # ceil(2/phi) — m > 1/phi
    words = word_select("spark", "{docs}", "doc_id", text_col)
    toks = spark.sql(
        f"SELECT w FROM ({words}) _w WHERE length(w) >= {int(min_len)}",
        docs=sql_arg(docs_df)).persist()
    try:
        n_total = toks.count()
        if n_total == 0:
            return spark.createDataFrame([], "token string, cnt long")
        thresh = phi * n_total
        cand = (misra_gries_partials(toks, m)
                .groupBy("token").agg(F.sum("weight").alias("lb"))
                # summed lower bounds: an above-threshold token's lb is
                # ≥ (phi − 1/m)·N > 0; keeping every positive-lb token
                # would also work, but the tighter prune is free
                .where(F.col("lb") > 0)
                .select("token"))
        # evaluate EAGERLY while toks is still cached: the result is
        # ≤ 1/φ rows by definition (a bounded driver artifact), and a
        # lazy return would re-tokenize the corpus per downstream
        # action after the finally-unpersist (review finding)
        rows = (toks.join(F.broadcast(cand),
                          toks.w == cand.token, "inner")
                .groupBy("token").agg(F.count("*").alias("cnt"))
                .where(F.col("cnt") >= F.lit(thresh))
                .collect())
        return spark.createDataFrame(rows, "token string, cnt long")
    finally:
        toks.unpersist()


def heavy_hitters_oracle_sql(dialect: str, rel: str = "documents",
                             phi: float = 0.001,
                             min_len: int = 1) -> str:
    """The brute-force twin: full GROUP BY + HAVING against the total
    token count — what the sketch plan must equal exactly."""
    from .ranking import word_select

    words = (f"SELECT w FROM ({word_select(dialect, rel, 'doc_id')}) _w "
             f"WHERE length(w) >= {int(min_len)}")
    return f"""
WITH _wds AS (
  {words}
), _n AS (
  SELECT CAST(count(*) AS DOUBLE) AS total FROM _wds
)
SELECT w AS token, CAST(count(*) AS BIGINT) AS cnt
FROM _wds CROSS JOIN _n
GROUP BY w, _n.total
HAVING count(*) >= {float(phi)!r} * _n.total"""
