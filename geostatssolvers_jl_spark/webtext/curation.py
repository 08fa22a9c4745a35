"""End-to-end corpus-curation pipeline operators.

The reference is a geostatistical solver library; a user running it over
a web-scale corpus still needs the surrounding training-data pipeline —
language ID → quality gate → exact dedup → split assignment → manifest.
This module composes the existing single-purpose operators
(``textstats``, ``urls``, the dedup family) into ONE declarative SQL
pipeline whose physical plan is what a 100-TB run wants:

- **one wide shuffle**, on ``md5(text)``, for the dedup window
  (``row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)``) —
  keeping every per-doc feature column through the window instead of
  aggregating survivors and joining back saves the second doc_id
  shuffle a groupBy+join formulation would pay;
- every per-doc feature (marker counts, token counts, split bucket) is
  a **projection** computed in the same codegen stage as the scan;
- the terminal aggregate is **langs × splits** rows — map-side partial
  aggregation makes the final shuffle negligible.

All SQL is two-dialect portable (length/replace/md5 arithmetic, no
regex) so the DuckDB oracle runs the identical text.
"""

from __future__ import annotations

from .textstats import (
    langid_best_expr,
    langid_score_cols,
    quality_ok_expr,
    token_count_expr,
)
from .urls import split_bucket_expr, split_case_expr


def _curated_docs_sql(dialect: str, docs_rel: str = "documents") -> str:
    """The shared per-doc relation: dedup rank + language + quality +
    split + token counts, one window over one projection."""
    bucket = split_bucket_expr(dialect)
    return (
        f"SELECT doc_id, lang, ok, split, n_tokens, n_bytes, _dup_rk "
        f"FROM (SELECT doc_id, {langid_best_expr()} AS lang, ok, split, "
        f"n_tokens, n_bytes, _dup_rk "
        f"FROM (SELECT doc_id, {langid_score_cols()}, "
        f"{quality_ok_expr()} AS ok, "
        f"{split_case_expr(bucket)} AS split, "
        f"{token_count_expr()} AS n_tokens, "
        f"length(text) AS n_bytes, "
        f"row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) "
        f"AS _dup_rk "
        f"FROM {docs_rel}) _f) _g"
    )


def curation_report_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Training-data manifest: per (lang, split) document/token/byte
    totals over the curated corpus (dedup survivors passing the quality
    gate).  Integer counts and BIGINT sums — hash-exact across engines
    by construction; the sums are CAST to BIGINT because DuckDB types an
    integer sum as HUGEINT."""
    return (
        f"SELECT lang, split, count(*) AS n_docs, "
        f"CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
        f"CAST(sum(n_bytes) AS BIGINT) AS total_bytes "
        f"FROM ({_curated_docs_sql(dialect, docs_rel)}) _c "
        f"WHERE _dup_rk = 1 AND ok = 1 "
        f"GROUP BY lang, split"
    )


def curation_funnel_sql(dialect: str, docs_rel: str = "documents") -> str:
    """Stage-by-stage retention counts (the pipeline observability row a
    production curation job checkpoints per partition): raw → unique →
    quality-passing → per-split.  Single row, all BIGINT."""
    keep = "_dup_rk = 1 AND ok = 1"
    return (
        f"SELECT count(*) AS n_raw, "
        f"CAST(sum(CASE WHEN _dup_rk = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_unique, "
        f"CAST(sum(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_curated, "
        f"CAST(sum(CASE WHEN {keep} AND split = 'train' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_train, "
        f"CAST(sum(CASE WHEN {keep} AND split = 'val' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_val, "
        f"CAST(sum(CASE WHEN {keep} AND split = 'test' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_test, "
        f"CAST(sum(CASE WHEN {keep} THEN n_tokens ELSE 0 END) AS BIGINT) "
        f"AS curated_tokens "
        f"FROM ({_curated_docs_sql(dialect, docs_rel)}) _c"
    )


def stratified_sample_sql(dialect: str, docs_rel: str = "documents",
                          k: int = 20, stratum: str = "lang") -> str:
    """Exact deterministic k-per-stratum sample: rank docs inside each
    stratum by md5-of-id (a uniform, corpus-growth-stable order — a new
    doc displaces at most one sampled doc in its own stratum) and keep
    the first ``k``.  Lowercase-hex md5 strings compare bytewise
    identically on both engines; doc_id breaks exact digest ties.

    Scale: one shuffle on the stratum key.  A skewed stratum (one lang
    dominating a crawl) concentrates its window on one task — for huge
    strata, pre-filter with a cheap bucket predicate (sample only
    ``split_bucket < ceil(100k/est_n)``-style) before ranking, which
    this operator's determinism makes safe to compose."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    key = f"md5(CAST(doc_id AS {s}))"
    return (
        f"SELECT doc_id, {stratum}, sample_rank FROM ("
        f"SELECT doc_id, {stratum}, row_number() OVER ("
        f"PARTITION BY {stratum} ORDER BY {key}, doc_id) AS sample_rank "
        f"FROM {docs_rel}) _r WHERE sample_rank <= {k}"
    )


def quantile_thresholds_sql(dialect: str, docs_rel: str = "documents",
                            value: str = "length(text)",
                            group: str = "lang",
                            probs: tuple[float, ...] = (0.5, 0.9, 0.99),
                            ) -> str:
    """EXACT per-group quantiles of a document statistic (the
    calibration step before a quality-threshold filter), via explicit
    nearest-rank arithmetic — ``v`` at ``row_number = ceil(p * n)`` —
    instead of each engine's quantile function (Spark ``percentile``
    interpolates, DuckDB ``quantile_cont`` likewise, and their halfway
    behaviors are exactly the cross-engine trap the contract bans).
    ``ceil`` yields integral doubles, so the BIGINT cast is exact on
    both engines (DuckDB rounds half-even on fractional casts — never
    triggered here).

    Scale: one shuffle on the group key + one in-partition sort — the
    same cost profile as any per-group ranking; a single global
    percentile over 10^12 rows would instead use an approximate sketch
    first and this exact form on the shortlisted tail."""
    cols = ", ".join(
        f"max(CASE WHEN rk = greatest(1, CAST(ceil({p} * n) AS BIGINT)) "
        f"THEN v END) AS p{int(round(p * 100))}"
        for p in probs
    )
    return (
        f"SELECT g AS {group}, {cols}, max(n) AS n FROM ("
        f"SELECT {group} AS g, v, "
        f"row_number() OVER (PARTITION BY {group} ORDER BY v) AS rk, "
        f"count(*) OVER (PARTITION BY {group}) AS n "
        f"FROM (SELECT {group}, {value} AS v FROM {docs_rel}) _v) _r "
        f"GROUP BY g"
    )
