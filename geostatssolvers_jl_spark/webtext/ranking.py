"""BM25 ranked retrieval over the document corpus — the relevance-scoring
primitive a training-data pipeline uses for targeted corpus slicing
(pull the documents most relevant to a topic / benchmark contamination
probe) and for quality-weighted sampling.

Public technique (Robertson–Sparck Jones BM25, the Okapi formulation
with the Lucene ``ln(1 + (N − df + .5)/(df + .5))`` non-negative idf).
Everything is one portable SQL pipeline, shared verbatim by the Spark
entry and the DuckDB oracle:

* tf / df / dl are exact integer aggregations cast to DOUBLE (integer
  values are exact in f64 and their sums are order-independent below
  2^53 — the casts buy identical expression typing on both engines,
  not approximation);
* the per-(doc, term) score — idf × tf-saturation — is quantized to
  integer MICRO-UNITS (``CAST(round(score · 1e6) AS BIGINT)``) before
  the per-document sum, so document scores are BIGINT sums: no floating
  accumulation order to diverge between engines.  The one libm call is
  ``ln`` (same residual-ulp caveat as `langmodel` — deterministic for a
  fixed corpus, never flaky);
* top-k is ORDER BY + LIMIT (a bounded TakeOrdered on Spark — no
  global window over the full corpus), ties broken by doc_id; the rank
  column is a ROW_NUMBER over the ≤ k survivors only.

Scale shape: the word explode filters to the query's terms inside the
generator stage (no shuffle carries non-query words); ``_tf`` shuffles
on (doc_id, term) — |terms| is tiny so this is ≈ one row per matching
document; ``df`` comes from a window over the already-tiny ``_tf``
(a separate ``GROUP BY term`` CTE re-derived ``_tf`` under Spark's CTE
inlining and ran the corpus explode TWICE — observed in the physical
plan); ``_st`` is a scalar broadcast; the final TakeOrdered is
per-partition top-k + driver merge of k·partitions rows.  Nothing grows
with vocabulary size, and the only corpus-sized relations are scans
(one tokenize pass + two cheap length-projection passes).
"""

from __future__ import annotations

from ..session import sql_arg

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def word_select(dialect: str, rel: str, cols: str,
                text: str = "text") -> str:
    """One-row-per-word-occurrence SELECT: ``(cols..., w)``.  Split on
    single spaces — the same delimiter contract as
    `textstats.token_count_expr` (runs of spaces yield empty-string
    tokens on both engines identically; IN-filters drop them)."""
    if dialect == "spark":
        return (
            f"SELECT {cols}, w FROM {rel} "
            f"LATERAL VIEW explode(split({text}, ' ')) _t AS w"
        )
    return (
        f"SELECT {cols}, unnest(string_split({text}, ' ')) AS w FROM {rel}"
    )


def bm25_rank_sql(dialect: str, terms: tuple[str, ...],
                  rel: str = "documents", k1: float = DEFAULT_K1,
                  b: float = DEFAULT_B, topk: int = 10) -> str:
    """Top-``topk`` documents by BM25 score for the bag-of-words query
    ``terms`` → (doc_id, score_micro, n_terms, rank).  ``n_terms`` is
    the number of distinct query terms the document matched."""
    from .textstats import token_count_expr

    if not terms:
        raise ValueError("bm25_rank_sql requires at least one query term")
    bad = [t for t in terms if "'" in t or " " in t or t == ""]
    if bad:
        raise ValueError(f"query terms must be single unquoted words: {bad}")
    in_list = ", ".join(f"'{t}'" for t in terms)
    k1, b = float(k1), float(b)
    return f"""
WITH _tf AS (
  SELECT doc_id, w AS term, CAST(count(*) AS DOUBLE) AS tf
  FROM ({word_select(dialect, rel, 'doc_id')}) _w
  WHERE w IN ({in_list}) GROUP BY doc_id, w
), _dl AS (
  SELECT doc_id, CAST({token_count_expr('text')} AS DOUBLE) AS dl
  FROM {rel}
), _st AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(dl) / count(*) AS avgdl FROM _dl
), _tfd AS (
  SELECT doc_id, term, tf,
         CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
  FROM _tf
), _sc AS (
  SELECT t.doc_id,
         CAST(round(ln(1.0 + (s.n - t.df + 0.5) / (t.df + 0.5))
              * (t.tf * ({k1} + 1.0))
              / (t.tf + {k1} * (1.0 - {b} + {b} * d.dl / s.avgdl))
              * 1000000) AS BIGINT) AS sc
  FROM _tfd t
  JOIN _dl d ON t.doc_id = d.doc_id
  CROSS JOIN _st s
), _agg AS (
  SELECT doc_id, CAST(sum(sc) AS BIGINT) AS score_micro,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM _sc GROUP BY doc_id
), _top AS (
  SELECT doc_id, score_micro, n_terms FROM _agg
  ORDER BY score_micro DESC, doc_id LIMIT {int(topk)}
)
SELECT doc_id, score_micro, n_terms,
       ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rank
FROM _top"""


def bm25_rank(spark, docs_df, terms: tuple[str, ...],
              k1: float = DEFAULT_K1, b: float = DEFAULT_B,
              topk: int = 10):
    """Library wrapper: rank ``docs_df`` (doc_id, text) for ``terms``."""
    # the text goes through str.format: a brace in a term is doubled
    esc = tuple(t.replace("{", "{{").replace("}", "}}") for t in terms)
    return spark.sql(bm25_rank_sql("spark", esc, "{docs}", k1, b, topk),
                     docs=sql_arg(docs_df))


def tfidf_topterms_sql(dialect: str, rel: str = "documents",
                       topk: int = 5, min_len: int = 2) -> str:
    """Per-document keyword extraction: the ``topk`` terms with the
    highest tf-idf → (doc_id, term, tf, score_micro, rank).

    Smooth idf (``ln((1 + N)/(1 + df)) + 1``) so corpus-universal terms
    still score, times raw tf; the per-(doc, term) score is quantized
    to integer micro-units BEFORE ranking (the `bm25_rank_sql` recipe),
    so ranking compares BIGINTs — no float accumulation order to
    diverge between engines; ties break on the term text.

    Scale shape: one tokenize pass; ``_tf`` shuffles on (doc_id, term)
    with map-side partial counts; df is a window over the distinct
    (doc, term) relation (one row per posting — the posting list, not
    the corpus); the final per-document top-k is a window keyed on
    doc_id.  Nothing is driver-sized and no relation exceeds the
    posting list."""
    n_docs = f"(SELECT CAST(count(*) AS DOUBLE) FROM {rel})"
    return f"""
WITH _tf AS (
  SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
  FROM ({word_select(dialect, rel, 'doc_id')}) _w
  WHERE length(w) >= {int(min_len)}
  GROUP BY doc_id, w
), _tfd AS (
  SELECT doc_id, term, tf,
         CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
  FROM _tf
), _sc AS (
  SELECT doc_id, term, tf,
         CAST(round((ln(({n_docs} + 1.0) / (df + 1.0)) + 1.0)
              * CAST(tf AS DOUBLE) * 1000000) AS BIGINT) AS score_micro
  FROM _tfd
), _rk AS (
  SELECT doc_id, term, tf, score_micro,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, term) AS rank
  FROM _sc
)
SELECT doc_id, term, tf, score_micro, rank
FROM _rk WHERE rank <= {int(topk)}"""


def tfidf_topterms(spark, docs_df, topk: int = 5, min_len: int = 2):
    """Library wrapper: per-document top-``topk`` tf-idf keywords."""
    return spark.sql(tfidf_topterms_sql("spark", "{docs}", topk, min_len),
                     docs=sql_arg(docs_df))
