"""Character-trigram Naive-Bayes language identification — a TRAINED
model, not a marker-word heuristic (which `textstats.langid_sql` remains,
as the cheap projection-only tier).

Public technique (character n-gram NB text categorization, Cavnar &
Trenkle 1994 lineage): per-language trigram log-probabilities with
Laplace smoothing, document score = log prior + Σ log p(trigram | lang),
prediction = argmax.  Everything — training AND scoring — is expressed
in portable SQL over the corpus, so the DuckDB oracle runs the identical
computation and the gate compares hash-exactly:

* counts are exact integer aggregations (identical on both engines);
* log-probabilities are quantized to integer MICRO-UNITS
  (``CAST(round(ln(p) * 1e6) AS BIGINT)``) so per-document scores are
  BIGINT sums — order-independent, no floating accumulation to diverge
  between engines (one ``ln`` per distinct (lang, trigram), not per
  occurrence).  Residual caveat: the quantization removes ACCUMULATION
  divergence, not per-``ln`` libm divergence — if Java's ``Math.log``
  and the platform libm round a particular input to adjacent doubles
  AND ``ln(p)·1e6`` sits within that ulp of a half-integer, one lp
  differs by 1 micro-unit.  For a fixed corpus this is deterministic
  (the gate either passes forever or fails immediately, never flakes),
  and no such point exists in the shipped corpus;
* DuckDB's ``sum(BIGINT) → HUGEINT`` is cast back to BIGINT on both
  sides (schema parity);
* argmax tie-breaks deterministically: highest score, then
  lexicographically smallest language
  (``ROW_NUMBER() OVER (... ORDER BY score_micro DESC, lang)``).

Scale shape: the model is pruned — distributedly, before any driver
materialization — to the ``vocab_topk`` (default 300, Cavnar &
Trenkle's profile size) most frequent trigrams per language, so it is
≤ |langs| × K rows on ANY corpus size: a 100-TB multilingual crawl with
tens of millions of distinct CJK/emoji/noise trigrams produces exactly
the same driver-sized artifact as the sf0.01 fixture.  The pruned model
broadcasts against the exploded trigram-occurrence stream; the
occurrence explode and both aggregations are ordinary shuffles keyed on
(lang, trigram) / (doc_id, lang), AQE-splittable.  Trigrams outside a
language's top-K score at the Laplace floor (lp0) — the same treatment
as trigrams never seen in training.

Why the engine ships BOTH tiers: the heuristic scores a row with zero
joins (projection-only — the right tool inside a quality-filter scan);
the trained model is the real classifier.  On the synthetic testdata
corpus the ``lang`` label is text-independent (documented in SURVEY §6),
so accuracy there is meaningless by construction — the REALISM evidence
is `tests/test_webtext.py::test_langid_model_accuracy`, which trains on
a held-out split of a deterministic multi-script corpus and asserts
≥ 0.95 held-out accuracy; the GATE entry anchors cross-engine exactness
of the full train + score pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..session import sql_arg


def trigram_select(dialect: str, rel: str, cols: str,
                   text: str = "text") -> str:
    """One-row-per-trigram-occurrence SELECT: ``(cols..., tg)``.

    Spark dialect explodes POSITIONS (an int array) and applies one
    ``substring`` after the explode — measured 10× faster than exploding
    a transformed string array (4.3 s → 0.4 s on 1.5M trigrams at
    sf0.1; the array-of-strings form materializes a boxed 300-element
    array per document before the generator runs).  The CASE guard
    mirrors dedup.shingles_spark: Spark's ``sequence(1, 0)`` is the
    DESCENDING [1, 0], which would fabricate trigrams for sub-3-char
    docs.  DuckDB keeps the list_transform/unnest spelling (identical
    values; DuckDB's lists are cheap and its oracle runs once)."""
    if dialect == "spark":
        return (
            f"SELECT {cols}, substring({text}, pos, 3) AS tg FROM {rel} "
            f"LATERAL VIEW explode(CASE WHEN length({text}) >= 3 THEN "
            f"sequence(1, length({text}) - 2) ELSE array() END) _t AS pos"
        )
    return (
        f"SELECT {cols}, unnest(list_transform("
        f"generate_series(1, greatest(0, length({text}) - 2)), "
        f"i -> {text}[i:i+2])) AS tg FROM {rel}"
    )


DEFAULT_VOCAB_TOPK = 300


def pruned_count_sql(dialect: str, train_rel: str,
                     vocab_topk: int | None) -> str:
    """The ``(lang, tg, c)`` trigram-count relation, pruned to the
    ``vocab_topk`` most frequent trigrams PER LANGUAGE (ties broken by
    trigram ascending — deterministic on both engines).

    This is Cavnar & Trenkle (1994)'s actual method — they rank-profile
    the top ~300 n-grams per category — and it is the bound that keeps
    the model driver-sized: without it the count table is |langs| ×
    |vocab|, and on a 100-TB multilingual corpus CJK/emoji/noise
    trigrams push |vocab| into the tens of millions; with it the model
    is ≤ |langs| × K rows however large the corpus grows.  Pruning the
    tail also denoises the classifier (hapax trigrams carry no stable
    signal).  ``vocab_topk=None`` disables the cap (test/analysis use
    only)."""
    base = (
        f"SELECT lang, tg, count(*) AS c FROM "
        f"({trigram_select(dialect, train_rel, 'lang')}) _t "
        f"GROUP BY lang, tg"
    )
    if vocab_topk is None:
        return base
    return (
        f"SELECT lang, tg, c FROM ("
        f"SELECT lang, tg, c, ROW_NUMBER() OVER (PARTITION BY lang "
        f"ORDER BY c DESC, tg) AS _rk FROM ({base}) _c0) _c1 "
        f"WHERE _rk <= {int(vocab_topk)}"
    )


# the model CTE chain and the Laplace-floor expression, shared VERBATIM
# by `_score_ctes` (the oracle-hashed scoring text) and
# `_madj_collect_sql` (the kernel tier's engine-evaluated dlp table) —
# one spelling, so the two can never drift apart
_MODEL_CTES = """_tot AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM _cnt GROUP BY lang
), _voc AS (
  SELECT count(DISTINCT tg) AS v FROM _cnt
), _model AS (
  SELECT c.lang, c.tg,
         CAST(round(ln((c.c + 1.0) / (t.n + v.v)) * 1000000) AS BIGINT)
           AS lp
  FROM _cnt c JOIN _tot t ON c.lang = t.lang CROSS JOIN _voc v
)"""

_LP0_EXPR = "CAST(round(ln(1.0 / (t.n + v.v)) * 1000000) AS BIGINT) AS lp0"


def _score_ctes(dialect: str, train_rel: str, score_rel: str,
                cnt_rel: str | None,
                vocab_topk: int | None,
                match_rel: str | None = None) -> str:
    """The shared train + score CTE chain (everything up to ``_ranked``)
    — `langid_model_sql` (argmax tail) and `lm_quality_sql` (fluency
    tail) differ only in their final SELECT.  See `langid_model_sql`
    for the full design notes.

    ``match_rel``: optional pre-computed ``(doc_id, lang, msum)``
    relation substituting the ``_tgs``/``_madj``/``_match`` sub-chain
    (the kernel tier — see `match_scores_kernel`); the ORACLE never
    passes it, so the oracle text is unchanged."""
    cnt_src = (
        f"SELECT lang, tg, c FROM {cnt_rel}" if cnt_rel else
        pruned_count_sql(dialect, train_rel, vocab_topk)
    )
    if match_rel is not None:
        match_chain = f"""_match AS (
  SELECT doc_id, lang, msum FROM {match_rel}
)"""
    else:
        tgs_src = trigram_select(dialect, score_rel, "doc_id")
        match_chain = f"""_tgs AS (
  {tgs_src}
), _madj AS (
  SELECT m.lang, m.tg, m.lp - f.lp0 AS dlp
  FROM _model m JOIN _floor f ON m.lang = f.lang
), _match AS (
  SELECT /*+ BROADCAST(a) */
         g.doc_id, a.lang, CAST(sum(a.dlp) AS BIGINT) AS msum
  FROM _tgs g JOIN _madj a ON a.tg = g.tg
  GROUP BY g.doc_id, a.lang
)"""
    return f"""
WITH _cnt AS (
  {cnt_src}
), {_MODEL_CTES}, _floor AS (
  SELECT t.lang,
         {_LP0_EXPR},
         CAST(round(ln(d.nd / td.td) * 1000000) AS BIGINT) AS pr
  FROM _tot t
  JOIN (SELECT lang, CAST(count(*) AS DOUBLE) AS nd
        FROM {train_rel} GROUP BY lang) d ON t.lang = d.lang
  CROSS JOIN _voc v
  CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS td
              FROM {train_rel}) td
), {match_chain}, _full AS (
  -- ntg (the per-doc trigram count) is a pure projection of the score
  -- corpus (length - 2, floored at 0): an earlier _doc_n CTE derived it
  -- by re-aggregating _tgs, and Spark's CTE inlining ran the score-side
  -- explode TWICE (once there, once in _match)
  SELECT d.doc_id, f.lang, d.ntg,
         d.ntg * f.lp0
              + coalesce(m.msum, CAST(0 AS BIGINT)) AS flu_micro,
         f.pr + d.ntg * f.lp0
              + coalesce(m.msum, CAST(0 AS BIGINT)) AS score_micro
  FROM (SELECT doc_id,
               CAST(greatest(0, length(text) - 2) AS BIGINT) AS ntg
        FROM {score_rel}) d
  CROSS JOIN _floor f
  LEFT JOIN _match m ON m.doc_id = d.doc_id AND m.lang = f.lang
), _ranked AS (
  SELECT doc_id, lang, ntg, flu_micro, score_micro,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, lang) AS rk
  FROM _full
)"""


def langid_model_sql(dialect: str, train_rel: str = "documents",
                     score_rel: str | None = None,
                     cnt_rel: str | None = None,
                     vocab_topk: int | None = DEFAULT_VOCAB_TOPK,
                     match_rel: str | None = None) -> str:
    """One self-contained query: train on ``train_rel`` (doc_id, text,
    lang), score every ``score_rel`` document (defaults to the training
    corpus, the exactness-gate shape) → (doc_id, pred_lang, score_micro).

    Sub-3-char documents yield no trigrams; the LEFT JOIN from the score
    corpus keeps them (one row per input document — the coverage
    contract every per-doc operator here honours), scored by prior
    alone.  A language whose every training doc is sub-3-char has no
    trigram statistics and drops out of the candidate set.

    Scoring algebra: a document's score under language *l* is
    ``prior_l + n_tg·lp0_l + Σ_matched (lp(l,t) − lp0_l)`` — identical
    (in exact BIGINT arithmetic) to summing ``coalesce(lp, lp0)`` over
    every trigram, but expressed with EQUI-joins only: the naive
    per-occurrence CROSS JOIN against the language list invited Catalyst
    to broadcast the multi-million-row exploded side (measured 19 s at
    sf0.1 vs 2 s for this form; the only remaining cross join is
    score-docs × languages, which is |docs| × |langs| rows).

    ``cnt_rel``: optional pre-computed ``(lang, tg, c)`` trigram-count
    relation, assumed ALREADY pruned to the caller's ``vocab_topk``
    (the wrapper prunes distributedly before materializing).  The count
    table is the model's natural materialization point — BOUNDED at
    |langs| × vocab_topk rows however large the corpus — and everything
    upstream derives from it, so the `langid_model` wrapper computes it
    in ONE explode scan and lands it as a LOCAL relation (a persist is
    a trap here: Spark re-inlines CTEs, and dropping the view that
    binds a persisted frame to the scoring query uncaches it — measured
    as the full explode re-running five times inside one scoring
    query).  Values are identical either way; the DuckDB oracle
    keeps the inline CTEs (with the identical top-K window), which
    DuckDB evaluates once."""
    score_rel = score_rel or train_rel
    ctes = _score_ctes(dialect, train_rel, score_rel, cnt_rel, vocab_topk,
                       match_rel)
    return (ctes + "\nSELECT doc_id, lang AS pred_lang, score_micro "
            "FROM _ranked WHERE rk = 1")


# per-trigram fluency threshold (micro-units of ln p): fluent text under
# its own trained model sits near ln(1/200) ≈ -5.3e6 per trigram at any
# corpus size (the per-trigram probability of in-distribution text is a
# property of the LANGUAGE, not the corpus), while out-of-model text
# scores at the Laplace floor ln(1/(n+V)) — ≤ -9e6 once the training
# corpus has ≥ 8k trigrams, and falling as it grows.  −7e6 separates the
# two regimes with ≥ 1.2e6 margin on every shipped scale factor
# (measured sf0.001: clean ≥ -5.54e6 / cipher ≤ -9.64e6; sf0.01: clean
# ≥ -5.67e6 / cipher ≤ -9.49e6).
DEFAULT_FLUENCY_MICRO = -7_000_000


def lm_quality_sql(dialect: str, train_rel: str = "documents",
                   score_rel: str | None = None,
                   cnt_rel: str | None = None,
                   vocab_topk: int | None = DEFAULT_VOCAB_TOPK,
                   threshold_micro: int = DEFAULT_FLUENCY_MICRO,
                   match_rel: str | None = None) -> str:
    """Model-based quality filtering (the perplexity tier of the quality
    ladder; `textstats._text_quality_sql` is the heuristic tier): score
    every ``score_rel`` document by its NB log-likelihood under the best
    trained language model, normalized per trigram — the SQL analogue of
    an LM-perplexity filter (low average log-prob ⇔ high perplexity ⇔
    gibberish / boilerplate / wrong-script text).

    Output: (doc_id, pred_lang, ntg, fluency_micro, low_quality).
    ``fluency_micro`` is the PRIOR-FREE part of the NB score
    (``ntg·lp0 + Σ(lp−lp0)`` in integer micro-units — the prior is a
    per-doc constant that would let class imbalance leak into a fluency
    measure); ``low_quality = 1`` iff the document yields no trigrams OR
    ``fluency_micro < threshold_micro · ntg`` — pure BIGINT arithmetic,
    no division, so the flag is hash-exact across engines.  The argmax
    language (and its tie-break) is IDENTICAL to `langid_model_sql` —
    both tails share `_score_ctes`."""
    score_rel = score_rel or train_rel
    ctes = _score_ctes(dialect, train_rel, score_rel, cnt_rel, vocab_topk,
                       match_rel)
    t = int(threshold_micro)
    return (
        ctes
        + f"""
SELECT doc_id, lang AS pred_lang, ntg, flu_micro AS fluency_micro,
       CASE WHEN ntg = CAST(0 AS BIGINT)
                 OR flu_micro < {t} * ntg THEN 1 ELSE 0 END AS low_quality
FROM _ranked WHERE rk = 1"""
    )


def langid_model(spark, train_df: DataFrame,
                 score_df: DataFrame | None = None,
                 vocab_topk: int | None = DEFAULT_VOCAB_TOPK,
                 model: DataFrame | None = None) -> DataFrame:
    """Library wrapper: train on ``train_df`` (doc_id, text, lang), score
    ``score_df`` (defaults to the training corpus).  Computes the
    (lang, tg, c) count table in one explode scan, prunes it
    DISTRIBUTEDLY to the ``vocab_topk`` most frequent trigrams per
    language (Cavnar–Trenkle; the enforced bound that keeps the collect
    ≤ |langs| × K rows on any corpus size), lands it as a LOCAL relation
    (the model's natural materialization point — no persist, so nothing
    for the query's view drop to uncache), then runs the scoring query
    against it."""
    return _run_with_local_model(
        spark, train_df, score_df, vocab_topk,
        lambda trel, srel, crel, mrel: langid_model_sql(
            "spark", trel, srel, cnt_rel=crel, match_rel=mrel),
        model=model,
    )


def lm_quality(spark, train_df: DataFrame,
               score_df: DataFrame | None = None,
               vocab_topk: int | None = DEFAULT_VOCAB_TOPK,
               threshold_micro: int = DEFAULT_FLUENCY_MICRO,
               model: DataFrame | None = None) -> DataFrame:
    """Library wrapper for `lm_quality_sql` — same local-model
    materialization as `langid_model` (one explode scan trains both;
    ``model=`` from `train_trigram_model` skips it entirely)."""
    return _run_with_local_model(
        spark, train_df, score_df, vocab_topk,
        lambda trel, srel, crel, mrel: lm_quality_sql(
            "spark", trel, srel, cnt_rel=crel,
            threshold_micro=threshold_micro, match_rel=mrel),
        model=model,
    )


def _spread(df):
    # a small corpus read from one parquet file arrives as ONE
    # partition, and the explode → model join → per-doc aggregation
    # chain then runs single-threaded (measured: that stage was 8.7
    # of the ~7-9 s per call at sf0.1).  Repartition narrow inputs
    # up to the session's parallelism; wide inputs pass through
    # untouched (no gratuitous shuffle at scale).
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def train_trigram_model(spark, train_df: DataFrame,
                        vocab_topk: int | None = DEFAULT_VOCAB_TOPK
                        ) -> DataFrame:
    """Train once, score many: the pruned ``(lang, tg, c)`` count table
    as a LOCAL DataFrame (≤ |langs| × vocab_topk rows on any corpus
    size — the only part of the model whose computation scans text).
    Pass it as ``model=`` to `langid_model` / `lm_quality` to skip the
    per-call training explode; the caller owns consistency (the same
    ``vocab_topk`` story applies to every scorer reusing the model).
    Priors and the Laplace floor are NOT part of this artifact — they
    derive from cheap column aggregates of the train corpus inside the
    scoring query."""
    rows = spark.sql(pruned_count_sql("spark", "{train}", vocab_topk),
                     train=sql_arg(_spread(train_df))).collect()
    if not rows:
        # an empty model would make the scoring cross-join emit ZERO
        # rows — silently violating the one-row-per-scored-document
        # contract.  A corpus where no document has 3 characters cannot
        # train a trigram model; say so.
        raise ValueError(
            "training corpus yields no trigrams (every document is "
            "shorter than 3 characters) — cannot train langid_model"
        )
    return spark.createDataFrame(rows, "lang string, tg string, c bigint")


def _madj_collect_sql(cnt_rel: str) -> str:
    """``(lang, tg, dlp)`` over the local count relation — the engine's
    OWN evaluation of `_score_ctes`'s ``_madj`` sub-chain, built from
    the SAME `_MODEL_CTES`/`_LP0_EXPR` fragments (one spelling; the
    collected BIGINTs are exactly the values the inline SQL would join
    against — a driver-side ``math.log`` re-implementation would race
    Java's ``Math.log`` on the final ulp).  Bounded: ≤ |langs| ×
    vocab_topk rows.  `test_webtext` additionally pins row equality of
    kernel-vs-inline scoring end to end."""
    return f"""
WITH _cnt AS (
  SELECT lang, tg, c FROM {cnt_rel}
), {_MODEL_CTES}, _floor AS (
  SELECT t.lang,
         {_LP0_EXPR}
  FROM _tot t CROSS JOIN _voc v
)
SELECT m.lang, m.tg, m.lp - f.lp0 AS dlp
FROM _model m JOIN _floor f ON m.lang = f.lang"""


def match_scores_kernel(spark, score_df: DataFrame, madj_rows,
                        langs: list[str]) -> DataFrame:
    """``(doc_id, lang, msum)`` — the ``_match`` CTE (per-document sum
    of matched-trigram ``dlp`` per language) computed by a vectorized
    kernel instead of the explode → broadcast-join → aggregate chain
    (r7 second session; guide §4.2: measured the SQL sub-chain at
    3.1 s / entry at sf1.0 where the explode alone is 0.95 s — the
    kernel removes the 15M-occurrence join+agg).

    EXACTNESS BY CONSTRUCTION, not FP replay: every ``dlp`` is a
    pre-collected BIGINT (engine-evaluated, `_madj_collect_sql`) and
    ``msum`` is an integer sum — order-independent, so any grouping the
    kernel uses yields the identical BIGINT the SQL emits.  Trigrams
    are code-point triples (`substring` counts code points on Spark and
    DuckDB, as does Python) packed into int64 (3 × 21 bits — the full
    Unicode range) via a utf-32 view, so multi-byte text matches the
    SQL byte-for-byte; docs shorter than 3 code points yield no
    positions (the CASE guard's semantics), and inner-join semantics
    are preserved by emitting only ``msum > 0`` rows (``dlp =
    ln(c+1)·1e6 rounded ≥ 693147 > 0`` for any model row, so a zero
    accumulator means no match).

    Precondition: ``score_df`` carries one row per ``doc_id`` (the
    module's per-document coverage contract — every corpus here
    satisfies it).  The inline SQL's GROUP BY would merge duplicate
    doc_ids across the whole corpus; the kernel accumulates per input
    row, so duplicated ids would emit one row each.  An empty
    ``madj_rows`` yields an empty relation (matching the inline
    chain's empty inner join; `train_trigram_model` refuses to build
    such a model in the first place).
    """
    import numpy as np
    import pandas as pd

    L = len(langs)
    lang_ix = {lg: j for j, lg in enumerate(langs)}

    def _pack(tg: str) -> int:
        return (ord(tg[0]) << 42) | (ord(tg[1]) << 21) | ord(tg[2])

    mtg = np.unique(np.array([_pack(r.tg) for r in madj_rows],
                             dtype=np.int64))
    D = np.zeros((len(mtg), L), dtype=np.int64)
    for r in madj_rows:
        D[int(np.searchsorted(mtg, _pack(r.tg))), lang_ix[r.lang]] = r.dlp

    def fn(batches):
        empty = pd.DataFrame({
            "doc_id": pd.Series(dtype="int64"),
            "lang": pd.Series(dtype="object"),
            "msum": pd.Series(dtype="int64"),
        })
        for b in batches:
            texts = ["" if t is None else t for t in b["text"].tolist()]
            n = len(texts)
            if n == 0 or len(mtg) == 0:
                yield empty
                continue
            lens = np.fromiter((len(t) for t in texts), dtype=np.int64,
                               count=n)
            total = int(lens.sum())
            if total < 3:
                yield empty
                continue
            buf = np.frombuffer(
                "".join(texts).encode("utf-32-le"),
                dtype=np.uint32).astype(np.int64)
            ends = np.cumsum(lens)
            dpos = np.repeat(np.arange(n), lens)[: total - 2]
            g = np.arange(total - 2)
            ok = (g + 3) <= ends[dpos]
            gs, ds = g[ok], dpos[ok]
            codes = (buf[gs] << 42) | (buf[gs + 1] << 21) | buf[gs + 2]
            ix = np.searchsorted(mtg, codes)
            ix[ix == len(mtg)] = 0
            hit = mtg[ix] == codes
            ds, ix = ds[hit], ix[hit]
            acc = np.zeros((n, L), dtype=np.int64)
            for j in range(L):
                w = D[ix, j]
                nz = w != 0
                if nz.any():
                    wz = w[nz]
                    # float64 bincount sums integers exactly only while
                    # every partial sum stays below 2^53; Σ|w| over the
                    # column bounds them all
                    if int(np.abs(wz).sum()) >= 2**53:
                        raise OverflowError(
                            "match_scores_kernel: |dlp| sum of a batch "
                            "column reaches 2^53; float64 accumulation "
                            "would round msum")
                    acc[:, j] = np.bincount(
                        ds[nz], weights=wz.astype(np.float64),
                        minlength=n).astype(np.int64)
            docs = b["doc_id"].to_numpy(dtype=np.int64)
            dd, ll = np.nonzero(acc)
            yield pd.DataFrame({
                "doc_id": docs[dd],
                "lang": np.array(langs, dtype=object)[ll],
                "msum": acc[dd, ll],
            })

    return score_df.select("doc_id", "text").mapInPandas(
        fn, "doc_id long, lang string, msum long")


def _run_with_local_model(spark, train_df: DataFrame,
                          score_df: DataFrame | None,
                          vocab_topk: int | None, build_sql,
                          model: DataFrame | None = None) -> DataFrame:
    train = _spread(train_df)
    scored = _spread(score_df) if score_df is not None else train
    local = (model if model is not None
             else train_trigram_model(spark, train_df, vocab_topk))
    # kernel tier: the model is local by construction here (≤ |langs| ×
    # vocab_topk rows), so collect its engine-evaluated dlp table and
    # score the corpus with `match_scores_kernel`; the plain-SQL chain
    # remains the oracle and the no-local-model form of the builders
    madj = spark.sql(_madj_collect_sql("{cnt}"),
                     cnt=sql_arg(local)).collect()
    langs = sorted({r.lang for r in madj})
    match = match_scores_kernel(spark, scored, madj, langs)
    # spark.sql analyses the query before it drops the argument views;
    # `sql_arg` keeps a caller's persisted corpus or model cached
    return spark.sql(build_sql("{train}", "{score}", "{cnt}", "{match}"),
                     train=sql_arg(train), score=sql_arg(scored),
                     cnt=sql_arg(local), match=match)
