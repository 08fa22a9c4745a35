"""Trained document-quality classification: logistic regression fitted
by distributed batch gradient descent — the linear-classifier quality
filter of a production curation pipeline (public technique: the
CCNet-style / GPT-3-paper quality filter is a linear model over
document features; plain batch GD on the convex logistic loss).

Engine design, mirroring `langmodel` (trained NB) and `clustering`
(Lloyd):

* the features are the engine's existing EXACT shared-SQL text
  statistics (length, whitespace tokens, mean word length, space
  ratio) — no string hashing (Spark's murmur and DuckDB's hash
  disagree, which would break the oracle twin);
* each GD iteration is ONE JVM-side aggregation over the persisted
  feature relation: the model enters as literal weights in a codegen
  expression (no UDF), and only k+2 gradient/loss sums reach the
  driver — the model (k floats) is the bounded driver artifact, the
  corpus never moves;
* scoring (`logreg_score_sql`) is a pure projection in portable SQL,
  so a FROZEN model scores identically on Spark and DuckDB and the
  gate checks values end to end.
"""

from __future__ import annotations

from dataclasses import dataclass

from .textstats import token_count_expr

# shared-dialect feature expressions over a documents relation —
# every one exact integer arithmetic divided by constants (identical
# doubles cross-engine)
def feature_exprs(text: str = "text") -> dict[str, str]:
    toks = token_count_expr(text)
    return {
        # length in kB and tokens in hundreds keep raw magnitudes O(1)
        "f_len": f"(CAST(length({text}) AS DOUBLE) / 1000.0)",
        "f_toks": f"(CAST({toks} AS DOUBLE) / 100.0)",
        # mean word length (chars per whitespace token)
        "f_wlen": (f"(CAST(length({text}) AS DOUBLE) "
                   f"/ CAST({toks} AS DOUBLE))"),
        # space density
        "f_space": (f"(CAST(length({text}) - "
                    f"length(replace({text}, ' ', '')) AS DOUBLE) "
                    f"/ CAST(length({text}) AS DOUBLE))"),
    }


@dataclass
class LogRegModel:
    """`weights`: dict feature → coefficient (standardized space if
    `means`/`stds` set); `bias`: intercept; `losses`: mean logistic
    loss per iteration (monotone non-increasing for small enough lr on
    this convex objective — the convergence diagnostic)."""

    weights: dict
    bias: float
    means: dict | None
    stds: dict | None
    losses: list
    n: int

    def raw_weights(self) -> tuple[dict, float]:
        """Fold the standardization into raw-feature space:
        w_raw = w/σ, b_raw = b − Σ w·μ/σ — so scoring SQL needs no
        per-row standardization."""
        if self.means is None:
            return dict(self.weights), self.bias
        w, b = {}, self.bias
        for f, wj in self.weights.items():
            s = self.stds[f] if self.stds[f] > 0 else 1.0
            w[f] = wj / s
            b -= wj * self.means[f] / s
        return w, b


def logreg_fit_spark(feat_df, feature_cols, label_col: str = "y",
                     iters: int = 60, lr: float = 0.5, l2: float = 0.0,
                     standardize: bool = True) -> LogRegModel:
    """Batch-GD logistic regression on a DataFrame of numeric feature
    columns + a 0/1 label.  Per iteration ONE aggregation job computes
    Σ (σ(z) − y)·x_j for every feature, Σ (σ(z) − y), and the summed
    stable logistic loss; weights update on the driver (k floats)."""
    from pyspark.sql import functions as F

    feature_cols = list(feature_cols)
    if not feature_cols:
        raise ValueError("logreg_fit_spark: no feature columns")
    if iters < 1:
        raise ValueError("logreg_fit_spark: iters must be >= 1")
    df = feat_df.select(
        F.col(label_col).cast("double").alias("_y"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
    )
    null_guard = df.where(
        " OR ".join(f"({c} IS NULL)" for c in ["_y"] + feature_cols))
    if null_guard.limit(1).count() > 0:
        raise ValueError(
            "logreg_fit_spark: NULL label or feature values — filter or "
            "impute upstream (fail-loud contract)")
    # count BEFORE the stats pass: avg() over an empty relation is NULL
    # and float(None) would raise an opaque TypeError instead of the
    # fail-loud ValueError (review finding)
    n = df.count()
    if n == 0:
        raise ValueError("logreg_fit_spark: empty relation")
    means = stds = None
    if standardize:
        stats = df.agg(*(
            [F.avg(c).alias(f"m_{c}") for c in feature_cols]
            + [F.stddev_pop(c).alias(f"s_{c}") for c in feature_cols]
        )).collect()[0]
        means = {c: float(stats[f"m_{c}"]) for c in feature_cols}
        stds = {c: float(stats[f"s_{c}"]) for c in feature_cols}
        df = df.select(
            "_y",
            *[((F.col(c) - F.lit(means[c]))
               / F.lit(stds[c] if stds[c] > 0 else 1.0)).alias(c)
              for c in feature_cols],
        )
    df = df.persist()
    try:
        df.count()  # materialize the cache before the iteration loop
        w = {c: 0.0 for c in feature_cols}
        b = 0.0
        losses = []
        for _ in range(iters):
            z = F.lit(b)
            for c in feature_cols:
                z = z + F.lit(w[c]) * F.col(c)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = p - F.col("_y")
            # numerically stable per-row loss:
            # max(z,0) − y·z + ln(1 + e^(−|z|))
            loss = (F.greatest(z, F.lit(0.0)) - F.col("_y") * z
                    + F.log1p(F.exp(-F.abs(z))))
            # positional aliases: a feature literally named "b" made a
            # name-keyed bias alias ("g_b") collide with that feature's
            # gradient — the bias then silently took the feature's
            # gradient (caught by the 1-iteration parity test)
            row = df.agg(
                *[F.sum(err * F.col(c)).alias(f"_grad_{i}")
                  for i, c in enumerate(feature_cols)],
                F.sum(err).alias("_grad_bias"),
                F.sum(loss).alias("_loss_sum"),
            ).collect()[0]
            losses.append(float(row["_loss_sum"]) / n)
            for i, c in enumerate(feature_cols):
                w[c] -= lr * (float(row[f"_grad_{i}"]) / n + l2 * w[c])
            b -= lr * float(row["_grad_bias"]) / n
        return LogRegModel(weights=w, bias=b, means=means, stds=stds,
                           losses=losses, n=n)
    finally:
        df.unpersist()


def logreg_score_sql(dialect: str, rel: str = "documents",
                     weights: dict | None = None,
                     bias: float | None = None,
                     threshold: float = 0.5,
                     round_to: int = 6) -> str:
    """Score every document with a FROZEN raw-space model → (doc_id,
    p_r, pred).  Pure projection; exp() is the one libm call (same
    cross-engine determinism record as ln in bm25/langmodel); the
    probability is rounded, the 0/1 prediction thresholds the
    UNROUNDED double (identical on both engines)."""
    if weights is None or bias is None:
        raise ValueError("logreg_score_sql: weights and bias required")
    exprs = feature_exprs()
    unknown = [f for f in weights if f not in exprs]
    if unknown:
        raise ValueError(f"unknown features: {unknown}")
    z = " + ".join([f"{float(bias)!r}"]
                   + [f"({float(wj)!r}) * {exprs[f]}"
                      for f, wj in sorted(weights.items())])
    p = f"(1.0 / (1.0 + exp(-({z}))))"
    return f"""
SELECT doc_id,
       round({p}, {int(round_to)}) + 0.0 AS p_r,
       CASE WHEN {p} >= {float(threshold)!r} THEN 1 ELSE 0 END AS pred
FROM {rel}
WHERE text IS NOT NULL AND length(text) > 0"""


def train_quality_model(spark, docs_rel: str = "documents",
                        iters: int = 60, lr: float = 0.5) -> LogRegModel:
    """Distill the heuristic keep/drop gate (`quality_ok_expr`) into a
    smooth calibrated score: fit the logistic model with the heuristic
    as the training label.  The point is the SHAPE: downstream sampling
    wants a ranking/probability, not the step function — and the same
    trainer accepts human labels when a labeled slice exists."""
    from .textstats import quality_ok_expr

    feats = ", ".join(f"{e} AS {n}"
                      for n, e in feature_exprs().items())
    df = spark.sql(
        f"SELECT {quality_ok_expr('text')} AS y, {feats} "
        f"FROM {docs_rel} WHERE text IS NOT NULL AND length(text) > 0")
    return logreg_fit_spark(df, list(feature_exprs()), "y",
                            iters=iters, lr=lr)
