"""Similarity search over embedding columns (engine addition).

* brute-force cosine top-k — exact baseline, fully declarative
  (``zip_with``/``aggregate`` JVM-side; no UDF);
* LSH-bucketed ANN — deterministic random-hyperplane signs bucket the
  vectors; search compares only within a bucket (and optionally its
  Hamming-1 neighbors).  The hyperplane weights are pure integer
  arithmetic of (plane, dim) so the oracle can rebuild them exactly.

At 10¹²-row scale the brute path is the per-bucket kernel and the bucket
key is the shuffle key; bucket skew is bounded by the number of planes.
"""

from __future__ import annotations

from ..session import sql_arg

N_PLANES = 8
DIM = 64


def weight_expr(plane: int, d: int, table: int = 0) -> str:
    """Deterministic hyperplane weight in [-0.5, 0.5): integer arithmetic
    identical in both engines (table 0 reproduces the single-table
    weights exactly)."""
    seed = table * 37199 + plane * 8191 + d * 131 + 7
    return f"(CAST(({seed}) % 1000 AS DOUBLE) / 1000.0 - 0.5)"


def _bucket_expr(dialect: str, n_planes: int, dim: int, table: int = 0) -> str:
    """Packed sign-pattern bucket id of one hash table.

    Spark spelling folds a zip_with against a weight-array literal —
    whole-stage codegen chokes on the expanded n_planes×dim term chain
    (tens of seconds of Janino compile), while the higher-order-function
    form is interpreted and instant; the left fold starting at 0.0 adds
    terms in the SAME order as DuckDB's explicit `+` chain, so the dot
    products (hence the sign buckets) are bit-identical."""
    if dialect == "spark":
        def dot(p):
            ws = ", ".join(weight_expr(p, d, table) for d in range(dim))
            return (
                f"aggregate(zip_with("
                f"transform(embedding, x -> CAST(x AS DOUBLE)), "
                f"array({ws}), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
            )
    else:
        def dot(p):
            terms = " + ".join(
                f"CAST(embedding[{d + 1}] AS DOUBLE) * {weight_expr(p, d, table)}"
                for d in range(dim)
            )
            return f"({terms})"
    return " + ".join(
        f"(CASE WHEN {dot(p)} >= 0.0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )


def bucket_sql(dialect: str, emb_rel: str = "embeddings",
               n_planes: int = N_PLANES, dim: int = DIM) -> str:
    """(vec_id, bucket) — sign pattern of n_planes dot products."""
    return (
        f"SELECT vec_id, {_bucket_expr(dialect, n_planes, dim)} AS bucket "
        f"FROM {emb_rel}"
    )


def bucket_tables_sql(dialect: str, emb_rel: str = "embeddings",
                      n_planes: int = 5, n_tables: int = 6,
                      dim: int = DIM) -> str:
    """(vec_id, tbl, bucket) — L independent hash tables (the standard
    multi-table LSH layout: a true neighbor is a candidate if it collides
    in ANY table, so recall compounds as 1 − (1 − p^planes)^tables)."""
    selects = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"{_bucket_expr(dialect, n_planes, dim, t)} AS bucket FROM {emb_rel}"
        for t in range(n_tables)
    )
    return selects


def _emb_double(dialect: str, emb_rel: str, col: str) -> str:
    if dialect == "spark":
        return (
            f"(SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) "
            f"AS {col} FROM {emb_rel})"
        )
    return (
        f"(SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        f"AS {col} FROM {emb_rel})"
    )


def _dot_sql(dialect: str, a: str, b: str, dim: int = DIM) -> str:
    """Dot product of two array<double> columns (fold spelling per
    `_cos_sql`'s bit-identity notes)."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            f"(acc, x) -> acc + x)"
        )
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), i -> {a}[i] * {b}[i]))"
    )


def _norm_sql(dialect: str, a: str, dim: int = DIM) -> str:
    """‖a‖ with the exact same fold text as `_cos_sql`'s norm factors, so
    precomputing it per VECTOR (instead of per pair) leaves every cosine
    bit-identical: the quotient divides by the product of the same two
    sqrt values either way."""
    return f"sqrt({_dot_sql(dialect, a, a, dim)})"


def _cos_sql(dialect: str, a: str, b: str, dim: int = DIM) -> str:
    """Exact cosine between two array<double> columns — expressed through
    the SAME _dot_sql/_norm_sql folds the bucketed queries use, so the
    bit-identity contract lives in one spelling (values identical: every
    fold sums terms left-to-right from a 0.0 seed, and 0.0 + x == x).
    An explicit indexed 64-term chain was tried and REJECTED: it blows the
    Janino 64KB method limit inside the window stage, forcing a slower
    interpreted fallback than the higher-order fold."""
    return (
        f"({_dot_sql(dialect, a, b, dim)}) / "
        f"({_norm_sql(dialect, a, dim)} * {_norm_sql(dialect, b, dim)})"
    )


def _probe_union(n_planes: int, dialect: str = "duck") -> str:
    """Probe buckets of a (vec_id, tbl, bucket) relation ``_bt``: each
    table's bucket itself plus its ``n_planes`` Hamming-1 neighbors
    (multiprobe).  Bit flip spelled as ``b + 2^p − 2·(b & 2^p)`` —
    identical text in Spark SQL and DuckDB (no xor-operator split).

    Spark spelling is ONE scan + explode instead of an (n_planes+1)-way
    UNION ALL — each union arm is its own scan/codegen stage over the
    (cached) bucket table, pure task overhead (same change as
    `minhash_bands_sql`; values identical, plan shape only)."""
    flips = ["bucket"] + [
        f"bucket + {1 << p} - 2 * (bucket & {1 << p})"
        for p in range(n_planes)
    ]
    if dialect == "spark":
        arr = ", ".join(flips)
        return (
            f"SELECT vec_id, tbl, explode(array({arr})) AS probe FROM _bt"
        )
    probes = [
        f"SELECT vec_id, tbl, {f} AS probe FROM _bt" for f in flips
    ]
    return " UNION ALL ".join(probes)


def _lsh_candidates_cte(dialect: str, emb_rel: str, n_planes: int,
                        n_tables: int, dim: int, pair_pred: str,
                        bt_rel: str | None = None) -> str:
    """WITH-clause prefix producing ``_cand(qid, nid)`` — DISTINCT vector
    pairs colliding in ≥1 probed bucket of ≥1 table — and ``_emb``.

    ``bt_rel``: name of a PRE-MATERIALIZED (vec_id, tbl, bucket) relation.
    Spark inlines CTEs, so without it the n_tables×n_planes×dim bucket
    arithmetic would re-run once per probe arm and join side; Spark-side
    callers should materialize `bucket_tables_sql` (cached view) and pass
    its name.  DuckDB callers can leave it None."""
    emb = _emb_double(dialect, emb_rel, "e")
    if bt_rel is None:
        bt = bucket_tables_sql(dialect, emb_rel, n_planes, n_tables, dim)
        head = f"WITH _bt AS ({bt}), "
        rel = "_bt"
    else:
        head = "WITH "
        rel = bt_rel
    probes = _probe_union(n_planes, dialect).replace("_bt", rel)
    return (
        head
        + f"_probes AS ({probes}), "
        f"_cand AS (SELECT DISTINCT p.vec_id AS qid, d.vec_id AS nid "
        f"FROM _probes p JOIN {rel} d ON p.tbl = d.tbl "
        f"AND p.probe = d.bucket AND {pair_pred}), "
        # norm precomputed per VECTOR: the exact-cosine stage then runs ONE
        # interpreted fold per pair instead of three (dot + both norms) —
        # values bit-identical, see _norm_sql
        f"_emb AS (SELECT vec_id, e, {_norm_sql(dialect, 'e', dim)} AS nrm "
        f"FROM {emb} _ed) "
    )


def ann_topk_lsh_sql(dialect: str, emb_rel: str = "embeddings",
                     k: int = 3, n_planes: int = 5, n_tables: int = 6,
                     dim: int = DIM, bt_rel: str | None = None) -> str:
    """COMPOSED multi-table bucketed ANN top-k: L hash tables → Hamming-1
    multiprobe per table → DISTINCT candidate pairs → exact cosine →
    window top-k.

    Output (qid, nid, cos_sim, rank).  The scale path for similarity
    search: candidates only materialize per (tbl, bucket) equi-join group
    — never an all-pairs cross join; the probe fanout is a fixed
    ×(n_tables·(n_planes+1)) of the query side and the exact cosine runs
    once per DISTINCT candidate.  Both engines run the identical bucketed
    algorithm, so the oracle checks values, not just shape."""
    cte = _lsh_candidates_cte(
        dialect, emb_rel, n_planes, n_tables, dim,
        "p.vec_id <> d.vec_id", bt_rel=bt_rel,
    )
    cos = f"({_dot_sql(dialect, 'q.e', 'd.e', dim)}) / (q.nrm * d.nrm)"
    inner = (
        f"SELECT c.qid, c.nid, round({cos}, 6) AS cos_sim "
        f"FROM _cand c JOIN _emb q ON c.qid = q.vec_id "
        f"JOIN _emb d ON c.nid = d.vec_id"
    )
    ranked = (
        f"SELECT *, row_number() OVER (PARTITION BY qid "
        f"ORDER BY cos_sim DESC, nid) AS rank FROM ({inner}) _i"
    )
    return (
        cte
        + f"SELECT qid, nid, cos_sim, rank FROM ({ranked}) _r "
        f"WHERE rank <= {k}"
    )


def dedup_embedding_lsh_sql(dialect: str, emb_rel: str = "embeddings",
                            threshold: float = 0.35, n_planes: int = 5,
                            n_tables: int = 6, dim: int = DIM,
                            bt_rel: str | None = None) -> str:
    """Embedding near-dup pairs THROUGH the multi-table LSH buckets:
    DISTINCT candidate pairs from any table's probed buckets, then exact
    cosine verification — replaces the O(n²) cross join.  Output
    (vec_a, vec_b, cos_sim), vec_a < vec_b."""
    cte = _lsh_candidates_cte(
        dialect, emb_rel, n_planes, n_tables, dim,
        "p.vec_id < d.vec_id", bt_rel=bt_rel,
    )
    cos = f"({_dot_sql(dialect, 'a.e', 'b.e', dim)}) / (a.nrm * b.nrm)"
    # NOTE: Spark still evaluates the pair fold twice (the threshold
    # predicate is pushed through the projection and re-expands the
    # alias) — the real per-pair saving is the per-vector norm precompute
    # in _emb; the subquery just keeps the rounded output and the
    # threshold reading one expression
    inner = (
        f"SELECT c.qid AS vec_a, c.nid AS vec_b, {cos} AS c "
        f"FROM _cand c JOIN _emb a ON c.qid = a.vec_id "
        f"JOIN _emb b ON c.nid = b.vec_id"
    )
    return (
        cte
        + f"SELECT vec_a, vec_b, round(c, 6) AS cos_sim "
        f"FROM ({inner}) _j WHERE c >= {threshold!r}"
    )


def cosine_topk_spark(emb_view: str, k: int, query_pred: str = "q.vec_id < 20") -> str:
    """Brute-force cosine top-k (Spark dialect; oracle builds its own)."""
    dot = "aggregate(zip_with(q.e, d.e, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
    nrm = (
        "sqrt(aggregate(zip_with(q.e, q.e, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)) * "
        "sqrt(aggregate(zip_with(d.e, d.e, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x))"
    )
    inner = (
        f"SELECT q.vec_id AS qid, d.vec_id AS nid, "
        f"round(({dot}) / ({nrm}), 6) AS cos_sim "
        f"FROM {emb_view} q CROSS JOIN {emb_view} d "
        f"WHERE {query_pred} AND q.vec_id <> d.vec_id"
    )
    ranked = (
        f"SELECT *, row_number() OVER (PARTITION BY qid "
        f"ORDER BY cos_sim DESC, nid) AS rank FROM ({inner}) _i"
    )
    return f"SELECT qid, nid, cos_sim, rank FROM ({ranked}) _r WHERE rank <= {k}"


# ---- auto-tuned DataFrame-level scale path -------------------------------
# The *_sql builders above pin n_planes explicitly (the oracle-twinned
# gate entries need both engines on one literal plane count).  These
# wrappers are the user-facing path: plane count derives from the corpus
# size via planner.choose_planes, so a 100k- or 10¹²-vector corpus never
# silently runs the 2k-tuned default (r3 verdict: defaults correct at
# sf0.1, 13.7e9-row candidate fanout at 100k).


def _auto_planes(emb_df, n_planes: int | None) -> int:
    from ..planner import choose_planes

    if n_planes is not None:
        return n_planes
    return choose_planes(emb_df.count())


def _prepare_auto(spark, emb_df, n_planes, n_tables, dim):
    """Shared wrapper plumbing: the auto-tuned plane count and a
    CHECKPOINTED (vec_id, tbl, bucket) relation, passed as ``bt_rel`` so
    the n_tables×n_planes×dim bucket arithmetic runs once, not once per
    probe arm and join side (Spark inlines CTEs — the same trap the gate
    entries dodge via their materialized view).

    A checkpoint, not a persist: the query binds the table as a view
    argument, and dropping a view over a persisted frame uncaches it.
    The checkpoint is a leaf that survives the drop; Spark's
    ``ContextCleaner`` frees its blocks once no result reads it.

    Built by `vecops.bucket_tables_kernel` (same rows as
    `bucket_tables_sql`, pytest-pinned; one vectorized pass instead of
    n_tables × n_planes interpreted folds per vector).  The input is
    repartitioned first — a single-file corpus scans as 1–2 tasks, which
    would serialize the kernel AND pin every downstream no-shuffle
    stage to that width (the `_mat_buckets` lesson).

    Returns (bucket DataFrame, n_planes)."""
    from .vecops import bucket_tables_kernel

    p = _auto_planes(emb_df, n_planes)
    bt = bucket_tables_kernel(
        spark, emb_df.repartition(spark.sparkContext.defaultParallelism),
        p, n_tables, dim).localCheckpoint()
    return bt, p


def ann_topk(spark, emb_df, k: int = 3, n_planes: int | None = None,
             n_tables: int = 6, dim: int = DIM):
    """Composed multi-table bucketed ANN top-k over an embeddings
    DataFrame (vec_id, embedding array<float>).  ``n_planes=None`` →
    auto-tuned from the corpus count."""
    bt, p = _prepare_auto(spark, emb_df, n_planes, n_tables, dim)
    return spark.sql(
        ann_topk_lsh_sql("spark", "{emb}", k=k, n_planes=p,
                         n_tables=n_tables, dim=dim, bt_rel="{bt}"),
        emb=sql_arg(emb_df), bt=bt)


def dedup_embedding(spark, emb_df, threshold: float = 0.35,
                    n_planes: int | None = None, n_tables: int = 6,
                    dim: int = DIM):
    """Embedding near-dup pairs through auto-tuned LSH buckets."""
    bt, p = _prepare_auto(spark, emb_df, n_planes, n_tables, dim)
    return spark.sql(
        dedup_embedding_lsh_sql("spark", "{emb}", threshold=threshold,
                                n_planes=p, n_tables=n_tables, dim=dim,
                                bt_rel="{bt}"),
        emb=sql_arg(emb_df), bt=bt)


# ---- IVF (inverted-file) ANN — the second scale path ---------------------
# The brief names two ANN scale paths: LSH-bucketed (above) and IVF.  The
# IVF structure: a small set of coarse-quantizer centroids partitions the
# corpus into cells; a query probes its `nprobe` nearest cells and runs
# exact cosine only against those cells' members — candidates per query
# ≈ nprobe/k_cells of the corpus, with the candidate step an EQUI-join on
# the cell id exactly like the LSH bucket join.
#
# Two quantizer tiers, mirroring the langid heuristic/trained split:
# * `ann_topk_ivf_sql` — PIVOT quantizer: the cells are Voronoi regions
#   of deterministically chosen member vectors (vec_id % pivot_mod = 0).
#   Everything — quantizer included — is portable SQL, so the DuckDB twin
#   runs the identical computation and the gate checks VALUES (no driver
#   state, no literals, any corpus).  Random pivots are a legitimate
#   coarse quantizer (quality slightly below k-means at equal cell
#   count); the fold spellings reuse _dot_sql so distances are
#   bit-identical cross-engine, and ranking ties break on ids.
# * `ann_topk_ivf` — the production wrapper: numpy Lloyd k-means
#   centroids (deterministic seeded init) from a bounded sample, landed
#   as a LOCAL relation (the langid_model materialization pattern); cell
#   count from planner.choose_ivf (≈ √n).  Recall pinned by pytest
#   against brute force, not by the SQL gate (the quantizer is
#   driver-side numpy — honest boundary, like FakeCodec vs the real
#   formats).


def _sqdist_sql(dialect: str, a: str, b: str, dim: int = DIM) -> str:
    """Squared L2 distance fold — same left-to-right summation on both
    engines (the _cos_sql bit-identity notes apply)."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"0.0D, (acc, x) -> acc + x)"
        )
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def ivf_ranked_sql(dialect: str, emb_rel: str = "embeddings",
                   nprobe: int = 4, pivot_mod: int = 31,
                   dim: int = DIM, cent_rel: str | None = None) -> str:
    """The ranked vector→cell distance relation ``(vec_id, cid, rkc)``
    for the pivot quantizer, truncated to ``rkc <= nprobe`` (assignment
    is the rkc=1 subset).  Split out so the Spark entry can MATERIALIZE
    it once: referenced inline it feeds both the assignment and the
    probe set, and Spark's CTE inlining computes the O(n·cells)
    distance fold twice (measured 2 BroadcastNestedLoopJoins in the
    physical plan); DuckDB evaluates the CTE once, so the oracle keeps
    the inline form."""
    emb0 = _emb_double(dialect, emb_rel, "e")
    d2 = _sqdist_sql(dialect, "v.e", "c.c", dim)
    cent = (f"SELECT vec_id AS cid, e AS c FROM _emb0 "
            f"WHERE vec_id % {pivot_mod} = 0"
            if cent_rel is None else f"SELECT cid, c FROM {cent_rel}")
    return f"""
WITH _emb0 AS (
  SELECT vec_id, e FROM {emb0} _e0
), _cent0 AS (
  {cent}
), _d2x AS (
  SELECT v.vec_id, c.cid, {d2} AS d2
  FROM _emb0 v CROSS JOIN _cent0 c
)
SELECT vec_id, cid, rkc FROM (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2, cid) AS rkc
  FROM _d2x
) _r WHERE rkc <= {nprobe}"""


def ann_topk_ivf_sql(dialect: str, emb_rel: str = "embeddings",
                     k: int = 3, nprobe: int = 4, pivot_mod: int = 31,
                     dim: int = DIM, cent_rel: str | None = None,
                     rk_rel: str | None = None,
                     query_pred: str = "TRUE") -> str:
    """IVF ANN top-k, fully in portable SQL (see the tier note above).
    Output (qid, nid, cos_sim, rank) — same shape and tie-breaks as
    `ann_topk_lsh_sql`, every corpus vector a query.

    ``cent_rel``: optional external centroid relation ``(cid, c)`` (the
    k-means wrapper passes one); default derives pivot centroids from
    the corpus itself.  The vectors × centroids distance step is a
    deliberate small-side cross join (k_cells rows — broadcast, the
    standard IVF assignment cost n·d·k); everything downstream is
    equi-joins and windows.

    ``rk_rel``: optional pre-materialized `ivf_ranked_sql` relation —
    the Spark entry passes a cached view so the distance fold runs
    ONCE (see that builder's docstring); values are identical either
    way, so the DuckDB twin keeps the inline form."""
    emb0 = _emb_double(dialect, emb_rel, "e")
    nrm = _norm_sql(dialect, "e", dim)
    cent = (f"SELECT vec_id AS cid, e AS c FROM _emb "
            f"WHERE vec_id % {pivot_mod} = 0"
            if cent_rel is None else
            f"SELECT cid, c FROM {cent_rel}")
    d2 = _sqdist_sql(dialect, "v.e", "c.c", dim)
    dot = _dot_sql(dialect, "q.e", "d.e", dim)
    if rk_rel is not None:
        rkc_src = f"SELECT vec_id, cid, rkc FROM {rk_rel}"
    else:
        rkc_src = f"""SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2, cid) AS rkc
  FROM _d2"""
    return f"""
WITH _emb AS (
  SELECT vec_id, e, {nrm} AS nrm FROM {emb0} _e0
), _cent AS (
  {cent}
), _d2 AS (
  SELECT v.vec_id, c.cid, {d2} AS d2
  FROM _emb v CROSS JOIN _cent c
), _rkc AS (
  {rkc_src}
), _assign AS (
  SELECT vec_id, cid FROM _rkc WHERE rkc = 1
), _probe AS (
  -- query_pred (on vec_id) bounds the QUERY side; the index side stays
  -- the full corpus
  SELECT vec_id AS qid, cid FROM _rkc
  WHERE rkc <= {nprobe} AND ({query_pred})
), _cand AS (
  SELECT DISTINCT p.qid, a.vec_id AS nid
  FROM _probe p JOIN _assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.qid
), _sc AS (
  SELECT c.qid, c.nid,
         round(({dot}) / (q.nrm * d.nrm), 6) AS cos_sim
  FROM _cand c
  JOIN _emb q ON q.vec_id = c.qid
  JOIN _emb d ON d.vec_id = c.nid
), _rk AS (
  SELECT qid, nid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, nid) AS rank
  FROM _sc
)
SELECT qid, nid, cos_sim, rank FROM _rk WHERE rank <= {k}"""


def kmeans_centroids_np(vecs, n_centroids: int, iters: int = 8,
                        seed: int = 0):
    """Deterministic Lloyd k-means (numpy, seeded init by sampling
    distinct rows) — the coarse quantizer for the IVF wrapper.  Empty
    clusters keep their previous centroid."""
    import numpy as np

    vecs = np.asarray(vecs, dtype=np.float64)
    n = len(vecs)
    if n_centroids >= n:
        return vecs.copy()
    rng = np.random.default_rng(seed)
    cent = vecs[rng.choice(n, n_centroids, replace=False)].copy()
    x2 = (vecs * vecs).sum(axis=1)
    for _ in range(iters):
        # gemm distance form: O(n*k) memory — the broadcast
        # (n, k, d) tensor form is gigabytes at (4096, 1000, 64)
        c2 = (cent * cent).sum(axis=1)
        d2 = x2[:, None] + c2[None, :] - 2.0 * (vecs @ cent.T)
        lab = d2.argmin(axis=1)
        for j in range(n_centroids):
            m = lab == j
            if m.any():
                cent[j] = vecs[m].mean(axis=0)
    return cent


def ann_topk_ivf(spark, emb_df, k: int = 3,
                 n_centroids: int | None = None,
                 nprobe: int | None = None,
                 sample_cap: int = 4096, seed: int = 0,
                 dim: int = DIM, trainer: str = "sample",
                 trainer_iters: int = 8):
    """Production IVF ANN: k-means centroids landed as a LOCAL relation,
    then the shared IVF SQL against it.  Cell count and probe width
    default to planner.choose_ivf(n) ≈ (√n, √n/8).

    ``trainer``: ``"sample"`` (default) fits numpy Lloyd on a bounded
    deterministic hash-mod sample (≤ sample_cap rows collected, however
    large the corpus) — the cheap tier, quantizer quality bounded by
    the sample.  ``"spark"`` fits `clustering.kmeans_fit_spark` on the
    FULL corpus (one mapInPandas scan + one model-sized shuffle per
    iteration, seeded from the same sample) — the scale tier when the
    corpus no longer resembles any 4096-row sample.  Both land the same
    k×d relation; the SQL downstream is identical."""
    from ..planner import choose_ivf

    if trainer not in ("sample", "spark"):
        raise ValueError(f"unknown trainer {trainer!r}")
    n = emb_df.count()
    if n_centroids is None:
        n_centroids = choose_ivf(n)[0]
    if nprobe is None:
        # derive from the EFFECTIVE cell count: taking the planner pair
        # wholesale let a caller-supplied small n_centroids pair with a
        # planner-sized nprobe > n_centroids — probing every cell, i.e.
        # silent brute force (review finding r6)
        nprobe = max(2, n_centroids // 8)
    nprobe = min(nprobe, n_centroids)
    # hash-mod sampling: a raw `vec_id % step` filter only bounds the
    # collect for DENSE 0..n-1 ids — sharded/aligned id spaces (all ids
    # multiples of step) would collect everything (review finding r6).
    # The hash uniformizes any id distribution; ORDER BY + LIMIT is a
    # bounded TakeOrdered and pins determinism.
    step = max(1, -(-n // sample_cap))
    sample = spark.sql(
        f"SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) "
        f"AS e FROM {{emb}} WHERE pmod(hash(vec_id), {step}) = 0 "
        f"ORDER BY vec_id LIMIT {int(sample_cap)}", emb=sql_arg(emb_df)
    ).collect()
    cent = kmeans_centroids_np(
        [r["e"] for r in sample], n_centroids, seed=seed)
    if trainer == "spark":
        from .clustering import kmeans_fit_spark

        # seed the full-corpus Lloyd from the sample tier's centroids:
        # identical corpora give identical starts, and the distributed
        # iterations then see every vector, not just the sample
        cent = kmeans_fit_spark(
            spark, emb_df, n_centroids=len(cent), iters=trainer_iters,
            init=cent, dim=dim).centroids
    local = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
        "cid long, c array<double>",
    )
    return spark.sql(ann_topk_ivf_sql(
        "spark", "{emb}", k=k, nprobe=nprobe, dim=dim, cent_rel="{cent}"),
        emb=sql_arg(emb_df), cent=local)


# ------------------------------------------------------------- r7 fast tier
# Vectorized Spark-side twins of the bucketed ANN queries.  The SQL
# builders above stay the single source of truth for the ORACLE (and the
# unbounded fallback); these produce bit-identical rows by moving only
# the per-pair fold into `vecops`' sequential-order numpy kernels —
# candidate generation, rounding and ranking remain Spark SQL.


def collect_emb_matrix(spark, emb_rel: str = "embeddings",
                       known_n: int | None = None):
    """(sorted ids, float64 matrix) of ``emb_rel`` via one Arrow
    transfer.  Raises past the gather-scorer bound
    (`vecops.GATHER_SCORE_LIMIT`; `planner.ann_tier` routes such corpora
    to the per-bucket join plan instead).  ``known_n``: a row count the
    caller already computed, skipping the gate's count job."""
    import numpy as np

    from .vecops import GATHER_SCORE_LIMIT

    n = (spark.table(emb_rel).count() if known_n is None else known_n)
    if n > GATHER_SCORE_LIMIT:
        raise ValueError(
            f"{n} vectors exceed the gather-scorer bound "
            f"{GATHER_SCORE_LIMIT}; use the per-bucket join plan")
    pdf = spark.sql(
        f"SELECT vec_id, embedding FROM {emb_rel}").toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    E = np.asarray(list(pdf["embedding"]), dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    return ids[order], E[order]


# Both scorers turn candidate pairs that are ALREADY hash-partitioned by
# ``qid`` into DISTINCT (qid, nid, cos_sim) rows, and stay exchange-free:
# hash(qid) satisfies the clustering requirement of the per-task DISTINCT
# on (qid, nid) (measured: the same DISTINCT as a global hash aggregate
# spilled for ~270 s; per-task it is seconds), and mapInPandas is narrow.
# The rank window downstream pays its one small exchange after the
# partial WindowGroupLimit prune — losing the partitioning attribute
# across the Python boundary costs nothing.


def _gather_scored_pairs(spark, cand, emb_rel: str, known_n: int | None):
    """The bounded GATHER KERNEL (`vecops.gather_score_pairs` —
    mapInPandas over only the pair ids, with the ≤`GATHER_SCORE_LIMIT`-row
    corpus matrix broadcast; at 20k×64 doubles the matrix is 10 MB,
    cache-resident).  r7, 32 cores, interleaved min-of-3 on the
    86M-unordered-pair sf1.0 shape: **23.7 s vs 50.2 s** for the
    interpreted fold (`_fold_scored_pairs`), with ROW-IDENTICAL output
    (0 diffs over the full 60k-row entry result).  The kernel replays the
    fold's exact FP sequence (bitwise-pinned by tests/test_vecops.py) and
    the ``round(..., 6)`` stays in SQL on the bit-identical raw value."""
    from .vecops import gather_score_pairs

    ids, E = collect_emb_matrix(spark, emb_rel, known_n)
    raw = gather_score_pairs(spark, cand.distinct(), ids, E)
    return raw.selectExpr("qid", "nid", "round(c_raw, 6) AS cos_sim")


def _fold_scored_pairs(spark, cand, emb_rel: str, dim: int):
    """The interpreted ``aggregate(zip_with())`` fold over the broadcast
    embeddings — no corpus collect.  At the IVF tail's much smaller pair
    volume the gather kernel's fixed costs (corpus count + toPandas + the
    Arrow pair round-trip) outweigh the fold on small corpora.
    `ann_topk_ivf_spark` on a 4-core box (local[4], one process per
    input, noop-write sink, 4 interleaved reps), fold vs gather medians:
    500 vectors 1.41 vs 2.87 s, 2,000 vectors 3.40 vs 3.92 s, 10,000
    vectors 8.12 vs 6.52 s (gather faster 4/4).  So the IVF tail keeps
    the fold, while the LSH path (86M pairs at sf1.0) uses the kernel;
    the 10,000-vector reversal is an open lead."""
    from pyspark.sql import functions as F

    emb = spark.sql(
        f"SELECT vec_id, e, {_norm_sql('spark', 'e', dim)} AS nrm "
        f"FROM {_emb_double('spark', emb_rel, 'e')} _ed")
    q = emb.select(F.col("vec_id").alias("_qv"), F.col("e").alias("qe"),
                   F.col("nrm").alias("qnrm"))
    d = emb.select(F.col("vec_id").alias("_dv"), F.col("e").alias("de"),
                   F.col("nrm").alias("dnrm"))
    cos = f"round(({_dot_sql('spark', 'qe', 'de', dim)}) / (qnrm * dnrm), 6)"
    return (
        cand.distinct()
        .join(F.broadcast(q), F.col("qid") == F.col("_qv"))
        .join(F.broadcast(d), F.col("nid") == F.col("_dv"))
        .select("qid", "nid", F.expr(cos).alias("cos_sim"))
    )


def _rank_tail_sql(k: int) -> str:
    """Per-query top-``k`` window over the ``{scored}`` argument
    (qid, nid, cos_sim) — the shared tail of the fast tiers."""
    return f"""
SELECT qid, nid, cos_sim, rank FROM (
  SELECT qid, nid, cos_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, nid) AS rank
  FROM {{scored}} _i
) _r WHERE rank <= {int(k)}"""


def ann_topk_lsh_spark(spark, k: int = 3, n_planes: int = 5,
                       bt_rel: str = "bt_mat",
                       emb_rel: str = "embeddings",
                       known_n: int | None = None):
    """Fast twin of `ann_topk_lsh_sql` (bounded tier: the bucket table
    and embeddings broadcast — callers gate on corpus size): the probe
    side is repartitioned by query id FIRST, the bucket join broadcasts
    the materialized (vec_id, tbl, bucket) relation, and dedup/score/
    partial-rank all run per task.

    The candidate join keeps only ``p.vec_id < d.vec_id`` — HALF the
    fold evaluations of the directional SQL twin, with exact coverage
    because sign-LSH collision is symmetric WITHIN a table (equal
    buckets trivially; Hamming-1 probes because b = a xor bit ⟺
    a = b xor bit — verified numerically at sf1.0: 172,007,278
    directional pairs = exactly 2 × 86,003,639 unordered).  Every
    surviving copy of pair (a, b) comes from a's probe rows, so the
    per-task DISTINCT under hash(qid) stays globally correct; the
    missing direction is re-emitted by a swap-EXPLODE of the scored row
    (a projection — the cosine is computed once, and the swapped
    division/products are bit-identical because IEEE * is commutative
    in its operands).  The rank window then restores per-query order;
    Spark's partial WindowGroupLimit prunes each task to ≤k rows per
    query before the one small rank exchange."""
    from pyspark.sql import functions as F

    nparts = 4 * spark.sparkContext.defaultParallelism
    probes = (
        spark.sql(_probe_union(n_planes, "spark").replace("_bt", bt_rel))
        .repartition(nparts, "vec_id")
    )
    bt = spark.table(bt_rel).select(
        F.col("vec_id").alias("_bv"), F.col("tbl").alias("_bt_t"),
        F.col("bucket").alias("_bt_b"))
    cand = (
        probes.join(
            F.broadcast(bt),
            (F.col("tbl") == F.col("_bt_t"))
            & (F.col("probe") == F.col("_bt_b"))
            & (F.col("vec_id") < F.col("_bv")))
        .select(F.col("vec_id").alias("qid"), F.col("_bv").alias("nid"))
    )
    scored = _gather_scored_pairs(spark, cand, emb_rel, known_n)
    both = scored.selectExpr(
        "explode(array(named_struct('q', qid, 'n', nid), "
        "named_struct('q', nid, 'n', qid))) AS _s", "cos_sim"
    ).selectExpr("_s.q AS qid", "_s.n AS nid", "cos_sim")
    return spark.sql(_rank_tail_sql(k), scored=both)


def ann_topk_ivf_spark(spark, k: int = 3, nprobe: int = 4,
                       rk_rel: str = "ivf_rk_mat",
                       emb_rel: str = "embeddings", dim: int = DIM):
    """Fast twin of `ann_topk_ivf_sql` over a pre-materialized ranked
    relation: probes (rkc ≤ nprobe) repartitioned by query id, the
    rkc=1 assignment broadcast, then the exchange-free fold scorer and
    the shared rank tail."""
    from pyspark.sql import functions as F

    nparts = 4 * spark.sparkContext.defaultParallelism
    probes = (
        spark.sql(f"SELECT vec_id, cid FROM {rk_rel} "
                  f"WHERE rkc <= {int(nprobe)}")
        .repartition(nparts, "vec_id")
    )
    assign = spark.sql(
        f"SELECT vec_id AS _av, cid AS _ac FROM {rk_rel} WHERE rkc = 1")
    cand = (
        probes.join(
            F.broadcast(assign),
            (F.col("cid") == F.col("_ac"))
            & (F.col("vec_id") != F.col("_av")))
        .select(F.col("vec_id").alias("qid"), F.col("_av").alias("nid"))
    )
    return spark.sql(_rank_tail_sql(k),
                     scored=_fold_scored_pairs(spark, cand, emb_rel, dim))


def ivf_ranked_spark(spark, emb_rel: str = "embeddings",
                     nprobe: int = 4, pivot_mod: int = 31,
                     dim: int = DIM):
    """Kernel twin of `ivf_ranked_sql`: the (vec_id, cid, rkc ≤ nprobe)
    ranked vector→cell relation under the pivot quantizer, computed by
    `vecops.ranked_cells` (sequential-fold d2, (d2, cid) tie-break) —
    bit-identical rows, O(n·k) numpy instead of the interpreted SQL
    fold on however many tasks the scan produced.  The centroid collect
    is bounded by the quantizer size (the production tier's k-means
    keeps it ≈ √n; the pivot tier is the gate shape)."""
    from .vecops import ranked_cells

    cent = spark.sql(
        f"SELECT vec_id, embedding FROM {emb_rel} "
        f"WHERE vec_id % {int(pivot_mod)} = 0 ORDER BY vec_id"
    ).toPandas()
    import numpy as np

    cids = cent["vec_id"].to_numpy(dtype=np.int64)
    C = np.asarray(list(cent["embedding"]), dtype=np.float64)
    return ranked_cells(spark, spark.table(emb_rel), cids, C, nprobe)
