"""Link-graph analytics over the document corpus — PageRank, the
crawl-prioritization / authority signal a web-scale curation pipeline
computes to weight sources and schedule recrawls (public technique:
Page, Brin, Motwani, Winograd 1999).

Exactness design: ranks live as BIGINT MICRO-UNITS.  Every per-edge
contribution is ``floor(r · d_num / (d_den · outdeg))`` — the double
division of two exactly-representable integers is correctly rounded
identically on Spark and DuckDB, and the nearest rational the quotient
can sit near an integer is 1/(d_den·outdeg) away (≫ one ulp), so the
floor is deterministic; the per-node sum is then a BIGINT sum — no
floating accumulation order anywhere.  A fixed iteration count unrolls
into a linear CTE chain (each rank relation is referenced exactly ONCE
by the next iteration, so Spark's CTE inlining cannot re-execute a
fold — the `ivf_ranked_sql` lesson, checked by construction here).

Scale shape per iteration: one equi-join (ranks × edges, shuffle keyed
on src) + one groupBy(dst) sum with map-side partials + one left join
back to the node set (teleport floor for in-degree-0 nodes).  State is
one (node, rank) relation — never collected.  The `pagerank` DataFrame
loop is the unbounded-iteration form of the same algebra with the rank
relation persisted per round; `pagerank_sql` is the fixed-K portable
form the gate twins against DuckDB.
"""

from __future__ import annotations

# damping 0.85 as an exact integer ratio
_D_NUM, _D_DEN = 17, 20
# PER-NODE micro-unit scale: a rank of 1_000_000 is the corpus average,
# whatever the corpus size (a TOTAL-mass scale truncated every rank to
# 0 once n reached the scale itself — observed at the 1M-node stress).
# Teleport is then the CONSTANT floor(0.15 · scale) = 150_000 — no
# division by n anywhere.  Exactness bound: a single rank r stays
# double-exact in r · 17.0 while r < 2^53/17 ≈ 5.3e14 — i.e. one page
# would have to hoard the combined mass of ~5e8 average pages before
# truncation turned nondeterministic; total BIGINT mass n · 1e6
# overflows only past n ≈ 9e12.
_SCALE = 1_000_000
_TELE = (_D_DEN - _D_NUM) * _SCALE // _D_DEN


def synth_edges_sql(nodes_rel: str = "documents",
                    out_degree: int = 4) -> str:
    """Deterministic synthetic link set over the corpus nodes:
    ``(src, dst)``, ``out_degree`` edges per source via a QUADRATIC
    integer mix (pure BIGINT arithmetic — identical in both engines; no
    murmur/hash builtins, which differ between Spark and DuckDB).  The
    quadratic term matters: a purely linear Weyl mix with a multiplier
    coprime to n is a union of PERMUTATIONS — every node gets exactly
    ``out_degree`` in-edges and PageRank degenerates to the uniform
    vector, which any rank-preserving bug would also produce.  The
    quadratic mix spreads in-degrees (3..20 with in-degree-0 nodes at
    n = 500), so the gate checks a non-trivial fixed point.  BOTH mix
    operands are modulus-reduced first — squared mod 2^20 (product
    ≤ 7.7e12) and linear mod 999983 (product ≤ 2.7e15): an unreduced
    ``src * 2654435761`` overflows BIGINT past src ≈ 3.5e9, where Spark
    silently wraps and DuckDB raises (review finding); the coprime
    moduli keep the joint period ≈ 1e12 ids.  Self-links are
    redirected to (src+1) % n so every node keeps a full out-degree."""
    return f"""
SELECT src, CASE WHEN d0 = src THEN (src + 1) % n ELSE d0 END AS dst
FROM (
  SELECT n.src, _k.k, n.n,
         (((n.src % 1048576) * (n.src % 1048576) * 7
           + (n.src % 999983) * 2654435761 + _k.k * 40503)
          % n.n + n.n) % n.n AS d0
  FROM (SELECT doc_id AS src,
               (SELECT count(*) FROM {nodes_rel}) AS n
        FROM {nodes_rel}) n
  CROSS JOIN (SELECT id AS k FROM range(1, {int(out_degree) + 1})
              AS _r(id)) _k
) _e
"""


def pagerank_sql(dialect: str, nodes_rel: str = "documents",
                 edges_rel: str | None = None, iters: int = 5,
                 out_degree: int = 4) -> str:
    """Fixed-``iters`` PageRank in portable SQL → ``(doc_id,
    rank_micro)`` for every node, BIGINT micro-unit ranks (see module
    docstring for why this is hash-exact cross-engine).  ``edges_rel``
    defaults to the deterministic synthetic link set.  The floor
    truncation leaks ≤ 1 micro-unit of mass per edge per iteration —
    deterministic, and irrelevant to ranking."""
    if iters < 1:
        raise ValueError("pagerank_sql: iters must be >= 1")
    edges = (synth_edges_sql(nodes_rel, out_degree)
             if edges_rel is None else f"SELECT src, dst FROM {edges_rel}")
    tele = f"CAST({_TELE} AS BIGINT)"
    ctes = [f"""_nodes AS (
  SELECT doc_id FROM {nodes_rel}
), _edges AS (
  {edges}
), _deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS outdeg
  FROM _edges GROUP BY src
), _r0 AS (
  SELECT doc_id, CAST({_SCALE} AS BIGINT) AS r
  FROM _nodes
)"""]
    for i in range(1, iters + 1):
        prev, cur = f"_r{i - 1}", f"_r{i}"
        ctes.append(f"""{cur} AS (
  SELECT _n.doc_id,
         {tele} + coalesce(_c.csum, CAST(0 AS BIGINT)) AS r
  FROM _nodes _n
  LEFT JOIN (
    SELECT e.dst AS doc_id,
           CAST(sum(CAST(floor((p.r * {_D_NUM}.0)
                / ({_D_DEN}.0 * d.outdeg)) AS BIGINT)) AS BIGINT) AS csum
    FROM _edges e
    JOIN {prev} p ON p.doc_id = e.src
    JOIN _deg d ON d.src = e.src
    GROUP BY e.dst
  ) _c ON _c.doc_id = _n.doc_id
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT doc_id, r AS rank_micro FROM _r{iters}")


def pagerank(spark, edges_df, iters: int = 10, n_nodes: int | None = None,
             nodes_df=None):
    """DataFrame-loop PageRank for REAL edge sets and unbounded
    iteration counts: the same micro-unit algebra, one persisted
    (node, rank) relation per round.  ``nodes_df``: optional one-column
    (doc_id) relation defining the node universe (defaults to every id
    appearing as src or dst).  Returns (doc_id, rank_micro) backed by a
    PERSISTED relation — unpersisting it here would force a full
    re-run of every iteration's lineage on first use, so the CALLER
    owns ``.unpersist()`` on the result when done (the edge/degree/node
    caches ARE released here)."""
    from pyspark.sql import functions as F

    if iters < 1:
        raise ValueError("pagerank: iters must be >= 1")
    edges = edges_df.select(
        F.col("src").cast("long"), F.col("dst").cast("long"))
    if nodes_df is None:
        nodes = (edges.select(F.col("src").alias("doc_id"))
                 .union(edges.select(F.col("dst").alias("doc_id")))
                 .distinct())
    else:
        nodes = nodes_df.select(F.col("doc_id").cast("long"))
    nodes = nodes.persist()
    n = n_nodes if n_nodes is not None else nodes.count()
    if n <= 0:
        raise ValueError("pagerank: empty node set")
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).persist()
    edges = edges.persist()
    tele = _TELE
    ranks = nodes.select(
        "doc_id", F.lit(_SCALE).cast("long").alias("r"))
    ranks = ranks.persist()
    ranks.count()
    try:
        for _ in range(iters):
            contrib = (
                edges.join(ranks, edges.src == ranks.doc_id)
                .join(deg, "src")
                .select(
                    F.col("dst").alias("doc_id"),
                    F.floor(
                        (F.col("r") * float(_D_NUM))
                        / (float(_D_DEN) * F.col("outdeg"))
                    ).cast("long").alias("c"),
                )
                .groupBy("doc_id").agg(F.sum("c").alias("csum"))
            )
            new = (
                nodes.join(contrib, "doc_id", "left")
                .select(
                    "doc_id",
                    (F.lit(tele)
                     + F.coalesce(F.col("csum"), F.lit(0))).cast("long")
                    .alias("r"),
                )
            ).persist()
            new.count()
            ranks.unpersist()
            ranks = new
        return ranks.select("doc_id", F.col("r").alias("rank_micro"))
    finally:
        nodes.unpersist()
        deg.unpersist()
        edges.unpersist()
