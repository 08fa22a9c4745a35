"""Shared-dialect SQL builders.

Every declarative operator in this engine is expressed once as SQL text
that parses identically in Spark SQL *and* DuckDB.  The engine runs it via
``spark.sql`` (Catalyst optimizes: pushdown, broadcast, codegen); the
driver's correctness oracle runs the same text on DuckDB.  Identical
expression shapes ⇒ identical IEEE-double results, so value-hash compares
pass without fuzzy tolerances (outputs still rounded defensively where sums
span engines).

Dialect subset rules: no QUALIFY, no `//`, no engine-specific functions;
window + subquery instead; `floor/pow/least/greatest/round/md5/length/
replace/lower/substr/min_by + FILTER` are verified common ground.
"""

from __future__ import annotations


def knn_pairs_sql(
    queries_rel: str,
    data_rel: str,
    dist_sql: str,
    k: int,
    qid: str = "cell_id",
    did: str = "data_id",
    value_cols: tuple[str, ...] = ("z",),
    radius: float | None = None,
    where_extra: str | None = None,
    broadcast_data: bool = False,
) -> str:
    """Exact kNN join as cross join + window top-k (J1/J2 of SURVEY §2.3).

    ``dist_sql`` must reference columns as ``q.<col>`` / ``d.<col>``.
    Deterministic: ties broken by data id.  The declarative form — Catalyst
    broadcasts the small side; the big-big path uses the tiled engine
    instead (`neighbors.knn_join_tiled_exact`).

    ``where_extra``: additional predicate over ``q.``/``d.`` columns
    (e.g. self-exclusion for LOO CV).  ``broadcast_data``: emit a
    ``/*+ BROADCAST(d) */`` hint — without it Spark can plan a
    CartesianProduct that recomputes the build side per stream task;
    DuckDB parses the hint as a comment.
    """
    vals = ", ".join(f"d.{c} AS {c}" for c in value_cols)
    if vals:
        vals = ", " + vals
    conds = []
    if radius is not None:
        conds.append(f"{dist_sql} <= {radius!r}")
    if where_extra:
        conds.append(where_extra)
    where_r = f"WHERE {' AND '.join(conds)} " if conds else ""
    hint = "/*+ BROADCAST(d) */ " if broadcast_data else ""
    inner = (
        f"SELECT {hint}q.{qid} AS {qid}, d.{did} AS {did}, "
        f"{dist_sql} AS dist{vals} "
        f"FROM {queries_rel} q CROSS JOIN {data_rel} d {where_r}"
    )
    ranked = (
        f"SELECT *, row_number() OVER (PARTITION BY {qid} "
        f"ORDER BY dist, {did}) AS rank FROM ({inner}) _c"
    )
    return f"SELECT * FROM ({ranked}) _r WHERE rank <= {k}"

