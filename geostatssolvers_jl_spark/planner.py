"""Engine-side planning rules (reference: ``/root/reference/src/ui.jl``).

``searcher_ui`` (ui.jl:11-32): clamp ``maxneighbors`` into [1, n_data]
with a warning (exactly the reference's behavior), then choose kNN vs
ball-bounded search.  ``kriging_ui`` (ui.jl:40-50): variant dispatch,
latter options override former.  These are *driver-side planning rules* —
the Spark analogue of the reference's strategy switches, deciding
broadcast-global vs local-batched physical plans before Catalyst sees the
DataFrame (SURVEY.md §4).
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass

from .distances import Distance, Euclidean
from .operators.kriging import KrigingModel


@dataclass(frozen=True)
class SearchPlan:
    kind: str                  # "knn" | "ball"
    k: int
    radius: float | None
    metric: Distance


def searcher_ui(
    n_data: int,
    maxneighbors: int | None,
    metric: Distance = Euclidean(),
    radius: float | None = None,
) -> SearchPlan:
    if maxneighbors is None:
        k = n_data
    elif maxneighbors < 1 or maxneighbors > n_data:
        warnings.warn(
            f"Invalid maximum number of neighbors. Adjusting to {n_data}..."
        )
        k = n_data
    else:
        k = maxneighbors
    kind = "ball" if radius is not None else "knn"
    return SearchPlan(kind=kind, k=k, radius=radius, metric=metric)


def kriging_ui(
    variogram=None, mean=None, degree=None, drifts=None
) -> KrigingModel:
    """Latter options override former (ui.jl:40-50): drifts → EDK,
    degree → UK, mean → SK, else OK."""
    from .variogram import GaussianVariogram

    return KrigingModel(
        variogram=variogram or GaussianVariogram(),
        mean=None if (drifts is not None or degree is not None) else mean,
        degree=None if drifts is not None else degree,
        drifts=drifts,
    )


def choose_tile_res(n_data: int, target_per_cell: int = 64) -> int:
    """Tile resolution sized to the data density: a world grid of about
    n_data / ``target_per_cell`` cells (res ≥ 3), so a cell of evenly
    spread data holds ~target rows and the exact tiled kNN join's
    candidate volume per query (the rows of the few cells its
    kth-distance bound reaches) stays flat as the data side grows."""
    import math

    n_cells = max(1, n_data // target_per_cell)
    nside = max(2, int(math.sqrt(n_cells)))
    from . import tiling

    return min(tiling.MAX_RES, max(3, math.ceil(math.log2(nside))))


# largest data side the local estimators collect and broadcast: ~2e6 ×
# (3 coords + values) × 8 B ≈ 100 MB per executor; above it they take
# the tiled gather
BROADCAST_LIMIT = 2_000_000


def choose_strategy(n_data: int, maxneighbors: int | None) -> str:
    """Physical strategy: the reference's exact-vs-approx switch
    (krig.jl:151-157) plus the engine's broadcast-vs-tiled switch at
    BROADCAST_LIMIT data rows.
    Returns 'global' | 'local-broadcast' | 'local-tiled'."""
    if maxneighbors is None:
        return "global"
    if n_data <= BROADCAST_LIMIT:
        return "local-broadcast"
    return "local-tiled"


def choose_planes(n_vectors: int, bucket_target: int = 64,
                  lo: int = 3, hi: int = 24) -> int:
    """LSH hyperplane count for sign-bucket ANN/near-dup:
    ``planes ≈ log₂(n / bucket_target)`` keeps the EXPECTED bucket
    occupancy near ``bucket_target`` so the per-bucket candidate join
    stays ~n·bucket_target rows instead of growing quadratically.

    The rule is validated at n=100k in ``tools/ann_stress.py`` (plane
    count 5 — tuned at 2k vectors — yields 13.7e9 analytic candidate
    rows; the rule's choice collapses that to 1.8e9 at planted-pair
    recall 1.0).  Clamped to [lo, hi]: below 2^lo buckets LSH stops
    pruning, above `hi` planes the Hamming-1 probe fanout dominates."""
    import math

    if n_vectors <= 0:
        return lo
    raw = round(math.log2(max(1.0, n_vectors / bucket_target)))
    return min(hi, max(lo, int(raw)))


def choose_ivf(n_vectors: int, lo: int = 4,
               hi: int = 65536) -> tuple[int, int]:
    """IVF coarse-quantizer sizing: ``k_cells ≈ √n`` (the standard
    inverted-file rule — cell population ≈ √n balances the assignment
    cost n·k against the probe cost nprobe·n/k), probe width
    ``nprobe ≈ max(2, k/8)``.  Clamped so toy corpora keep a few
    populated cells and huge ones bound the centroid relation."""
    import math

    if n_vectors <= 0:
        return lo, 2
    k = min(hi, max(lo, int(round(math.sqrt(n_vectors)))))
    return k, max(2, k // 8)


# LSH candidate volume grows ~n²/2^planes: below this the plain SQL
# plan is cheaper than the gather tier's fixed costs (repartition +
# broadcasts + corpus collect).  Measured on a 4-core box (local[4], one
# process per input, bt_mat built once, noop-write sink, 4 interleaved
# reps; rows identical between the tiers), `ann_topk_lsh` medians:
#     vectors                     SQL tier   gather tier   faster in
#       500 (sf0.01)              2.35 s     3.86 s        SQL, 4/4
#     1,000 (make_sf 0.5, seed 5) 2.34 s     2.95 s        SQL, 4/4
#     1,500 (make_sf 0.75)        4.24 s     3.94 s        gather, 3/4
#     2,000 (sf0.1)               8.23 s     5.46 s        gather, 4/4
#     2,000 (make_sf 1, seed 5)   7.84 s     5.48 s        gather, 4/4
ANN_FAST_MIN = 1_500


def ann_tier(n_vectors: int) -> str:
    """Scoring tier of the ANN top-k entries over ``n_vectors``:
    "join" beyond `vecops.GATHER_SCORE_LIMIT` (the gather scorer's
    broadcast bound: the per-bucket / per-cell SQL join plan), "sql"
    below ANN_FAST_MIN (the plain SQL plan), else "gather" (the bounded
    gather scorer).  The LSH entry follows all three tiers; the IVF entry
    splits only "join" from the rest, and below it scores its pairs with
    the interpreted fold (`similarity._fold_scored_pairs`), not the
    gather scorer."""
    from .webtext.vecops import GATHER_SCORE_LIMIT

    if n_vectors > GATHER_SCORE_LIMIT:
        return "join"
    return "sql" if n_vectors < ANN_FAST_MIN else "gather"

