"""Hierarchical lat/lon tile index (H3/S2-style, pure arithmetic).

The north rule mandates H3/S2-style tiling of geocoded web pages with
vectorized cell encoding.  The container has no `h3` wheel, so we implement
an equirectangular quadtree cell id from scratch: at resolution ``r`` the
world ( lon ∈ [-180,180), lat ∈ [-90,90) ) is a 2^r × 2^r grid; a cell id
packs ``(resolution, ty, tx)`` into one BIGINT.  Properties needed by the
engine and provided here:

* **vectorized encode** — pure `floor` arithmetic, runs JVM-side inside
  whole-stage codegen (`cell_expr`), in numpy inside pandas UDFs
  (`cell_np`), and verbatim in DuckDB for the correctness oracle.
* **parent/child** — shift tx,ty by one level (`parent_expr`).
* **k-ring** — the unique cells of a cell's row × column block as one
  Spark SQL array (`ring_expr`, lon wraps, off-world lat rows dropped,
  widths may be per-row SQL expressions); exploded onto the query side
  for cell-ring-expansion kNN candidate generation (SURVEY.md §2.3
  J1/J2) — no Python stage.  The distance bounds that size the block
  live with their join (`neighbors.knn_join_tiled_exact`).

Layout of the id:  ``cell = (r << 58) | (ty << 29) | tx`` with
``tx, ty < 2^29``.  All ops stay in signed-64 range.  **Contract:
r ≤ MAX_RES = 24** — the shared-dialect SQL DECODE of ty is a double
floor-division (``floor((cell % 2^58) / 2^29)``: Spark and DuckDB have no
common integer-division spelling), and ``ty·2^29 + tx`` must stay inside
the 53-bit double mantissa for it to be exact; res 24 is the last exact
level (≈ 2.4 m cells at the equator — far below any practical tiling).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_KM = 6371.0


MAX_RES = 24  # SQL ty-decode exactness bound, see module docstring


def nside(res: int) -> int:
    if res > MAX_RES:
        raise ValueError(
            f"tile res {res} > {MAX_RES}: the shared-dialect SQL cell "
            f"decode is only exact through res {MAX_RES}"
        )
    return 1 << res


def tx_from_cell_expr(cell: str) -> str:
    """Shared-dialect tx decode of a packed cell id."""
    return f"(({cell}) % {1 << 29})"


def ty_from_cell_expr(cell: str) -> str:
    """Shared-dialect ty decode (double floor-division — exact only for
    res ≤ MAX_RES, enforced at encode time by `nside`)."""
    return f"(CAST(floor((({cell}) % {1 << 58}) / {1 << 29}) AS BIGINT))"



def _tx_expr(lon: str, res: int) -> str:
    n = nside(res)
    # identical text parses in Spark SQL and DuckDB; clamp guards lon=180.
    return (
        f"least(CAST({n - 1} AS BIGINT), greatest(CAST(0 AS BIGINT), "
        f"CAST(floor((({lon}) + 180.0) / 360.0 * {n}) AS BIGINT)))"
    )


def _ty_expr(lat: str, res: int) -> str:
    n = nside(res)
    return (
        f"least(CAST({n - 1} AS BIGINT), greatest(CAST(0 AS BIGINT), "
        f"CAST(floor((({lat}) + 90.0) / 180.0 * {n}) AS BIGINT)))"
    )


def cell_expr(lon: str, lat: str, res: int) -> str:
    """SQL expression (Spark + DuckDB dialect subset) for the packed cell id."""
    r_bits = res * (1 << 58)
    return f"({r_bits} + {_ty_expr(lat, res)} * {1 << 29} + {_tx_expr(lon, res)})"


def parent_expr(cell: str, res: int, parent_res: int) -> str:
    """Parent cell id at a coarser resolution (pure arithmetic on the id)."""
    shift = res - parent_res
    assert shift >= 0
    d = 1 << shift
    tx = tx_from_cell_expr(cell)
    ty = ty_from_cell_expr(cell)
    r_bits = parent_res * (1 << 58)
    return (
        f"({r_bits} + CAST(floor({ty} / {d}) AS BIGINT) * {1 << 29}"
        f" + CAST(floor({tx} / {d}) AS BIGINT))"
    )


def ring_expr(cell: str, res: int, k_lat: int | str,
              k_lon: int | str) -> str:
    """Spark SQL array of the UNIQUE cells within ``k_lat`` rows and
    ``k_lon`` columns of ``cell`` (a (2·k_lat+1) × (2·k_lon+1) block at
    resolution ``res``; k_lat = k_lon = k is the Chebyshev k-disk); lon
    wraps.  Widths are ints or SQL expressions (evaluated per row).

    Lat rows outside [0, n) are DROPPED, never clamped — clamping would
    emit the same top/bottom-row cell twice, and a duplicated ring cell
    makes the tiled kNN join count one data row at two ranks, silently
    dropping the true kth neighbor for polar-row queries.  For the same
    reason lon-wrap collisions (2·k_lon+1 ≥ n) are removed by
    ``array_distinct``."""
    n = nside(res)
    tx = tx_from_cell_expr(cell)
    ty = ty_from_cell_expr(cell)
    return (
        f"array_distinct(flatten(transform("
        f"sequence(greatest({ty} - {k_lat}, 0), "
        f"least({ty} + {k_lat}, {n - 1})), "
        f"_ry -> transform(sequence({tx} - {k_lon}, {tx} + {k_lon}), "
        f"_rx -> {res * (1 << 58)} + _ry * {1 << 29} + pmod(_rx, {n})))))"
    )


# ---------------------------------------------------------------- numpy side


def cell_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    n = nside(res)
    tx = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return (res << 58) + (ty << 29) + tx
