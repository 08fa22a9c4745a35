"""The benchmark's workloads: what each runs, its reference rows and the
check that compares them.

Every operation is a public call a user makes: the resumable kriging
pipeline, or a registered query from ``__spark_entry__.queries()``.
References are computed once per input seed, outside any timed region,
by an independent route: the DuckDB ``oracle_sql()`` text where it is
fast enough at these sizes, else the engine's other physical tier.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import numpy as np
import pandas as pd

# float comparison: the tiled kriging path differs from the broadcast path
# by ~1e-11 relative (operators/tiled.py); entry outputs are rounded to 6
# decimals, so two engines can land one unit apart in the 6th decimal
RTOL, ATOL = 1e-7, 2e-6

KRIGE_UNITS = 16
KRIGE_K = 8
KRIGE_REF_CELLS = 4_000


@dataclass
class Ctx:
    """What an operation needs: the session, the input directory and a
    private scratch directory for anything it writes."""

    spark: Any
    sf_dir: str
    scratch: Path
    last_df: Any = None               # the DataFrame an entry call collected


@dataclass
class Op:
    name: str
    call: Callable[[Ctx], Any]        # timed: the user's call and its sink
    reference: Callable[[Ctx], pd.DataFrame]
    rows: Callable[[Ctx, Any], pd.DataFrame] = lambda ctx, out: out
    # (rows, reference rows) -> None when they agree, else the reason
    check: Callable[[pd.DataFrame, pd.DataFrame], str | None] = (
        lambda got, ref: compare(got, ref))


@dataclass
class Workload:
    name: str
    ops: list[Op]


# ------------------------------------------------------------ comparisons


def compare(got: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    """None when ``got`` holds the reference rows, else the reason."""
    if list(got.columns) != list(ref.columns):
        return f"columns {list(got.columns)} != {list(ref.columns)}"
    if len(got) != len(ref):
        return f"{len(got)} rows != {len(ref)} reference rows"
    keys = [c for c in ref.columns if not pd.api.types.is_float_dtype(ref[c])]
    g = got.sort_values(keys, kind="stable").reset_index(drop=True)
    r = ref.sort_values(keys, kind="stable").reset_index(drop=True)
    for c in ref.columns:
        if c in keys:
            if not (g[c].astype(str).to_numpy()
                    == r[c].astype(str).to_numpy()).all():
                return f"column {c} differs"
        else:
            a = g[c].to_numpy(np.float64)
            b = r[c].to_numpy(np.float64)
            if not np.isclose(a, b, rtol=RTOL, atol=ATOL,
                              equal_nan=True).all():
                bad = int((~np.isclose(a, b, rtol=RTOL, atol=ATOL,
                                       equal_nan=True)).sum())
                return f"column {c}: {bad} values differ"
    return None


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _oracle(name: str) -> Callable[[Ctx], pd.DataFrame]:
    """The reference of registry entry ``name``: its DuckDB oracle."""
    def reference(ctx: Ctx) -> pd.DataFrame:
        import __spark_entry__ as E

        con = _duck(ctx.sf_dir)
        try:
            return con.execute(E.oracle_sql()[name]).df()
        finally:
            con.close()

    return reference


def _entry(name: str) -> Callable[[Ctx], pd.DataFrame]:
    def call(ctx: Ctx) -> pd.DataFrame:
        import __spark_entry__ as E

        ctx.last_df = E.queries()[name](ctx.spark, ctx.sf_dir)
        return ctx.last_df.toPandas()

    return call


def reset_engine_caches(spark) -> None:
    """Drop the engine's cross-call materializations so no iteration
    reuses another's: ``__spark_entry__``'s materialized views and
    ``operators.tiled``'s last final-pairs relation."""
    import __spark_entry__ as E
    from geostatssolvers_jl_spark.operators import tiled

    with E._MAT_LOCK:
        for entry in E._MAT_CACHE.values():
            entry[1].unpersist()
        E._MAT_CACHE.clear()
    with tiled._PAIRS_LOCK:
        for entry in tiled._LAST_PAIRS.values():
            entry[1].unpersist()
        tiled._LAST_PAIRS.clear()
    spark.catalog.clearCache()


# ------------------------------------------------------------ grid_krige


def krige_grid():
    """The 360×180 world grid: 64,800 cells, for the warm-up too, so that
    warming runs the Arrow, kernel and write paths at their timed size."""
    from geostatssolvers_jl_spark.grid import CartesianGrid

    return CartesianGrid.from_extent((-180.0, -90.0), (180.0, 90.0),
                                     (360, 180))


def krige_model():
    from geostatssolvers_jl_spark.operators.kriging import KrigingModel
    from geostatssolvers_jl_spark.variogram import GaussianVariogram

    # Haversine km; pages are spread over the globe ~150 km apart.  The
    # nugget keeps the Gaussian systems well conditioned: without it the
    # estimates swing far outside the data range and near-singular
    # batches take the per-row fallback solve
    return KrigingModel(variogram=GaussianVariogram(
        range=1500.0, sill=2.0e4, nugget=2.0e3))


def krige_pages(spark, sf_dir: str):
    """The pipeline's own data side (`pipelines.kriging_pages_resumable`)."""
    from geostatssolvers_jl_spark.sources import pages as P

    return P.geocode(P.load_pages(spark, sf_dir)).selectExpr(
        "doc_id AS data_id", "lon", "lat",
        "CAST(length(text) AS DOUBLE) AS z")


def _krige_call(ctx: Ctx):
    from geostatssolvers_jl_spark.pipelines import kriging_pages_resumable

    base = ctx.scratch / "lineage"
    shutil.rmtree(base, ignore_errors=True)
    out = kriging_pages_resumable(
        ctx.spark, ctx.sf_dir, os.fspath(base), krige_grid(),
        krige_model(), n_units=KRIGE_UNITS, maxneighbors=KRIGE_K)
    out.count()
    return out


def _krige_rows(ctx: Ctx, out) -> pd.DataFrame:
    return out.select("cell_id", "z", "z_variance").toPandas()


def _krige_reference(ctx: Ctx) -> pd.DataFrame:
    """A seeded sample of cells solved on the driver with the brute-force
    kNN tier (`neighbors.topk_search`, one chunked GEMM over all pages)
    instead of the bucket index the pipeline's broadcast path uses at
    this size; the stacked solve is the engine's own
    `kriging.solve_systems`."""
    from geostatssolvers_jl_spark.distances import Haversine
    from geostatssolvers_jl_spark.neighbors import collect_points, topk_search
    from geostatssolvers_jl_spark.operators.kriging import solve_systems

    metric = Haversine(6371.0)
    data = collect_points(krige_pages(ctx.spark, ctx.sf_dir),
                          ["lon", "lat"], ["z"], id_col="data_id")
    grid = krige_grid()
    rng = np.random.RandomState(7)
    cells = np.sort(rng.choice(grid.ncells, KRIGE_REF_CELLS, replace=False))
    q = grid.centroids_np(cells)
    idx, dist, _ = topk_search(q, data.coords, KRIGE_K, metric)
    valid = idx >= 0
    safe = np.where(valid, idx, 0)
    zn = np.where(valid, data.values["z"][safe], 0.0)
    mu, var = solve_systems(krige_model(), q, data.coords[safe], zn, valid,
                            dist, metric, 1)
    return pd.DataFrame({"cell_id": cells.astype(np.int64),
                         "z": mu, "z_variance": var})


def check_krige(got: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    """Every grid cell once; the reference's sample of cells matches."""
    ncells = krige_grid().ncells
    if len(got) != ncells or got["cell_id"].nunique() != ncells:
        return f"{len(got)} rows for {ncells} cells"
    sub = got[got["cell_id"].isin(ref["cell_id"])]
    return compare(sub.reset_index(drop=True), ref)


# ------------------------------------------------ tiled_join, corpus_ann


def _dedup_reference(ctx: Ctx) -> pd.DataFrame:
    """MinHash-LSH candidates through the SQL signature build on Spark
    (the entry uses the numpy signature kernel); the DuckDB oracle is too
    slow at this size."""
    import __spark_entry__ as E
    from geostatssolvers_jl_spark.webtext.dedup import lsh_candidates128_sql

    E._register(ctx.spark, ctx.sf_dir, ("documents",))
    return ctx.spark.sql(lsh_candidates128_sql("spark")).toPandas()


def check_fit(got: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    """A variogram fit is an argmin of SSE over a candidate grid; when two
    candidates tie to float noise, the engine and the oracle may pick
    different ones.  Accept that only if the two minima agree."""
    err = compare(got, ref)
    if err is None or len(got) != 1 or len(ref) != 1:
        return err
    if np.isclose(got["sse_s"].iloc[0], ref["sse_s"].iloc[0], rtol=RTOL,
                  atol=0.0):
        return None
    return err


# ------------------------------------------------------------ registry


WORKLOADS: dict[str, Workload] = {
    "grid_krige": Workload("grid_krige", [
        Op("krige", _krige_call, _krige_reference, _krige_rows, check_krige),
    ]),
    "tiled_join": Workload("tiled_join", [
        Op("idw_tiled", _entry("idw_pages_tiled"),
           _oracle("idw_pages_tiled")),
        Op("vario_fit", _entry("variogram_fit"), _oracle("variogram_fit"),
           check=check_fit),
    ]),
    # not a workload of BENCHMARK.json: a run of it costs as much as the
    # two above together (its MinHash-LSH reference alone takes ~10 s a
    # seed).  Traced runs run it, so its layers are measured.
    "corpus_ann": Workload("corpus_ann", [
        Op("ann_ivf", _entry("ann_topk_ivf"), _oracle("ann_topk_ivf")),
        Op("dedup_lsh", _entry("dedup_minhash_lsh"), _dedup_reference),
    ]),
}


def load_references(ops: list[Op], ctx: Ctx, work: Path
                    ) -> dict[str, pd.DataFrame]:
    """References of ``ops`` on ``ctx``'s input, each computed once and
    kept as parquet in the work directory."""
    # keyed by this file's content too: a changed recipe recomputes
    recipe = hashlib.sha1(Path(__file__).read_bytes()).hexdigest()[:12]
    d = work / "refs" / f"{Path(ctx.sf_dir).name}-{recipe}"
    d.mkdir(parents=True, exist_ok=True)
    out = {}
    for op in ops:
        path = d / f"{op.name}.parquet"
        if not path.exists():
            tmp = path.with_suffix(".tmp")
            op.reference(ctx).to_parquet(tmp)
            tmp.rename(path)
        out[op.name] = pd.read_parquet(path)
    return out
