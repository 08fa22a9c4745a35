"""Seeded benchmark inputs.

Inputs come from the repository's own generators in ``tools/make_sf.py``
(``make_documents`` / ``make_embeddings``), imported unchanged.  Each
(shape, seed) pair is written once as a parquet directory under the
benchmark's work directory and reused by later runs in the same
checkout; the engine only ever sees that directory.
"""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# rows per table for each input shape.  The sizes keep one iteration of
# each workload near 5-10 s on a 4-core box, so that a whole run (JVM
# launch, warm-up, references, the timed loop) stays under a minute.
# ``smoke`` is the small shape of the benchmark's own tests.
SHAPES = {
    "grid_krige": {"documents": 20_000},
    "tiled_join": {"documents": 6_000},
    # traced runs only: smaller, as every traced run must also carry it
    "corpus_ann": {"documents": 3_000, "embeddings": 1_000},
    "smoke": {"documents": 2_000, "embeddings": 300},
}
# the warm-up input: the workload's own shape under a seed the benchmark
# never takes as ``--seed``, so warming runs every call at its timed size
# without touching the timed input
WARM_SEED = 2**32 - 1


def _make_sf():
    path = ROOT / "tools" / "make_sf.py"
    spec = importlib.util.spec_from_file_location("_perfbench_make_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def input_dir(work: Path, shape: str, seed: int) -> str:
    """The parquet directory for ``(shape, seed)``, generated if absent."""
    import numpy as np
    import pyarrow.parquet as pq

    tables = SHAPES[shape]
    sizes = "-".join(f"{t[0]}{n}" for t, n in sorted(tables.items()))
    out = work / "inputs" / f"{shape}-{sizes}-{seed}"
    done = out / "_done"
    if not done.exists():
        ms = _make_sf()
        out.mkdir(parents=True, exist_ok=True)
        rng = np.random.RandomState(seed)
        if "documents" in tables:
            pq.write_table(ms.make_documents(tables["documents"], rng),
                           out / "documents.parquet")
        if "embeddings" in tables:
            pq.write_table(ms.make_embeddings(tables["embeddings"], rng),
                           out / "embeddings.parquet")
        done.touch()
    return os.fspath(out)
