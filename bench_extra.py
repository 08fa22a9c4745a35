"""Extra benchmark harness (guide §1.4) — NOT the driver's bench.py.

Times individual declared queries with the noop sink so the computation
is isolated from the sink, at any SF, with per-query reps and optional
`.explain("formatted")` capture.  Usage:

    python bench_extra.py --sf /root/testdata/sf1.0 --reps 2 \
        --queries loo_idw_cv,ann_topk_ivf --explain plans/r07 --tag before

Prints one JSON line: {"queries": {name: best_sec}, "sf": ..., "reps": N}.
`bench.py` stays frozen; numbers from this file are cited in
OPTIMIZATION_r07.md.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import bench  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get(
        "SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset (default: all bench names)")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default=None,
                    help="directory to write <query>_<tag>.txt plans into")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--count", action="store_true",
                    help="use .count() like bench.py instead of noop sink")
    args = ap.parse_args()

    names = (args.queries.split(",") if args.queries
             else list(bench.BENCH_NAMES))

    import __spark_entry__ as entry
    from geostatssolvers_jl_spark.session import get_spark

    spark = get_spark("bench_extra", master=f"local[{args.cpus}]")
    qs = dict(entry.queries())
    # the headline is timed by bench._pipeline, not a queries() entry —
    # expose it here under the same name for noop/subset timing
    qs["kriging_pipeline"] = bench._pipeline
    timings: dict[str, float] = {}
    for name in names:
        if args.explain:
            df = qs[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            outdir = Path(args.explain)
            outdir.mkdir(parents=True, exist_ok=True)
            (outdir / f"{name}_{args.tag}.txt").write_text(buf.getvalue())
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.time()
            df = qs[name](spark, args.sf)
            if args.count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        print(f"## {name}: {timings[name]}s", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    print(json.dumps({"queries": timings, "sf": args.sf,
                      "reps": args.reps, "sink":
                      ("count" if args.count else "noop")}))


if __name__ == "__main__":
    main()
