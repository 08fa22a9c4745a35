"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where an
``oracle_sql()`` entry exists, the oracle on DuckDB over the same parquet
tables; compares row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from geostatssolvers_jl_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def run(sf_dir: str, only: list[str]) -> int:
    # local[SPARK_GRAFT_CPUS], else local[<this machine's cores>]
    spark = get_spark("check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    if only:
        unknown = [n for n in only if n not in qs]
        if unknown:
            # a misspelled name must NOT silently produce a passing gate
            # that checked nothing
            print(f"unknown queries: {unknown}")
            return 1
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            srows = [tuple(norm(v) for v in r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            failures += 1
            continue
        ts = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows ({ts:.1f}s) [rows-only]")
            if len(srows) == 0:
                print(f"FAIL  {name}: zero rows")
                failures += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = [tuple(norm(v) for v in r) for r in res.fetchall()]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            failures += 1
            continue
        ok = True
        if cols != dcols:
            print(f"FAIL  {name}: columns {cols} != {dcols}")
            ok = False
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount {len(srows)} != {len(drows)}")
            ok = False
        if ok:
            ss, dd = sorted(srows), sorted(drows)
            if ss != dd:
                bad = [
                    (a, b) for a, b in zip(ss, dd) if a != b
                ][:3]
                print(f"FAIL  {name}: value mismatch, e.g. {bad}")
                ok = False
        if ok:
            print(f"ok    {name}: {len(srows)} rows ({ts:.1f}s)")
        else:
            failures += 1
    spark.stop()
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]
    sys.exit(1 if run(sf, only) else 0)
