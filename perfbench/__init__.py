"""The repository's benchmark: seeded workloads run through the engine's
public calls, with end-to-end metrics and a traced per-layer run.  Entry
point: ``python3 perfbench/run.py --help``."""
