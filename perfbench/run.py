"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload grid_krige --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root.  Everything the run writes (inputs,
references, Spark scratch, event logs, spans, logs) goes under
``.perfbench/`` in that root.

Untraced (``--trace 0``): sets the session up (JVM launch, session
start and one warm-up pass over a separate input of the same shape) and
reports that as ``setup_s``; then repeats the workload's calls for
``--seconds`` (at least once) and reports the median iteration
``wall_s`` and ``cpu_s`` (driver, JVM and Python workers) and the peak
summed RSS of the driver and the Python workers (``py_peak_rss_mb``; the
JVM is left out, as G1 sizes its heap by its own policy).  Every call's
rows are checked against a reference computed once per seed outside the
timed region.

Traced (``--trace 1``): alternates traced passes over the calls of every
workload (``corpus_ann`` included) with untraced passes over the named
workload's calls, each on its own input for the seed, in one session
with the Spark event log on, then reports the per-layer metrics (see
``layers.py``) and the tracing overhead of the named workload.  Running
every workload means every per-layer metric is measured, not only those
of the layers the named workload calls.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s",
              "py_peak_rss_mb": "MB"}


def _prepare_process(work: Path, run_id: str, trace: bool):
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and send their stderr (including the engine's profile
    lines) to a log file; this program's own messages keep going to the
    original stderr.  Returns the log path."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = os.fspath(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.fspath(tmp / "spark")
    # no /tmp/hsperfdata_<user> file for spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, (os.environ.get("SPARK_LAUNCHER_OPTS"),
                      "-XX:-UsePerfData")))
    if trace:
        os.environ["SPARK_GRAFT_PROFILE"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_PROFILE", None)
    sys.path.insert(0, os.fspath(ROOT))
    log = work / "logs" / f"{run_id}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    ours = os.fdopen(os.dup(2), "w", buffering=1)
    fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = ours
    return log


def _session(work: Path, cores: int, app: str, trace: bool):
    from geostatssolvers_jl_spark.session import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.local.dir": os.fspath(tmp / "spark"),
        "spark.sql.warehouse.dir": os.fspath(tmp / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.fspath(tmp / "hadoop"),
        # no /tmp/hsperfdata_<user> file for the JVM
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": (work / "eventlog").resolve().as_uri(),
        })
    return get_spark(app, master=f"local[{cores}]", extra_conf=conf)


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # gateway already gone; the process wait below decides
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _run_ops(ops, ctx, tracer=None):
    """One iteration: every op in order.  Returns (wall seconds by op,
    outputs by op, errors by op, spans by op)."""
    from . import trace as T

    outs, errors, spans, walls = {}, {}, {}, {}
    for op in ops:
        t_op = time.perf_counter()
        try:
            if tracer is None:
                outs[op.name] = op.call(ctx)
            else:
                with tracer.span(op.name) as sp:
                    outs[op.name] = op.call(ctx)
                spans[op.name] = sp
                if ctx.last_df is not None:
                    sp["plan"] = T.plan_nodes(ctx.last_df)
        except Exception:
            errors[op.name] = traceback.format_exc()
        walls[op.name] = time.perf_counter() - t_op
        ctx.last_df = None
    print(f"iteration: { {k: round(v, 2) for k, v in walls.items()} }",
          file=sys.stderr)
    return walls, outs, errors, spans


def _check(ops, ctx, refs, outs, errors):
    rows = {}
    for op in ops:
        if op.name in errors:
            continue
        try:
            rows[op.name] = op.rows(ctx, outs[op.name])
            err = op.check(rows[op.name], refs[op.name])
        except Exception:
            err = traceback.format_exc()
        if err:
            errors[op.name] = err
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench"
    run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    trace_on = bool(args.trace)
    log = _prepare_process(work, run_id, trace_on)

    from .inputs import WARM_SEED, input_dir
    from .procstat import RssSampler
    from .workloads import (
        WORKLOADS, Ctx, load_references, reset_engine_caches,
    )

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    # a traced run measures every layer, so it runs every workload, the
    # named one first so that its warm-up pays the cold start as untraced
    ops = {w.name: w.ops for w in [wl] + [
        w for w in WORKLOADS.values() if trace_on and w is not wl]}
    cores = len(os.sched_getaffinity(0))
    sf_dirs = {name: input_dir(work, name, args.seed) for name in ops}
    warm_dirs = {name: input_dir(work, name, WARM_SEED) for name in ops}
    scratch = work / "scratch" / run_id

    spark = None
    try:
        with RssSampler(os.getpid()) as rss:
            t0 = time.perf_counter()
            spark = _session(work, cores, f"perfbench-{run_id}", trace_on)
            start = time.perf_counter() - t0
            wt = {}
            for name, w_ops in ops.items():
                warm = Ctx(spark, warm_dirs[name], scratch / "warm")
                for op in w_ops:
                    t_op = time.perf_counter()
                    op.rows(warm, op.call(warm))
                    wt[op.name] = time.perf_counter() - t_op
                reset_engine_caches(spark)
            warm_s = sum(wt[op.name] for op in wl.ops)
            print(f"setup: start {start:.2f} s, warm-up "
                  f"{ {k: round(v, 2) for k, v in wt.items()} }",
                  file=sys.stderr)
            ctxs = {name: Ctx(spark, sf_dirs[name], scratch / "run")
                    for name in ops}
            t0 = time.perf_counter()
            refs = {name: load_references(ops[name], ctxs[name], work)
                    for name in ops}
            print(f"references: {time.perf_counter() - t0:.2f} s",
                  file=sys.stderr)
            reset_engine_caches(spark)
            if trace_on:
                res = _traced(wl, ops, ctxs, refs, args, log)
            else:
                res = _untraced(wl.ops, ctxs[wl.name], refs[wl.name],
                                args, rss)
        app_id = spark.sparkContext.applicationId
        t0 = time.perf_counter()
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        _shutdown_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
    print(f"teardown: {time.perf_counter() - t0:.2f} s", file=sys.stderr)

    for op, err in res["errors"].items():
        print(f"[{op}] FAILED\n{err}", file=sys.stderr)
    attempted, failed = res["attempted"], res["failed"]
    if trace_on:
        metrics = _traced_metrics(res, work, app_id, cores, start, warm_s)
    else:
        metrics = {
            "setup_s": (start + warm_s, 1),
            "wall_s": (statistics.median(res["walls"]), len(res["walls"])),
            "cpu_s": (statistics.median(res["cpus"]), len(res["cpus"])),
            "py_peak_rss_mb": (res["py_peak_rss_mb"], 1),
        }
        for name, (v, n) in metrics.items():
            print(f"{wl.name} {name} = {v:.4f} {END_TO_END[name]} "
                  f"(median of {n})")
        print(f"{wl.name} fail_ratio = {failed}/{attempted} = "
              f"{failed / attempted:.4f}")
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, (v, _) in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _untraced(ops, ctx, refs, args, rss):
    from .procstat import tree_cpu_s
    from .workloads import reset_engine_caches

    walls, cpus, errors = [], [], {}
    attempted = failed = 0
    rss.reset()
    begin = time.monotonic()
    while True:
        reset_engine_caches(ctx.spark)
        cpu0 = tree_cpu_s(rss.root)
        t0 = time.perf_counter()
        _, outs, errs, _ = _run_ops(ops, ctx)
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s(rss.root) - cpu0)
        _check(ops, ctx, refs, outs, errs)
        attempted += len(ops)
        failed += len(errs)
        errors.update(errs)
        if time.monotonic() - begin >= args.seconds:
            break
    return {"walls": walls, "cpus": cpus, "py_peak_rss_mb": rss.peak_mb,
            "attempted": attempted, "failed": failed, "errors": errors}


def _traced(wl, ops, ctxs, refs, args, log):
    """Alternate a traced pass over every call in ``ops`` (workload name
    -> calls) with an untraced pass over ``wl``'s calls until
    ``--seconds`` have passed (at least one of each), then time the
    driver-side layer probes.  The untraced and traced walls of ``wl``'s
    calls give the tracing overhead."""
    from . import layers
    from .trace import Tracer
    from .workloads import reset_engine_caches

    spark = ctxs[wl.name].spark
    tracer = Tracer(spark, os.path.basename(log).rsplit(".", 1)[0])
    plain, traced, errors = [], [], {}
    iters = {name: [] for name in ops}
    attempted = failed = 0
    begin = time.monotonic()
    rounds = 0
    while True:
        # the first pass over the timed input runs ~10% slower than later
        # ones, so an extra untraced pass before the first round keeps
        # that out of the overhead
        order = (False, True, False) if rounds == 0 else (True, False)
        for i, traced_iter in enumerate(order):
            for name, w_ops in (ops.items() if traced_iter
                                else [(wl.name, wl.ops)]):
                ctx = ctxs[name]
                reset_engine_caches(spark)
                sys.stderr.flush()
                start = os.path.getsize(log)
                walls, outs, errs, spans = _run_ops(
                    w_ops, ctx, tracer if traced_iter else None)
                end = os.path.getsize(log)
                rows = _check(w_ops, ctx, refs[name], outs, errs)
                attempted += len(w_ops)
                failed += len(errs)
                errors.update(errs)
                if name == wl.name and (rounds or i):
                    (traced if traced_iter else plain).append(
                        sum(walls.values()))
                if traced_iter and not errs:
                    extra = layers.after_iteration(name, ctx, rows)
                    if name == "grid_krige":
                        extra.update(layers.profile_totals(log, start, end))
                    iters[name].append({"spans": spans, "extra": extra})
        rounds += 1
        if time.monotonic() - begin >= args.seconds:
            break
    reset_engine_caches(spark)
    probes = layers.probe(ctxs, tracer)
    tracer.dump(log.parent.parent / "traces" / f"{tracer.run_id}.json")
    return {"plain": plain, "traced": traced, "iters": iters,
            "probes": probes, "tracer": tracer, "attempted": attempted,
            "failed": failed, "errors": errors}


def _traced_metrics(res, work, app_id, cores, start, warm_s):
    from . import layers, trace

    ev = trace.EventLog(trace.find_event_log(work / "eventlog", app_id))
    # a layer whose every traced pass failed reports 0; the failure is
    # counted in ``failed``
    values = {name: 0.0 for name in layers.per_layer_names()}
    for name, its in res["iters"].items():
        values.update(layers.median_dicts([
            layers.from_event_log(name, ev, res["tracer"], it, cores)
            for it in its]))
    values.update(res["probes"])
    values["session.start_s"] = start
    values["session.warm_s"] = warm_s
    values["trace.overhead_s"] = (statistics.median(res["traced"])
                                  - statistics.median(res["plain"]))
    return {k: {"value": float(values[k]), "unit": layers.unit_of(k)}
            for k in layers.per_layer_names()}


if __name__ == "__main__":
    if __package__ in (None, ""):
        sys.path.insert(0, os.fspath(HERE.parent))
        __package__ = "perfbench"
        import perfbench  # noqa: F401
    sys.exit(main())
