"""Tests of the benchmark's own parts: the /proc sampler, the output
comparison, the trace readers (against a toy query's event log and
plan) and a smoke run of each workload on a small input shape.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pandas as pd
import pytest

from perfbench import layers, procstat, trace
from perfbench.inputs import input_dir
from perfbench.workloads import (
    WORKLOADS, Ctx, compare, load_references, reset_engine_caches,
)

BURN = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.4: pass\n"


def test_cpu_of_exited_children_is_counted():
    pid = os.getpid()
    before = procstat.tree_cpu_s(pid)
    # a child that itself starts (and reaps) a burning grandchild, then
    # burns too and exits: both must reach our total through cutime
    code = f"import subprocess,sys\nsubprocess.run([sys.executable,'-c',{BURN!r}])\n" + BURN
    subprocess.run([sys.executable, "-c", code], check=True, timeout=60)
    assert procstat.tree_cpu_s(pid) - before >= 0.7


def test_rss_sampler_sees_a_live_child():
    child = subprocess.Popen([sys.executable, "-c",
                              "b = bytearray(200_000_000); import time; "
                              "time.sleep(1.5)"])
    try:
        with procstat.RssSampler(os.getpid()) as rss:
            time.sleep(1.0)
            assert rss.peak_mb >= 200
    finally:
        child.wait(timeout=30)
    assert child.returncode == 0


def test_compare_tolerates_rounding_but_not_wrong_rows():
    ref = pd.DataFrame({"id": [2, 1], "v": [0.5, 1.25]})
    assert compare(pd.DataFrame({"id": [1, 2], "v": [1.25 + 1e-9, 0.5]}),
                   ref) is None
    assert "values differ" in compare(
        pd.DataFrame({"id": [1, 2], "v": [1.26, 0.5]}), ref)
    assert "rows" in compare(pd.DataFrame({"id": [1], "v": [1.25]}), ref)
    assert "column id" in compare(
        pd.DataFrame({"id": [1, 3], "v": [1.25, 0.5]}), ref)


def test_profile_lines_are_summed():
    text = (
        "noise\n[graft-profile] pid=1 rows=10 search=1.50s kernel=0.25s "
        "arrow_in=0.10s\nWARN x\n[graft-profile] pid=2 rows=5 "
        "search=0.50s kernel=0.75s arrow_in=0.00s\n")
    got = trace.parse_profile_lines(text)
    assert got == {"rows": 15.0, "search_s": 2.0, "kernel_s": 1.0,
                   "arrow_in_s": 0.1}


def test_per_layer_names_are_unique_and_have_units():
    names = layers.per_layer_names()
    assert len(names) == len(set(names)) <= 128
    assert layers.unit_of("neighbors.search_rows_per_s") == "1/s"
    assert layers.unit_of("krige.py_sent_mb") == "MB"
    assert layers.unit_of("krige.tasks") == "count"


# ------------------------------------------------------------ with Spark


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from geostatssolvers_jl_spark.session import get_spark

    logs = tmp_path_factory.mktemp("eventlog")
    spark = get_spark("perfbench-tests", master="local[2]", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": logs.as_uri(),
    })
    yield spark, logs
    spark.stop()


# the variogram's tile-pair join in miniature: 1,000 points replicated to
# a 3-offset ring of (dx, dy) VALUES, then equi-joined on the tile keys
TOY_RING_JOIN = """
SELECT p.id AS a, q.id AS b
FROM (SELECT _p.id, _p._tx + _d.dx AS _jx, _p._ty + _d.dy AS _jy
      FROM (SELECT id, id % 10 AS _tx, 0 AS _ty FROM range(1000)) _p
      CROSS JOIN (VALUES (-1, 0), (0, 0), (1, 0)) _d(dx, dy)) p
JOIN (SELECT id, id % 10 AS _tx, 0 AS _ty FROM range(100)) q
  ON q._tx = p._jx AND q._ty = p._jy
"""


def _drained_log(spark, logs):
    # the event log is complete once the context stops; read the
    # in-progress file after forcing the listener bus to drain
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return trace.EventLog(
        trace.find_event_log(logs, spark.sparkContext.applicationId))


def test_toy_query_event_log_and_plan(traced_spark, tmp_path):
    spark, logs = traced_spark
    tracer = trace.Tracer(spark, "toy")
    with tracer.span("q") as sp:
        df = spark.sql(TOY_RING_JOIN)
        df = df.mapInPandas(lambda it: (p for p in it), schema=df.schema)
        # 3,000 ring rows, 200 of them off the tile range (_jx -1 or 10);
        # each of the other 2,800 meets the 10 points of its tile
        assert len(df.toPandas()) == 28_000
        nodes = trace.plan_nodes(df)
    assert sp["end"] >= sp["start"]
    assert spark.sparkContext.getLocalProperty(trace.DESC_KEY) is None
    walked = {n["node"]: n["metrics"] for n in nodes}
    sent = walked["MapInPandas"]["pythonDataSent"]
    assert sent > 0

    ev = _drained_log(spark, logs)
    tags = tracer.tags_under(sp["id"])
    plans = ev.plans_for(tags)
    assert plans, "the tagged execution is in the log"
    assert trace.ring_replication(ev, plans) == (3000.0, 1000.0)
    assert trace.tile_pair_rows(ev, plans) == 28_000.0
    m = trace.op_metrics(ev, tags, sp["end"] - sp["start"], 2)
    assert m["tasks"] >= 1 and m["task_s"] > 0
    # the event log and the plan walker read the same accumulator
    assert m["py_sent_mb"] == pytest.approx(sent / 1e6)
    assert m["py_s"] > 0


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_smoke_on_small_shape(name, traced_spark, tmp_path):
    spark, logs = traced_spark
    wl = WORKLOADS[name]
    ctx = Ctx(spark, input_dir(tmp_path, "smoke", 0), tmp_path / "s")
    refs = load_references(wl.ops, ctx, tmp_path)
    reset_engine_caches(spark)
    tracer = trace.Tracer(spark, f"smoke-{name}")
    spans, rows_by_op = {}, {}
    for op in wl.ops:
        with tracer.span(op.name) as spans[op.name]:
            rows = rows_by_op[op.name] = op.rows(ctx, op.call(ctx))
        assert len(rows) > 0
        assert op.check(rows, refs[op.name]) is None, op.name
        floats = [c for c in rows.columns
                  if pd.api.types.is_float_dtype(rows[c])]
        if floats:
            bad = rows.assign(**{floats[-1]: rows[floats[-1]] + 1.0})
        else:
            bad = rows.iloc[:-1]
        assert op.check(bad, refs[op.name]) is not None

    # the layer readers find their plan nodes in the real plans
    if name == "tiled_join":
        npairs = spark.sql(
            "SELECT sum(npairs) AS n FROM _mat_vario_emp").collect()[0]["n"]
    extra = layers.after_iteration(name, ctx, rows_by_op)
    got = layers.from_event_log(name, _drained_log(spark, logs), tracer,
                                {"spans": spans, "extra": extra}, 2)
    reset_engine_caches(spark)
    if name == "grid_krige":
        assert got["lineage.commit_s"] > 0
        assert got["lineage.written_mb"] > 0
    elif name == "tiled_join":
        from geostatssolvers_jl_spark.variography import _SUBDIV

        # every ring is at most (2r+1)^2 tiles, the variogram's the widest
        assert 1 < got["tiling.replication_factor"] <= (2 * _SUBDIV + 1) ** 2
        # the tile join's output is every pair the variogram bins
        assert got["variography.pair_rows"] == npairs > 0
        assert 0 < got["variography.pair_yield"] < 1
        assert 0 < got["neighbors.tiled.pair_yield"] <= 1
    else:
        assert 0 < got["webtext.similarity.topk_yield"] <= 1
        assert got["webtext.dedup.lsh_candidates"] > 0
