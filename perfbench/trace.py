"""Tracing for the benchmark's traced runs.

Four readers, all outside the engine:

* `Tracer` keeps spans (name, start, end, parent, run id) in memory and
  tags every Spark job started inside a span with a job description
  ``pb|<run>|<span>|<name>``, so event-log jobs and SQL executions map
  back to spans;
* `plan_nodes` walks a DataFrame's executed plan after its action,
  descending through AQE query stages, for per-node SQL metrics;
* `EventLog` parses an uncompressed, non-rolling Spark event log into
  per-stage task metrics and per-execution plan-node metrics;
* `parse_profile_lines` sums the engine's ``[graft-profile]`` lines.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

DESC_KEY = "spark.job.description"
ROWS = "number of output rows"


# ------------------------------------------------------------------ spans


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def tag(self, span: dict) -> str:
        return f"pb|{self.run_id}|{span['id']}|{span['name']}"

    @contextmanager
    def span(self, name: str):
        sp = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobDescription(self.tag(sp))
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            sc.setJobDescription(self.tag(self._stack[-1])
                                 if self._stack else None)

    def tags_under(self, span_id: int) -> set[str]:
        """Job descriptions of ``span_id`` and every span below it."""
        ids, changed = {span_id}, True
        while changed:
            changed = False
            for sp in self.spans:
                if sp["parent"] in ids and sp["id"] not in ids:
                    ids.add(sp["id"])
                    changed = True
        return {self.tag(sp) for sp in self.spans if sp["id"] in ids}

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1, default=str))


# ------------------------------------------------------------ plan walker


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def plan_nodes(df) -> list[dict]:
    """Per-node SQL metrics of ``df``'s executed plan, pre-order.  Call
    after an action on ``df`` itself; AQE query stages hide their subtree
    from ``children()``, so the walk descends through ``plan()``."""
    out: list[dict] = []

    def visit(p, depth: int) -> None:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(p.executedPlan(), depth)
        if cls.endswith("QueryStageExec"):
            return visit(p.plan(), depth)
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append({"node": p.nodeName(), "depth": depth,
                    "metrics": metrics})
        for c in _scala_seq(p.children()):
            visit(c, depth + 1)

    visit(df._jdf.queryExecution().executedPlan(), 0)
    return out


# ------------------------------------------------------------- event log


@dataclass
class Node:
    name: str
    desc: str                         # the node's one-line plan string
    metrics: dict[str, int]           # metric name -> accumulator id
    children: list["Node"] = field(default_factory=list)


def _node(info: dict) -> Node:
    return Node(info["nodeName"], info.get("simpleString", ""),
                {m["name"]: m["accumulatorId"] for m in info["metrics"]},
                [_node(c) for c in info["children"]])


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Task and SQL metrics of one application, grouped by job
    description (the span tag)."""

    def __init__(self, path: Path):
        self.stage_desc: dict[int, str | None] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.exec_desc: dict[int, str | None] = {}
        self.exec_plan: dict[int, Node] = {}
        self.exec_text: dict[int, str] = {}   # physical plan description
        self.exec_ms: dict[int, list[int]] = {}   # [start, end] epoch ms
        self.acc: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            self.stage_desc[e["Stage Info"]["Stage ID"]] = props.get(DESC_KEY)
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.setdefault(e["Stage ID"], []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "sr": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "sw": sw.get("Shuffle Bytes Written", 0),
            })
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    self.acc[a["ID"]] = self.acc.get(a["ID"], 0.0) + _num(
                        a.get("Update"))
        elif kind.endswith("SQLExecutionStart"):
            eid = e["executionId"]
            self.exec_desc[eid] = e.get("description")
            self.exec_plan[eid] = _node(e["sparkPlanInfo"])
            self.exec_text[eid] = e.get("physicalPlanDescription", "")
            self.exec_ms[eid] = [e["time"], e["time"]]
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.exec_ms:
                self.exec_ms[e["executionId"]][1] = e["time"]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.exec_plan[e["executionId"]] = _node(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, v in e.get("accumUpdates", []):
                self.acc[acc_id] = self.acc.get(acc_id, 0.0) + _num(v)

    def tasks_for(self, tags: set[str]) -> list[dict]:
        return [t for sid, ts in self.tasks.items()
                if self.stage_desc.get(sid) in tags for t in ts]

    def plans_for(self, tags: set[str]) -> list[Node]:
        return [p for eid, p in self.exec_plan.items()
                if self.exec_desc.get(eid) in tags]

    def value(self, node: Node, metric: str) -> float:
        acc_id = node.metrics.get(metric)
        return self.acc.get(acc_id, 0.0) if acc_id is not None else 0.0


def walk(plans: list[Node]):
    """Every node of ``plans`` once per accumulator set: a cached subtree
    that several executions show is counted once."""
    seen: set[tuple] = set()
    stack = list(plans)
    while stack:
        n = stack.pop()
        key = (n.name, tuple(sorted(n.metrics.values())))
        if n.metrics and key in seen:
            continue
        seen.add(key)
        yield n
        stack.extend(n.children)


def input_rows(ev: EventLog, node: Node) -> float:
    """Rows flowing into ``node``: output rows of the nearest descendant
    on each input branch that counts them."""
    total = 0.0
    for c in node.children:
        if ROWS in c.metrics:
            total += ev.value(c, ROWS)
        else:
            total += input_rows(ev, c)
    return total


def sum_metric(ev: EventLog, plans: list[Node], metric: str) -> float:
    return sum(ev.value(n, metric) for n in walk(plans) if metric in n.metrics)


def op_metrics(ev: EventLog, tags: set[str], wall_s: float,
               cores: int) -> dict[str, float]:
    """Engine metrics of one timed call, from its tagged jobs."""
    tasks = ev.tasks_for(tags)
    plans = ev.plans_for(tags)
    run = [t["run_ms"] / 1e3 for t in tasks]
    task_s = sum(run)
    med = statistics.median(run) if run else 0.0
    return {
        "wall_s": wall_s,
        "task_s": task_s,
        "core_util": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "tasks": float(len(tasks)),
        "task_skew": max(run) / med if med > 0 else 1.0,
        "shuffle_write_mb": sum(t["sw"] for t in tasks) / 1e6,
        "shuffle_read_mb": sum(t["sr"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        "py_sent_mb": sum_metric(ev, plans,
                                 "data sent to Python workers") / 1e6,
        "py_recv_mb": sum_metric(ev, plans,
                                 "data returned from Python workers") / 1e6,
        "py_s": sum_metric(ev, plans, "time to run Python workers") / 1e3,
    }


def is_join(name: str) -> bool:
    return name.endswith("Join") or name == "CartesianProduct"


def _branch_rows(ev: EventLog, node: Node) -> float:
    """Rows out of ``node``'s branch: its own count, else the nearest
    counting descendants'."""
    if ROWS in node.metrics:
        return ev.value(node, ROWS)
    return input_rows(ev, node)


def _holds_ring(node: Node) -> bool:
    """Whether ``node``'s branch, up to the next join, holds a tile-ring
    relation: ``tiling.ring_table``'s mapInPandas (output ``cell,
    neighbor``) or the variogram's ``VALUES`` ring of ``(dx, dy)``
    offsets."""
    if node.name == "MapInPandas" and "neighbor#" in node.desc:
        return True
    if node.name == "LocalTableScan" and "[dx#" in node.desc:
        return True
    return not is_join(node.name) and any(_holds_ring(c)
                                          for c in node.children)


def ring_replication(ev: EventLog, plans: list[Node]
                     ) -> tuple[float, float]:
    """(rows out, rows in) of the joins that replicate rows to their tile
    ring: a join with a ring relation on one side; rows in are the rows of
    the other side."""
    out = inp = 0.0
    for n in walk(plans):
        if not is_join(n.name) or len(n.children) != 2:
            continue
        ring = [_holds_ring(c) for c in n.children]
        if ring.count(True) == 1:
            out += ev.value(n, ROWS)
            inp += _branch_rows(ev, n.children[ring.index(False)])
    return out, inp


def tile_pair_rows(ev: EventLog, plans: list[Node]) -> float:
    """Output rows of the variogram's tile equi-join (``q._tx = p._jx AND
    q._ty = p._jy``).  The plan folds the ``0 < h < maxlag`` filter into
    the join's condition, so these are the pairs the variogram bins."""
    return sum(ev.value(n, ROWS) for n in walk(plans)
               if is_join(n.name) and "_jx#" in n.desc
               and "_tx#" in n.desc)


def lineage_s(ev: EventLog, tags: set[str]) -> float:
    """Seconds of the tagged SQL executions that are ``lineage``'s own
    bookkeeping: the pending-units anti-join (the work probe, the unit
    list and the per-unit counts joined to it) and the manifest append,
    i.e. every write that runs no Python kernel.  The data write, which
    runs the estimation itself, is left out."""
    total = 0
    for eid, text in ev.exec_text.items():
        if ev.exec_desc.get(eid) not in tags:
            continue
        if "LeftAnti" in text or ("InsertIntoHadoopFsRelationCommand" in text
                                  and "MapInPandas" not in text):
            start, end = ev.exec_ms[eid]
            total += end - start
    return total / 1e3


_RANKING = ("Window", "WindowGroupLimit")


def _ranks_below(node: Node) -> bool:
    """Whether a ranking node sits below ``node`` before the next join."""
    return any(c.name in _RANKING
               or (not is_join(c.name) and _ranks_below(c))
               for c in node.children)


def ranked_rows(ev: EventLog, plans: list[Node]) -> float:
    """Candidate rows a top-k ranks: the rows into the lowest ranking node
    (``Window`` / ``WindowGroupLimit``) of each ranking chain; the nodes
    above it only see what it kept."""
    return sum(input_rows(ev, n) for n in walk(plans)
               if n.name in _RANKING and not _ranks_below(n))


def find_event_log(log_dir: Path, app_id: str) -> Path:
    for p in (log_dir / app_id, log_dir / f"{app_id}.inprogress"):
        if p.is_file():
            return p
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


# ---------------------------------------------------------- engine lines


_PROFILE = re.compile(
    r"\[graft-profile\] pid=\d+ rows=(\d+) search=([\d.]+)s "
    r"kernel=([\d.]+)s arrow_in=([\d.]+)s")


def parse_profile_lines(text: str) -> dict[str, float]:
    """Sums of the broadcast kNN kernel's per-task profile lines."""
    tot = {"rows": 0.0, "search_s": 0.0, "kernel_s": 0.0, "arrow_in_s": 0.0}
    for m in _PROFILE.finditer(text):
        tot["rows"] += int(m.group(1))
        tot["search_s"] += float(m.group(2))
        tot["kernel_s"] += float(m.group(3))
        tot["arrow_in_s"] += float(m.group(4))
    return tot
