"""Read Spark's own status store and attribute task time to plan-node groups.

Works with ``spark.ui.enabled=false``: the SQL status store
(``sharedState().statusStore()``) keeps every execution's plan graph and SQL
metrics, and the app status store keeps per-stage and per-task times. (The
SQL metrics are not broken down per stage there, so attribution works on the
execution's totals.)

Whole-stage codegen fuses the LWW operators into one generated function, so
time is attributed per codegen cluster and per exchange, not per operator.
An execution's total task time (the sum over its stages) is split per
codegen pipeline. A pipeline's ``duration`` spans its task: the scan below
it, the shuffle read feeding it, non-codegen operators around it (a
SortAggregate) and the shuffle write it feeds. So each pipeline's duration
is split into

* ``scan time`` of the file scans it drives -> ``scan``
* ``fetch wait time`` / ``shuffle write time`` of the bucket repartition
  exchange -> ``bucket_shuffle``
* the rest -> the pipeline's group, decided by the operators it runs and
  the first stage boundary its rows reach (a broadcast, the bucket
  exchange, another exchange, the file writer)

and task time no pipeline covers (task set-up, result serialization) is
``other``, reported as ``residual_s``. The groups of an execution therefore
sum to its total task time.
"""

from __future__ import annotations

import re
import statistics

from py4j.protocol import Py4JError

GROUPS = ("scan", "winner_agg", "winner_broadcast", "semijoin_probe",
          "survivor_maxby", "bucket_shuffle", "parquet_encode", "other")

_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
         "TiB": 1024.0 ** 4}
_AGG = ("SortAggregate", "HashAggregate", "ObjectHashAggregate")
_JOIN = ("BroadcastHashJoin", "BroadcastNestedLoopJoin", "ShuffledHashJoin",
         "SortMergeJoin")


def parse_formatted(text: str) -> float:
    """A formatted SQL metric ('2.7 s', '1,088.0 KiB', or the multi-task form
    'total (min, med, max ...)\\n1.6 s (...)') as seconds, bytes or a count."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    tok = body.strip().split(" (")[0].split()
    val = float(tok[0].replace(",", ""))
    return val * _UNIT.get(tok[1], 1.0) if len(tok) > 1 else val


def _ints(scala_obj) -> list[int]:
    return [int(x) for x in re.findall(r"\d+", str(scala_obj))]


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class Node:
    def __init__(self, nid, name, desc, metrics):
        self.id, self.name, self.desc = nid, name, desc
        # metric name -> (accumulator id, metric type)
        self.metrics = metrics
        self.cluster: int | None = None


class StatusReader:
    """Harvests completed SQL executions (plan graph + metrics + stage and
    task times) into plain dicts, once each."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = self.sc.statusStore()
        self.seen: set[int] = set()
        self.records: list[dict] = []

    def _wait(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Forget everything run so far (warm-up, set-up)."""
        self._wait()
        for e in _iter(self.sql.executionsList()):
            self.seen.add(int(e.executionId()))

    def harvest(self) -> list[dict]:
        self._wait()
        new = []
        for e in _iter(self.sql.executionsList()):
            eid = int(e.executionId())
            if eid in self.seen or not e.completionTime().isDefined():
                continue
            self.seen.add(eid)
            new.append(self._record(e))
        self.records.extend(new)
        return new

    # ------------------------------------------------------------ one execution
    def _stage(self, sid: int) -> dict | None:
        try:
            s = self.app.lastStageAttempt(sid)
        except Py4JError:
            return None  # skipped stage (shuffle output reused)
        tasks = []
        try:
            for t in _iter(self.app.taskList(sid, int(s.attemptId()), 100000)):
                m = t.taskMetrics()
                if m.isDefined():
                    tasks.append(m.get().executorRunTime() / 1000.0)
        except Py4JError:
            pass
        return {
            "id": sid,
            "run_s": s.executorRunTime() / 1000.0,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_write_b": float(s.shuffleWriteBytes()),
            "tasks_s": tasks,
        }

    def _record(self, e) -> dict:
        eid = int(e.executionId())
        sub = e.submissionTime()
        done = e.completionTime().get().getTime()
        g = self.sql.planGraph(eid)
        fmt = {}
        mets = self.sql.executionMetrics(eid)
        nodes: dict[int, Node] = {}
        clusters: dict[int, list[int]] = {}

        def mk(n) -> Node:
            ms = {}
            for m in _iter(n.metrics()):
                ms[m.name()] = (int(m.accumulatorId()), m.metricType())
                v = mets.get(m.accumulatorId())
                if v.isDefined():
                    fmt[int(m.accumulatorId())] = v.get()
            return Node(int(n.id()), n.name(), n.desc(), ms)

        for top in _iter(g.nodes()):
            node = mk(top)
            nodes[node.id] = node
            if top.getClass().getSimpleName() == "SparkPlanGraphCluster":
                clusters[node.id] = []
                for member in _iter(top.nodes()):
                    mnode = mk(member)
                    mnode.cluster = node.id
                    nodes[mnode.id] = mnode
                    clusters[node.id].append(mnode.id)
        # SparkPlanGraphEdge(fromId, toId): data flows from child to parent
        edges = [(int(x.fromId()), int(x.toId())) for x in _iter(g.edges())]
        stages = [s for s in (self._stage(i) for i in _ints(e.stages())) if s]
        return {
            "id": eid,
            "desc": str(e.description()),
            "wall_s": (done - sub) / 1000.0,
            "nodes": nodes,
            "clusters": clusters,
            "edges": edges,
            "stages": stages,
            "fmt": fmt,
        }


# ---------------------------------------------------------------- analysis
def metric(rec: dict, node: Node, name: str) -> float:
    """A node metric's execution total (formatted value), 0 if absent."""
    m = node.metrics.get(name)
    if m is None or m[0] not in rec["fmt"]:
        return 0.0
    try:
        return parse_formatted(rec["fmt"][m[0]])
    except (ValueError, IndexError):
        return 0.0


def write_target(rec: dict) -> str | None:
    for n in rec["nodes"].values():
        if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            return n.desc
    return None


_WRITE = ("WriteFiles", "Execute InsertIntoHadoopFsRelationCommand")


def _is_bucket_exchange(n: Node) -> bool:
    return n.name == "Exchange" and "_bucket" in n.desc and "REPARTITION" in n.desc


_BOUNDARY = ("Exchange", "BroadcastExchange", "AQEShuffleRead", "ShuffleQueryStage",
             "BroadcastQueryStage")


def _fragment(nodes, clusters, parents, children, cid):
    """The operators one codegen cluster's pipeline runs: its members, the
    non-codegen operators around it up to the stage boundaries (a Scan below,
    a SortAggregate above), the boundary nodes just outside, and the first
    downstream boundary ('broadcast', 'bucket', 'exchange', 'write')."""
    members = set(clusters[cid])
    inside, up_x, down_x, sink = set(members), [], [], None
    for edges, out_x, down in ((children, up_x, False), (parents, down_x, True)):
        todo = list(members)
        while todo:
            for nxt in edges.get(todo.pop(), ()):
                n = nodes[nxt]
                if nxt in inside:
                    continue
                if n.name.startswith(_BOUNDARY) or n.name.startswith(_WRITE):
                    if n.name == "Exchange":
                        out_x.append(n)
                    if down and sink is None:
                        sink = ("broadcast" if n.name == "BroadcastExchange"
                                else "write" if n.name.startswith(_WRITE)
                                else "bucket" if _is_bucket_exchange(n) else "exchange")
                    if n.name == "AQEShuffleRead":  # the exchange below it
                        out_x.extend(nodes[c] for c in children.get(nxt, ())
                                     if nodes[c].name == "Exchange")
                    continue
                if n.cluster is not None:
                    continue
                inside.add(nxt)
                todo.append(nxt)
    return [nodes[i] for i in inside], up_x, down_x, sink


def _write_stage(rec: dict) -> dict | None:
    """The stage that ran the file writer: named by the writer's multi-task
    'task commit time' metric, else the execution's last stage."""
    for n in rec["nodes"].values():
        m = n.metrics.get("task commit time")
        if m and m[0] in rec["fmt"]:
            hit = re.search(r"\(stage (\d+)\.", rec["fmt"][m[0]])
            if hit:
                sid = int(hit.group(1))
                return next((s for s in rec["stages"] if s["id"] == sid), None)
            return max(rec["stages"], key=lambda s: s["id"], default=None)
    return None


def attribute(rec: dict) -> dict:
    """Split an execution's task time (sum over its stages) into GROUPS,
    in seconds. Also returns ``residual_s`` (task time no operator metric
    covers, booked to ``other``), the write stage's task time and its
    max/median task time, and the winner aggregate's sort peak memory and
    spill."""
    nodes, clusters = rec["nodes"], rec["clusters"]
    parents: dict[int, list[int]] = {}
    children: dict[int, list[int]] = {}
    for f, t in rec["edges"]:
        parents.setdefault(f, []).append(t)
        children.setdefault(t, []).append(f)
    out = {g: 0.0 for g in GROUPS}
    agg_peak = agg_spill = 0.0
    for cid in clusters:
        frag, up_x, down_x, sink = _fragment(nodes, clusters, parents, children, cid)
        names = [n.name for n in frag]
        has = lambda keys: any(nm.startswith(keys) for nm in names)  # noqa: E731
        if has(_JOIN):
            lab = "semijoin_probe"
        elif has(_AGG):
            lab = ("winner_broadcast" if sink == "broadcast"
                   else "winner_agg" if has(("Scan",)) else "survivor_maxby")
        elif sink == "write":
            lab = "parquet_encode"
        elif sink == "bucket":
            lab = "bucket_shuffle"
        else:
            lab = "other"
        # a pipeline's duration spans its whole task: the scan below it, the
        # shuffle read feeding it and the shuffle write it feeds are inside
        dur = metric(rec, nodes[cid], "duration")
        parts = {"scan": sum(metric(rec, n, "scan time") for n in frag
                             if n.name.startswith("Scan"))}
        for x in up_x:
            g = "bucket_shuffle" if _is_bucket_exchange(x) else lab
            parts[g] = parts.get(g, 0.0) + metric(rec, x, "fetch wait time")
        for x in down_x:
            g = "bucket_shuffle" if _is_bucket_exchange(x) else lab
            parts[g] = parts.get(g, 0.0) + metric(rec, x, "shuffle write time")
        inner = sum(parts.values())
        if inner > dur > 0:
            parts = {g: v * dur / inner for g, v in parts.items()}
            inner = dur
        for g, v in parts.items():
            out[g] += v
        out[lab] += max(0.0, dur - inner)
        if lab == "winner_agg":
            agg_peak += sum(metric(rec, n, "peak memory") for n in frag)
            agg_spill += sum(metric(rec, n, "spill size") for n in frag)
    total = sum(s["run_s"] for s in rec["stages"])
    known = sum(out.values())
    if known > total > 0:  # durations are rounded totals: never exceed
        out = {g: v * total / known for g, v in out.items()}
        known = total
    residual = max(0.0, total - known)
    out["other"] += residual
    ws = _write_stage(rec)
    ts = [t for t in (ws["tasks_s"] if ws else ()) if t > 0]
    return {"groups": out, "total_s": total, "residual_s": residual,
            "write_stage_s": ws["run_s"] if ws else 0.0,
            "task_skew": max(ts) / statistics.median(ts) if ts else 0.0,
            "agg_peak_b": agg_peak, "agg_spill_b": agg_spill}
