"""Spans recorded around calls into the library, and the Spark event-log
reader that attributes task and SQL metrics to them.

A span is (id, name, parent, start, end).  While a span is open its id is
the Spark job group, so every Spark job it triggers carries the id in its
properties; the reader maps job -> stage -> task through the uncompressed
event log and sums the metrics per span.  Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans and sets the Spark job group of the calling thread.
    With ``sc=None`` it records nothing and touches no Spark state, so the
    untraced run executes exactly the same calls."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if self.sc is None:
            yield {}
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._open.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def subtree(self, span_ids) -> set:
        """``span_ids`` and every span below them."""
        out = set(span_ids)
        grew = True
        while grew:
            kids = {s["id"] for s in self.spans if s["parent"] in out}
            grew = not kids <= out
            out |= kids
        return out


PYTHON_NODES = ("MapInArrow", "MapInPandas")
# A Python node belongs to the layer whose operator's output (or input)
# columns it carries: the rings_out schema of decompose_polygons, the
# (lo, hi, full) intervals of covers_df, pip_join's points and
# overlap_join's (A ring, B ring) pairs.
PYTHON_LAYERS = (
    ("decompose", {"net_winding"}),
    ("cells", {"lo", "hi", "full"}),
    ("overlap.refine", {"a_polygon_id", "b_polygon_id"}),
    ("tiling.probe", {"lon", "lat"}),
)
# Parts of a span's wall time that no layer accounts for: time inside a
# Spark job while none of its stages runs, and stages whose Python node
# matches no layer.
UNEXPLAINED = ("spark.scheduler", "python.other")


def node_layer(info: dict) -> str | None:
    """The layer a plan node's work belongs to, for Python nodes only."""
    if info["nodeName"] not in PYTHON_NODES:
        return None
    cols = set(re.findall(r"(\w+)#\d+", info.get("simpleString", "")))
    for layer, need in PYTHON_LAYERS:
        if need <= cols:
            return layer
    return "python.other"


def _plan_nodes(info, out):
    out.append(info)
    for ch in info.get("children", []):
        _plan_nodes(ch, out)


class EventLog:
    """Task, stage, job and SQL-metric records of one application's
    uncompressed event log, queryable by job group."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.driver_accs: list[tuple] = []  # (execution id, accumulator, value)
        self.stages: dict[int, tuple] = {}  # stage id -> (start, end)
        self.acc_node: dict[int, tuple] = {}  # accumulator id -> (node, metric, layer)
        self.tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                self._read(json.loads(line))

    def _read(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e["Stage IDs"]),
                "execution": props.get("spark.sql.execution.id"),
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time"):
                self.stages[si["Stage ID"]] = (
                    si["Submission Time"] / 1000.0,
                    si["Completion Time"] / 1000.0,
                )
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            accs = {
                a["ID"]: a.get("Update", 0)
                for a in e["Task Info"].get("Accumulables", [])
                if a.get("Metadata") == "sql"
            }
            self.tasks.append({"stage": e["Stage ID"], "m": m, "accs": accs})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            eid = str(e["executionId"])
            self.driver_accs.extend((eid, a, v) for a, v in e["accumUpdates"])
        elif "sparkPlanInfo" in e:
            nodes: list = []
            _plan_nodes(e["sparkPlanInfo"], nodes)
            for n in nodes:
                layer = node_layer(n)
                for mt in n.get("metrics", []):
                    self.acc_node[mt["accumulatorId"]] = (n["nodeName"], mt["name"], layer)

    def job_ids(self, groups: set) -> list[int]:
        return [j for j, r in self.jobs.items() if r["group"] in groups]

    def stage_layers(self, stage: int) -> set:
        """The layers whose work a stage did: those of the Python nodes
        whose SQL metrics its tasks updated (the RDD lineage would also
        name the operators that produced a cached input); a stage without
        one is ``shuffle`` when it moved shuffle data, else ``scan``."""
        layers, shuffled = set(), False
        for t in self.tasks:
            if t["stage"] != stage:
                continue
            sr = t["m"].get("Shuffle Read Metrics", {})
            sw = t["m"].get("Shuffle Write Metrics", {})
            shuffled |= bool(
                sw.get("Shuffle Bytes Written")
                or sr.get("Remote Bytes Read")
                or sr.get("Local Bytes Read")
            )
            for a, upd in t["accs"].items():
                layer = self.acc_node.get(a, ("", "", None))[2]
                if upd and layer:
                    layers.add(layer)
        return layers or {"shuffle" if shuffled else "scan"}

    def split(self, span: dict, groups: set) -> dict:
        """Partition the span's wall time (seconds) into layers.  At each
        instant: the layers of the Spark stages running then, shared
        equally; else ``spark.scheduler`` if one of the groups' Spark jobs
        is open; else ``driver`` (Python on the driver: planning,
        collected-row conversion, index build, broadcast pickling).  The
        parts add up to the span's wall time by construction; how much of
        it lands in ``UNEXPLAINED`` is the reconciliation error."""
        lo, hi = span["start"], span["end"]
        clip = lambda s, e: (max(s, lo), min(e, hi))  # noqa: E731
        jobs = [
            clip(r["start"], r["end"])
            for r in self.jobs.values()
            if r["group"] in groups and r["end"] is not None
        ]
        stages = [
            (*clip(*self.stages[s]), self.stage_layers(s))
            for j in self.job_ids(groups)
            for s in self.jobs[j]["stages"]
            if s in self.stages
        ]
        cuts = sorted({lo, hi, *(t for iv in jobs for t in iv), *(t for st in stages for t in st[:2])})
        out = defaultdict(float)
        for a, b in zip(cuts, cuts[1:]):
            if not lo <= a < b <= hi:
                continue
            mid = (a + b) / 2
            running = [ls for s, e, ls in stages if s <= mid < e]
            if running:
                names = set().union(*running)
                for n in names:
                    out[n] += (b - a) / len(names)
            elif any(s <= mid < e for s, e in jobs):
                out["spark.scheduler"] += b - a
            else:
                out["driver"] += b - a
        return dict(out)

    def metrics(self, groups: set) -> dict:
        """Summed task and SQL metrics of every job in ``groups``."""
        jobs = self.job_ids(groups)
        stages = {s for j in jobs for s in self.jobs[j]["stages"]}
        t = defaultdict(float)
        sql = defaultdict(float)
        ran_stages = set()
        for task in self.tasks:
            if task["stage"] not in stages:
                continue
            ran_stages.add(task["stage"])
            m = task["m"]
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            t["tasks"] += 1
            t["run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            t["result_bytes"] += m.get("Result Size", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            for acc, upd in task["accs"].items():
                node, name, layer = self.acc_node.get(acc, ("?", "?", None))
                try:
                    upd = float(upd)
                except (TypeError, ValueError):
                    continue
                if name in ("data sent to Python workers", "data returned from Python workers"):
                    sql[name] += upd
                elif name == "number of output rows":
                    if node in PYTHON_NODES:
                        sql["python_rows"] += upd
                    if layer == "overlap.refine":
                        sql["refine_rows"] += upd
                    if node.startswith("Scan parquet"):
                        sql["scan_rows"] += upd
        executions = {self.jobs[j]["execution"] for j in jobs}
        for eid, acc, v in self.driver_accs:
            node, name, _ = self.acc_node.get(acc, ("", "", None))
            if eid in executions and node.startswith("Scan parquet"):
                if name == "size of files read":
                    t["file_bytes"] += v
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(ran_stages),
            "spark.tasks": int(t["tasks"]),
            "spark.task_run_s": t["run_s"],
            "spark.task_cpu_s": t["cpu_s"],
            "spark.gc_s": t["gc_s"],
            "spark.deser_s": t["deser_s"],
            "driver.result_bytes": int(t["result_bytes"]),
            "scan.bytes": int(t["file_bytes"]),
            "scan.rows": int(sql["scan_rows"]),
            "arrow.bytes_to_python": int(sql["data sent to Python workers"]),
            "arrow.bytes_from_python": int(sql["data returned from Python workers"]),
            "arrow.rows_from_python": int(sql["python_rows"]),
            "shuffle.write_bytes": int(t["shuffle_write_bytes"]),
            "shuffle.read_bytes": int(t["shuffle_read_bytes"]),
            "shuffle.records": int(t["shuffle_records"]),
            "shuffle.spill_bytes": int(t["spill_bytes"]),
            "shuffle.fetch_wait_s": t["fetch_wait_s"],
            "overlap.refine_rows": int(sql["refine_rows"]),
        }
