"""Turn Spark event logs into per-layer metrics, keyed by benchmark span.

Each Spark job carries the job group the benchmark set before the timed call
(the span id) and the call site Spark recorded for it.  A job belongs to the
layer of the package module at its call site when that module is one of the
layers below, and otherwise to the layer of its span.  Spans that are steps of
a cumulative ladder (``ladder`` attribute) are handled apart: a layer's share
of a ladder is the difference between consecutive prefixes.

Per layer L the metrics are sums over L's jobs of the ``TaskEnd`` metrics:
``L.wall_s`` (job submission to completion), ``L.executor_run_s``,
``L.executor_cpu_s``, ``L.task_wait_s`` (scheduler delay: task wall time not
spent deserializing, running, serializing or fetching the result),
``L.gc_s``, ``L.shuffle_read_bytes``, ``L.shuffle_write_bytes``,
``L.spill_bytes``, ``L.result_bytes``, ``L.input_bytes``, ``L.python_bytes``
(bytes SQL Python nodes such as pandas UDFs send to and get back from Python
workers; Spark counts none for RDD-based Python stages) and ``L.stages``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

LAYERS = ["cells", "spatial_join", "hydro", "vector", "simsearch", "lineage"]
FIELDS = [
    ("wall_s", "s"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ("task_wait_s", "s"), ("gc_s", "s"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("result_bytes", "bytes"), ("input_bytes", "bytes"), ("python_bytes", "bytes"),
    ("stages", "count"),
]
PACKAGE = "whitebox_geospatial_analysis_tools_spark"
MODULE_LAYER = {
    "functions/cells.py": "cells", "functions/exprs.py": "cells",
    "operators/spatial_join.py": "spatial_join", "functions/geometry.py": "spatial_join",
    "operators/hydro.py": "hydro", "operators/condense.py": "hydro",
    "operators/raster.py": "hydro", "operators/clump.py": "hydro",
    "operators/vector.py": "vector", "operators/overlay.py": "vector",
    "operators/knn.py": "vector",
    "operators/simsearch.py": "simsearch", "operators/textops.py": "simsearch",
    "plans/lineage.py": "lineage",
}
PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")
SQL_EXEC_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def callsite_layer(callsite: str | None) -> str | None:
    if not callsite or PACKAGE not in callsite:
        return None
    for module, layer in MODULE_LAYER.items():
        if f"{PACKAGE}/{module}" in callsite:
            return layer
    return None


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


class EventLog:
    """Jobs with their task-metric sums, plus the row counts of the
    spatial join's candidate join and parity-refine filter."""

    def __init__(self):
        self.jobs: dict[tuple, dict] = {}
        self.stage_job: dict[tuple, tuple] = {}
        self.join_ids: set[tuple] = set()
        self.filter_ids: set[tuple] = set()

    def read_dir(self, path: str) -> "EventLog":
        """Read every (uncompressed, non-rolling) event log in ``path``."""
        for name in sorted(os.listdir(path)):
            full = os.path.join(path, name)
            if os.path.isfile(full) and not name.startswith("."):
                with open(full) as f:
                    for line in f:
                        self._event(name, json.loads(line))
        if not self.jobs:
            raise ValueError(f"no Spark jobs in the event logs under {path}")
        return self

    def _job(self, app, jid) -> dict:
        return self.jobs.setdefault((app, jid), {
            "group": None, "callsite": None, "start": 0, "end": 0,
            "m": defaultdict(float), "join_rows": 0, "filter_rows": 0,
        })

    def _plan(self, app, node: dict) -> None:
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                s = node.get("simpleString", "")
                if node.get("nodeName", "").startswith("BroadcastHashJoin") and "cell_id" in s:
                    self.join_ids.add((app, m["accumulatorId"]))
                elif node.get("nodeName") == "Filter" and "interior" in s:
                    self.filter_ids.add((app, m["accumulatorId"]))
        for child in node.get("children", []):
            self._plan(app, child)

    def _event(self, app: str, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = self._job(app, ev["Job ID"])
            job["group"] = props.get("spark.jobGroup.id")
            # PySpark records the Python call site as the result stage's name
            stages = ev.get("Stage Infos") or [{}]
            job["callsite"] = props.get("callSite.short") or max(
                stages, key=lambda st: st.get("Stage ID", -1)).get("Stage Name")
            job["start"] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault((app, sid), (app, ev["Job ID"]))
        elif kind == "SparkListenerJobEnd":
            self._job(app, ev["Job ID"])["end"] = ev.get("Completion Time", 0)
        elif kind == "SparkListenerStageCompleted":
            key = self.stage_job.get((app, ev["Stage Info"]["Stage ID"]))
            if key:
                self.jobs[key]["m"]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = self.stage_job.get((app, ev["Stage ID"]))
            if key:
                self._task(app, self.jobs[key], ev)
        elif kind in SQL_EXEC_EVENTS:
            self._plan(app, ev.get("sparkPlanInfo", {}))

    def _task(self, app, job: dict, ev: dict) -> None:
        info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        m = job["m"]
        run_ms = tm.get("Executor Run Time", 0)
        m["executor_run_s"] += run_ms / 1e3
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        busy = (run_ms + tm.get("Executor Deserialize Time", 0)
                + tm.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
        m["task_wait_s"] += max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0) - busy) / 1e3
        sr = tm.get("Shuffle Read Metrics", {})
        m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        m["result_bytes"] += tm.get("Result Size", 0)
        m["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        for acc in info.get("Accumulables", []):
            name, upd = acc.get("Name"), _num(acc.get("Update"))
            if name in PYTHON_ACCUMS:
                m["python_bytes"] += upd
            elif (app, acc.get("ID")) in self.join_ids:
                job["join_rows"] += upd
            elif (app, acc.get("ID")) in self.filter_ids:
                job["filter_rows"] += upd


def layer_metrics(log: EventLog, spans: list[dict], unit: str) -> dict:
    """Per-layer metrics of one run, per op: jobs started under spans named
    ``unit`` (and their child spans) are summed and divided by the number of
    such spans.  Ladder steps add their prefix differences.
    Set-up spans are left out: set-up has metrics of its own.

    ``spatial_join.hit_rows`` is the per-op output row count of the cell join
    (or of the parity filter, when Catalyst keeps it out of the join)."""
    by_id = {s["id"]: s for s in spans}

    def unit_of(span):
        while span is not None and span["name"] != unit:
            span = by_id.get(span["parent"])
        return span

    tot = {L: defaultdict(float) for L in LAYERS}
    steps: dict[str, dict] = {}
    join_rows = filter_rows = 0
    for job in log.jobs.values():
        m = dict(job["m"])
        m["wall_s"] = max(0, job["end"] - job["start"]) / 1e3
        span = by_id.get(job["group"])
        if span is None:
            continue
        if "ladder" in span:
            step = steps.setdefault(span["name"], {
                "layer": span["layer"], "order": span["ladder_order"], "m": defaultdict(float)})
            for k, v in m.items():
                step["m"][k] += v
            continue
        if unit_of(span) is None:
            continue
        join_rows += job["join_rows"]
        filter_rows += job["filter_rows"]
        layer = callsite_layer(job["callsite"]) or span["layer"]
        if layer in tot:
            for k, v in m.items():
                tot[layer][k] += v
    n_units = max(1, sum(1 for s in spans if s["name"] == unit))
    for L in tot:
        for k in tot[L]:
            tot[L][k] /= n_units
    prev: dict = {}
    for step in sorted(steps.values(), key=lambda st: st["order"]):
        if step["layer"] in tot:
            for k in set(step["m"]) | set(prev):
                tot[step["layer"]][k] += step["m"].get(k, 0.0) - prev.get(k, 0.0)
        prev = step["m"]
    out = {}
    for L in LAYERS:
        for field, unit_name in FIELDS:
            out[f"{L}.{field}"] = (float(tot[L].get(field, 0.0)), unit_name)
    out["spatial_join.hit_rows"] = ((filter_rows or join_rows) / n_units, "rows")
    return out
