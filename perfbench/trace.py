"""The traced run: a span per public-function call that runs a Spark job,
each span under a Spark job group of its own, and the split per layer
read back from Spark's own event log.

Spans are recorded from the benchmark's files, around the calls into the
program; nothing inside the program is instrumented.  Every job a span
starts carries the span's job group, so the event log attributes task
metrics (CPU, GC, fetch wait, shuffle bytes, failures) and SQL-node
metrics (Python worker time, bytes to and from the workers, aggregation
row counts) to it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

from . import gen, probes

SPAN_FIELDS = (
    ("s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"), ("fetch_wait_s", "s"),
    ("shuffle_write_mb", "MB"), ("failed_tasks", "count"),
)
SPANS = (
    "functions.broadcast_rings",
    "sources.write_stage_checkpoint.agg",
    "sources.encode_tiles",
    "sources.write_stage_checkpoint.encode",
    "sources.decode_tiles",
    *(f"sources.decode_tiles.{m}" for m in gen.MODES),
    "operators.transcode_images_mrj",
    "operators.transcode_images_jpeg",
    "operators.general_pair_boolean",
)
_PIP = "functions.pip_contains_bcast"
_SALT = "operators.salted_tile_counts"


def _rate_unit(name: str) -> str:
    """'...tiles_per_core_s' -> 'tiles/cpu-s'."""
    what = next(p for p in name.split(".") if p.endswith("_per_core_s")).split("_per_")[0]
    return {"mpoints": "Mpoints", "mb": "MB"}.get(what, what) + "/cpu-s"


_LAYER = [
    (f"{_PIP}.python_s", "s"), (f"{_PIP}.to_python_mb", "MB"),
    (f"{_PIP}.from_python_mb", "MB"),
    ("operators.spatial_join_pip.rows_tested_per_point", "rows/point"),
    (f"{_SALT}.partial_rows_ratio", "ratio"), (f"{_SALT}.reducer_skew", "ratio"),
    (f"{_SALT}.shuffle_write_mb", "MB"),
    ("sources.write_stage_checkpoint.jobs", "count"),
    ("functions.broadcast_rings.driver_s", "s"),
    ("functions.broadcast_rings.rings", "count"),
    ("sources.encode_tiles.python_s", "s"),
    *((f"sources.decode_tiles.{m}.{k}", u) for m in gen.MODES
      for k, u in (("python_s", "s"), ("to_python_mb", "MB"), ("from_python_mb", "MB"))),
    *((f"sources.decode_tiles.error_rows.{c}", "count")
      for c in sorted(gen.INVALID_CLASSES) if c),
    ("operators.transcode_images_mrj.python_s", "s"),
    ("operators.transcode_images_jpeg.python_s", "s"),
    ("operators.general_pair_boolean.python_s", "s"),
    ("operators.general_pair_boolean.task_skew", "ratio"),
    *((r, _rate_unit(r)) for r in probes.RATES),
    *((f"{k}.share", "ratio") for k in probes.KERNELS),
    ("session.jvm_gc_s", "s"),
    ("session.spill_mb", "MB"),
]
#: every per-layer metric, (name, unit), in report order.  A span, node
#: or counter that a workload does not run reads 0 on that workload.
PER_LAYER = [(f"{s}.{k}", u) for s in SPANS for k, u in SPAN_FIELDS] + [
    m for m in _LAYER if m[0] not in {f"{s}.{k}" for s in SPANS for k, _ in SPAN_FIELDS}]

_HIGHER = (".tiles_per_core_s", ".mpoints_per_core_s", ".mb_per_core_s",
           ".v16", ".v64")


def better(name: str) -> str:
    if name.endswith(_HIGHER) or ".error_rows." in name:
        return "higher"
    return "lower"


class Tracer:
    """Sets a job group per span (and one per iteration for the jobs
    outside any span) and records each span's wall time."""

    def __init__(self, sc):
        self.sc = sc
        self.iteration = 0
        self.walls: dict = {}

    def start_iteration(self, i: int) -> None:
        self.iteration = i
        self.sc.setJobGroup(f"iteration@{i}", "iteration")

    @contextlib.contextmanager
    def span(self, name: str):
        i = self.iteration
        self.sc.setJobGroup(f"{name}@{i}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[(name, i)] = time.perf_counter() - t0
            self.sc.setJobGroup(f"iteration@{i}", "iteration")


_TO_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1e-6}


class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict = {}
        self.stage_group: dict = {}
        self.tasks: list = []
        self.exec_group: dict = {}
        self.plans: dict = {}
        self.acc_total: dict = defaultdict(float)
        self.acc_tasks: dict = defaultdict(list)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            group = e.get("Properties", {}).get("spark.jobGroup.id")
            self.jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"]}
            for s in e["Stage IDs"]:
                self.stage_group[s] = group
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            self.tasks.append({
                "group": self.stage_group.get(e["Stage ID"]),
                "stage": e["Stage ID"],
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "fetch_wait_s": rd.get("Fetch Wait Time", 0) / 1e3,
                "shuffle_write_mb": wr.get("Shuffle Bytes Written", 0) / 1e6,
                "spill_mb": m.get("Disk Bytes Spilled", 0) / 1e6,
                "failed": e["Task End Reason"]["Reason"] != "Success",
            })
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    v = float(a["Update"])
                    self.acc_total[a["ID"]] += v
                    self.acc_tasks[a["ID"]].append(v)
        elif kind in ("SparkListenerSQLExecutionStart",
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            if kind == "SparkListenerSQLExecutionStart":
                self.exec_group[e["executionId"]] = e.get("jobGroupId")
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, v in e["accumUpdates"]:
                self.acc_total[acc_id] += float(v)

    # -- queries ------------------------------------------------------

    def group_tasks(self, group: str) -> list:
        return [t for t in self.tasks if t["group"] == group]

    def group_jobs(self, group: str) -> list:
        return [j for j in self.jobs.values() if j["group"] == group]

    def group_nodes(self, group: str) -> list:
        """Nodes of the final plans of the group's SQL executions, each
        as (node, parent chain)."""
        out = []

        def walk(n, chain):
            out.append((n, chain))
            for c in n.get("children", []):
                walk(c, chain + [n])

        for eid, g in self.exec_group.items():
            if g == group and eid in self.plans:
                walk(self.plans[eid], [])
        return out

    def metric(self, node: dict, name: str) -> float:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return self.acc_total.get(m["accumulatorId"], 0.0) * _TO_UNIT.get(
                    m["metricType"], 1.0)
        return 0.0

    def metric_tasks(self, node: dict, name: str) -> list:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return self.acc_tasks.get(m["accumulatorId"], [])
        return []


def _is_python_map(node: dict) -> bool:
    return node["nodeName"].startswith(("MapIn", "PythonMapIn"))


def _python(log: EventLog, group: str, pred) -> tuple[float, float, float]:
    """(seconds in Python workers, MB sent to them, MB returned) summed
    over the group's plan nodes that ``pred`` selects."""
    s = sent = back = 0.0
    for n, _ in log.group_nodes(group):
        if pred(n):
            s += log.metric(n, "time to run Python workers")
            sent += log.metric(n, "data sent to Python workers")
            back += log.metric(n, "data returned from Python workers")
    return s, sent, back


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _salted(log: EventLog, group: str) -> tuple[float, float, float]:
    """Map-side partial aggregation of the per-tile counts: the first
    aggregate above the PIP UDF.  Returns (rows out / rows in, max over
    median rows per reducer of the shuffle above it, its shuffle MB)."""
    for n, chain in log.group_nodes(group):
        if n["nodeName"] != "ArrowEvalPython":
            continue
        aggs = [i for i, p in enumerate(chain) if p["nodeName"] == "HashAggregate"]
        if not aggs:
            continue
        agg = chain[aggs[-1]]
        below = chain[aggs[-1] + 1:] + [n]
        rows_in = next((log.metric(p, "number of output rows") for p in below
                        if any(m["name"] == "number of output rows" for m in p["metrics"])), 0.0)
        ratio = _ratio(log.metric(agg, "number of output rows"), rows_in)
        exch = next((p for p in reversed(chain[:aggs[-1]]) if p["nodeName"] == "Exchange"), None)
        if exch is None:
            return ratio, 0.0, 0.0
        reads = log.metric_tasks(exch, "records read")
        skew = _ratio(max(reads), statistics.median(reads)) if reads else 0.0
        return ratio, skew, log.metric(exch, "shuffle bytes written")
    return 0.0, 0.0, 0.0


def iteration_metrics(log: EventLog, walls: dict, i: int, counters: dict) -> dict:
    out = {}
    for s in SPANS:
        g = f"{s}@{i}"
        tasks = log.group_tasks(g)
        out[f"{s}.s"] = walls.get((s, i), 0.0)
        for k in ("task_cpu_s", "gc_s", "fetch_wait_s", "shuffle_write_mb"):
            out[f"{s}.{k}"] = sum(t[k.replace("task_", "")] for t in tasks)
        out[f"{s}.failed_tasks"] = sum(t["failed"] for t in tasks)
    groups = [f"{s}@{i}" for s in SPANS] + [f"iteration@{i}"]
    pip = [0.0, 0.0, 0.0]
    rows_tested = 0.0
    for g in groups:
        pip = [a + b for a, b in zip(pip, _python(
            log, g, lambda n: n["nodeName"] == "ArrowEvalPython"))]
        rows_tested += sum(log.metric(n, "number of output rows")
                           for n, _ in log.group_nodes(g) if n["nodeName"] == "ArrowEvalPython")
    out.update(zip((f"{_PIP}.python_s", f"{_PIP}.to_python_mb", f"{_PIP}.from_python_mb"), pip))
    out["operators.spatial_join_pip.rows_tested_per_point"] = _ratio(
        rows_tested, counters.get("points", 0))
    (out[f"{_SALT}.partial_rows_ratio"], out[f"{_SALT}.reducer_skew"],
     out[f"{_SALT}.shuffle_write_mb"]) = _salted(log, f"sources.write_stage_checkpoint.agg@{i}")
    ckpt = [f"sources.write_stage_checkpoint.{st}@{i}" for st in ("agg", "encode")]
    out["sources.write_stage_checkpoint.jobs"] = sum(
        len(log.group_jobs(g)) for g in ckpt) / len(ckpt)
    g = f"functions.broadcast_rings@{i}"
    jobs_s = sum((j.get("end", j["start"]) - j["start"]) / 1e3 for j in log.group_jobs(g))
    out["functions.broadcast_rings.driver_s"] = (
        max(walls[("functions.broadcast_rings", i)] - jobs_s, 0.0)
        if ("functions.broadcast_rings", i) in walls else 0.0)
    out["functions.broadcast_rings.rings"] = counters.get("rings", 0)
    out["sources.encode_tiles.python_s"] = _python(
        log, f"sources.encode_tiles@{i}", _is_python_map)[0]
    for m in gen.MODES:
        py = _python(log, f"sources.decode_tiles.{m}@{i}", _is_python_map)
        out.update(zip((f"sources.decode_tiles.{m}.{k}" for k in
                        ("python_s", "to_python_mb", "from_python_mb")), py))
    for c in gen.INVALID_CLASSES:
        if c:
            out[f"sources.decode_tiles.error_rows.{c}"] = counters.get(f"error_rows.{c}", 0)
    for s in ("operators.transcode_images_mrj", "operators.transcode_images_jpeg",
              "operators.general_pair_boolean"):
        out[f"{s}.python_s"] = _python(log, f"{s}@{i}", _is_python_map)[0]
    by_stage = defaultdict(list)
    for t in log.group_tasks(f"operators.general_pair_boolean@{i}"):
        by_stage[t["stage"]].append(t["run_s"])
    runs = max(by_stage.values(), key=sum, default=[])
    out["operators.general_pair_boolean.task_skew"] = (
        _ratio(max(runs), statistics.median(runs)) if runs else 0.0)
    every = [t for g in groups for t in log.group_tasks(g)]
    out["session.jvm_gc_s"] = sum(t["gc_s"] for t in every)
    out["session.spill_mb"] = sum(t["spill_mb"] for t in every)
    return out


def traced_phase(wl, spark, seconds: float, loop_cls, event_dir: str, seed: int) -> dict:
    """Cold iteration and measured window with spans on, in a session
    that writes the event log; then the log is read back and the kernels
    probed."""
    tracer = Tracer(spark.sparkContext)
    loop = loop_cls(wl, spark, tracer.span)
    loop.before = tracer.start_iteration
    loop.one()
    window = loop.run(seconds)
    first = len(loop.iters) - len(window)
    spark.stop()  # flushes and closes the event log
    (name,) = os.listdir(event_dir)
    log = EventLog(os.path.join(event_dir, name))
    per_iter = [iteration_metrics(log, tracer.walls, first + k, r["counters"])
                for k, r in enumerate(window)]
    values = {m: statistics.median(d[m] for d in per_iter) for m in per_iter[0]}
    cpu_s = statistics.median(r["cpu_s"] for r in window)
    rates, kernel_cpu = probes.probe(wl.name, seed)
    values.update(rates)
    for k in probes.KERNELS:
        values[f"{k}.share"] = kernel_cpu.get(k, 0.0) / cpu_s
    table = {s: {k: values[f"{s}.{k}"] for k, _ in SPAN_FIELDS} for s in SPANS
             if values[f"{s}.s"]}
    return {
        "iters": loop.iters,
        "window": window,
        "iter_s": statistics.median(r["wall_s"] for r in window),
        "metrics": {m: (values[m], u) for m, u in PER_LAYER},
        "report": {"spans": table, "cpu_s": cpu_s, "iterations": loop.iters},
    }
