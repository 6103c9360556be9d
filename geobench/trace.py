"""Spans, process sampling and Spark's own status, mapped onto layers.

* :class:`Tracer` records a span (name, start, end, parent) around each
  public engine call the benchmark makes and labels the Spark jobs
  started inside it with the span's name (``setJobGroup``). When it is
  off, spans cost nothing and no label is set.
* :class:`ProcSampler` polls ``/proc`` for the JVM and its Python
  workers (every descendant of this process): peak RSS and CPU time.
* :func:`spark_layers` reads ``/jobs``, ``/stages`` and
  ``/sql?details=true`` from the session's status API after a traced
  iteration and maps plan-node metrics onto the engine's layers. Spark
  keeps this state anyway, so reading it adds no Spark job.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from geobench import procs


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1]["name"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["name"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Duration of the ``name`` spans minus the time their direct
        children cover."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == name
                          and s["start"] <= c["start"] <= s["end"])
            covered, edge = 0.0, s["start"]
            for a, b in kids:
                a = max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            total += (s["end"] - s["start"]) - covered
        return total

    def names(self) -> set:
        return {s["name"] for s in self.spans}


# ---------------------------------------------------------------- /proc

def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"java" in f.read().split(b"\0")[0]
    except OSError:
        return False


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_s(pid: int, children: bool) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(fields[11]) + int(fields[12])
    if children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / os.sysconf("SC_CLK_TCK")


class ProcSampler:
    """Peak summed RSS of the JVM and its Python workers, sampled from a
    background thread while running (``with`` block)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_jvm_mb = 0.0
        self.peak_python_mb = 0.0
        self.peak_total_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def sample(self) -> None:
        jvm = py = 0.0
        for pid in procs.descendants(os.getpid()):
            if _is_jvm(pid):
                jvm += _rss_mb(pid)
            else:
                py += _rss_mb(pid)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_python_mb = max(self.peak_python_mb, py)
        self.peak_total_mb = max(self.peak_total_mb, jvm + py)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def cpu_seconds() -> dict:
    """CPU seconds so far of the JVM and of the Python workers (with
    their reaped children)."""
    jvm = py = 0.0
    for pid in procs.descendants(os.getpid()):
        if _is_jvm(pid):
            jvm += _cpu_s(pid, children=False)
        else:
            py += _cpu_s(pid, children=True)
    return {"jvm": jvm, "python": py}


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------- status API

#: ``/sql`` returns 20 executions unless asked for more
SQL_PAGE = 100_000


class StatusApi:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def max_ids(self) -> tuple[int, int]:
        """(highest job id, highest SQL execution id) so far."""
        jobs = self.get("/jobs")
        sql = self.get(f"/sql?details=false&length={SQL_PAGE}")
        return (max((j["jobId"] for j in jobs), default=-1),
                max((e["id"] for e in sql), default=-1))


_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}


def metric_value(text: str) -> float:
    """Spark UI metric text -> number (seconds for times, bytes for
    sizes). Multi-task metrics read their total."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


PYTHON_NODES = {"MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas"}
JOIN_NODES = {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}


class Plan:
    """One SQL execution's plan graph with parsed node metrics."""

    def __init__(self, execution: dict):
        self.desc = execution.get("planDescription", "")
        self.nodes = {n["nodeId"]: n for n in execution["nodes"]}
        self.parent = {}
        self.children = defaultdict(list)
        for e in execution["edges"]:
            self.parent[e["fromId"]] = e["toId"]
            self.children[e["toId"]].append(e["fromId"])

    def name(self, nid) -> str:
        return self.nodes[nid]["nodeName"]

    def metric(self, nid, name: str) -> float:
        for m in self.nodes[nid].get("metrics", []):
            if m["name"] == name:
                return metric_value(m["value"])
        return 0.0

    def rows(self, nid) -> float:
        return self.metric(nid, "number of output rows")

    def has_rows(self, nid) -> bool:
        return any(m["name"] == "number of output rows"
                   for m in self.nodes[nid].get("metrics", []))

    def ancestors(self, nid) -> list:
        out = []
        while nid in self.parent:
            nid = self.parent[nid]
            out.append(nid)
        return out

    def find_below(self, nid, names: set, stop=()):
        """Nearest descendant of ``nid`` named in ``names``, not looking
        past nodes named in ``stop``; and whether the path to it passes
        a ``BroadcastExchange``."""
        todo = [(c, False) for c in self.children[nid]]
        while todo:
            c, bcast = todo.pop(0)
            if self.name(c) in names:
                return c, bcast
            if self.name(c) in stop:
                continue
            bcast = bcast or self.name(c) == "BroadcastExchange"
            todo.extend((g, bcast) for g in self.children[c])
        return None, False

    def rows_into(self, nid) -> float:
        """Output rows of the nearest node below ``nid`` that counts
        rows (the rows ``nid`` consumed)."""
        todo = list(self.children[nid])
        while todo:
            c = todo.pop(0)
            if self.has_rows(c):
                return self.rows(c)
            todo.extend(self.children[c])
        return 0.0

    def python_self_s(self, nid) -> float:
        """Python time of ``nid`` minus that of the Python node feeding
        it in the same pipeline: Spark's "time to run Python workers"
        includes the time spent waiting for upstream rows."""
        below, _ = self.find_below(nid, PYTHON_NODES, stop=EXCHANGES)
        own = self.metric(nid, PY_TIME)
        return max(0.0, own - self.metric(below, PY_TIME)) \
            if below is not None else own


PY_TIME = "time to run Python workers"
EXCHANGES = {"Exchange", "BroadcastExchange", "AQEShuffleRead",
             "ShuffleQueryStage", "BroadcastQueryStage"}


def _sjoin_layers(plan: Plan, out: dict) -> None:
    """Accumulate sjoin / tiles / dedup layer metrics of every cell join
    in ``plan`` whose two sides are Python-indexed relations.

    Catalyst pushes ``refine_candidates``' bounding-box prefilter into
    the join condition, so the join's output rows are the rows that pass
    the prefilter (a standalone ``Filter`` below the kernel, if a plan
    has one, takes precedence)."""
    for j in [n for n in plan.nodes if plan.name(n) in JOIN_NODES]:
        kids = plan.children[j]
        if len(kids) != 2:
            continue
        sides = []
        for c in kids:
            if plan.name(c) == "MapInPandas":
                sides.append((c, False))
            else:
                idx, bcast = plan.find_below(c, {"MapInPandas"})
                sides.append((idx, bcast or plan.name(c) == "BroadcastExchange"))
        if not all(i is not None for i, _ in sides):
            continue
        if sides[0][1] or (not sides[1][1]
                           and plan.rows(sides[0][0]) < plan.rows(sides[1][0])):
            sides.reverse()
        left, right = sides[0][0], sides[1][0]
        out["sjoin.broadcast"] = max(out["sjoin.broadcast"],
                                     float(sides[1][1]))
        out["sjoin.index_left.rows_out"] += plan.rows(left)
        out["sjoin.index_left.self_s"] += plan.python_self_s(left)
        out["sjoin.index_right.self_s"] += plan.python_self_s(right)
        m = re.search(r"sequence\(0, (\d+)", plan.desc)
        out["sjoin.salt"] = max(out["sjoin.salt"],
                                float(int(m.group(1)) + 1) if m else 1.0)
        up = plan.ancestors(j)
        kernel = next((n for n in up if plan.name(n) in
                       ("ArrowEvalPython", "BatchEvalPython")), None)
        if kernel is None:
            continue
        pre = [n for n in up[:up.index(kernel)] if plan.name(n) == "Filter"]
        out["sjoin.prefilter.rows_out"] += plan.rows(pre[-1] if pre else j)
        out["sjoin.refine.kernel_rows"] += plan.rows(kernel)
        out["sjoin.refine.self_s"] += plan.python_self_s(kernel)
        above = up[up.index(kernel) + 1:]
        refine_filter = next((n for n in above
                              if plan.name(n) == "Filter"), None)
        if refine_filter is not None:
            out["sjoin.refine.rows_out"] += plan.rows(refine_filter)
        # Python nodes that decode the left geometry on its way to the sink
        out["sjoin.left_geom_parses"] += 1 + sum(
            plan.name(n) in PYTHON_NODES for n in plan.ancestors(left))
        tiles = next((n for n in above if plan.name(n) == "MapInPandas"),
                     None)
        if tiles is None:
            continue
        out["tiles.rows_in"] += plan.rows_into(tiles)
        out["tiles.rows_out"] += plan.rows(tiles)
        out["tiles.self_s"] += plan.python_self_s(tiles)
        rest = plan.ancestors(tiles)
        aggs = [n for n in rest if plan.name(n) == "HashAggregate"][:2]
        exch = next((n for n in rest if plan.name(n) == "Exchange"), None)
        if len(aggs) == 2:
            # the partial aggregate's build time includes pulling rows
            # through the tile step; only the final one is dedup's own
            out["dedup.rows_out"] += plan.rows(aggs[1])
            out["dedup.self_s"] += plan.metric(aggs[1],
                                               "time in aggregation build")
        if exch is not None:
            out["dedup.shuffle_write_bytes"] += plan.metric(
                exch, "shuffle bytes written")
            out["dedup.self_s"] += plan.metric(exch, "shuffle write time")


SJOIN_KEYS = [
    "sjoin.broadcast", "sjoin.salt", "sjoin.index_left.rows_out",
    "sjoin.index_left.self_s", "sjoin.index_right.self_s",
    "sjoin.prefilter.rows_out",
    "sjoin.refine.kernel_rows", "sjoin.refine.rows_out",
    "sjoin.refine.self_s", "sjoin.left_geom_parses",
    "tiles.rows_in", "tiles.rows_out", "tiles.self_s",
    "dedup.rows_out", "dedup.shuffle_write_bytes", "dedup.self_s",
]


def spark_layers(api: StatusApi, since: tuple[int, int], groups: set,
                 wall_s: float, cores: int, batch_rows: int) -> dict:
    """Layer and Spark-total metrics of the jobs and SQL executions
    started after ``since`` in a job group named in ``groups``."""
    out = dict.fromkeys(SJOIN_KEYS, 0.0)
    jobs = [j for j in api.get("/jobs")
            if j["jobId"] > since[0] and j.get("jobGroup") in groups]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in api.get("/stages")
              if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
    job_ids = {j["jobId"] for j in jobs}
    plans = [Plan(e) for e in api.get(
        f"/sql?details=true&planDescription=true&length={SQL_PAGE}")
        if e["id"] > since[1]
        and job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))]

    py_rows = py_bytes = py_s = py_batches = 0.0
    for plan in plans:
        _sjoin_layers(plan, out)
        for nid in plan.nodes:
            if plan.name(nid) in PYTHON_NODES:
                rows_in = plan.rows_into(nid)
                py_rows += rows_in
                py_batches += math.ceil(rows_in / batch_rows)
                py_bytes += plan.metric(nid, "data sent to Python workers")
                py_s += plan.python_self_s(nid)
    out["sjoin.refine.hit_ratio"] = (
        out["sjoin.refine.rows_out"] / out["sjoin.prefilter.rows_out"]
        if out["sjoin.prefilter.rows_out"] else 0.0)
    out["udfs.python_rows"] = py_rows
    out["udfs.python_batches"] = py_batches
    out["udfs.bytes_to_python"] = py_bytes
    out["udfs.python_s"] = py_s

    run_s = sum(s["executorRunTime"] for s in stages) / 1e3
    heaviest = max(stages, key=lambda s: s["executorRunTime"], default=None)
    skew = 1.0
    if heaviest is not None and heaviest["numTasks"] > 1:
        q = api.get(f"/stages/{heaviest['stageId']}/{heaviest['attemptId']}"
                    "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        skew = q[1] / q[0] if q[0] else 1.0
    out.update({
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["numTasks"] for s in stages)),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spark.shuffle_read_bytes": float(sum(s["shuffleReadBytes"]
                                              for s in stages)),
        "spark.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"]
                                               for s in stages)),
        "spark.spill_bytes": float(sum(s["memoryBytesSpilled"]
                                       + s["diskBytesSpilled"]
                                       for s in stages)),
        "spark.task_skew": skew,
        "spark.core_utilization": run_s / (wall_s * cores) if wall_s else 0.0,
    })
    return out
