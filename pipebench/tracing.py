"""Measurement from outside the program: spans around each public call,
Spark job groups, the status store's job/stage/SQL records, and a PSS
sampler for the JVM and its Python workers.

Nothing here reaches into ``dataproc_spark``; a span covers one call into
a module's public function (``build``) plus the action that consumes its
output (``exec``), and every Spark job either phase starts carries the
job group ``<module>.<function>``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

#: per-op quantities read from the status store after a traced pass
STORE_QUANTITIES = ("jobs", "tasks", "task_s", "shuffle_bytes",
                    "input_bytes", "python_tasks")
#: a stage runs Python when its operation graph has one of these nodes
_PYTHON_NODE = re.compile(r"Pandas|Python|InArrow|ArrowEval")


class Op:
    """One call into the program: ``built()`` marks the end of the call
    (eager jobs included); the span ends after the consuming action."""

    def __init__(self, name: str):
        self.name = name
        self.start = time.perf_counter()
        self.built_at = None
        self.end = None

    def built(self) -> None:
        self.built_at = time.perf_counter()


class Tracer:
    """Times each op of a pass. With ``enabled`` it also tags Spark jobs
    with the op's job group and keeps spans in memory until ``dump``."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[Op] = []
        self._parent = None

    @contextmanager
    def span(self, name: str):
        start = time.perf_counter()
        parent, self._parent = self._parent, name
        try:
            yield
        finally:
            self._parent = parent
            self._record(name, start, time.perf_counter(), parent)

    @contextmanager
    def op(self, name: str):
        op = Op(name)
        if self.enabled:
            self.sc.setJobGroup(name, name)
        try:
            yield op
        finally:
            op.end = time.perf_counter()
            if op.built_at is None:
                op.built_at = op.end
            if self.enabled:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)
            self.ops.append(op)
            self._record(name, op.start, op.end, self._parent)
            self._record(name + ".build", op.start, op.built_at, name)
            self._record(name + ".exec", op.built_at, op.end, name)

    def _record(self, name, start, end, parent):
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run": self.run_id})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark status store (the data behind the REST API), read over py4j
# ---------------------------------------------------------------------------

def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def last_job_id(sc) -> int:
    jobs = _seq(sc._jsc.sc().statusStore().jobsList(None))
    return max((j.jobId() for j in jobs), default=-1)


def last_execution_id(spark) -> int:
    ex = _seq(spark._jsparkSession.sharedState().statusStore().executionsList())
    return max((e.executionId() for e in ex), default=-1)


def _parse_dot(dot: str):
    """Nodes of a stage's RDD operation graph as ``{id: (python, cached)}``
    plus its edges. A node is Python when it is a PythonRDD or sits inside
    a Python/Arrow operator's scope."""
    nodes, edges, scopes = {}, [], []
    for line in dot.splitlines():
        line = line.strip()
        if line.startswith("subgraph "):
            scopes.append("")
        elif line.startswith('label="') and scopes:
            scopes[-1] = line[len('label="'):]
        elif line == "}" and scopes:
            scopes.pop()
        elif m := re.match(r'(\d+) \[id="node_\d+".*label="([^"]*)"', line):
            label = m.group(2)
            python = (label.startswith("PythonRDD")
                      or any(_PYTHON_NODE.search(sc) for sc in scopes))
            nodes[int(m.group(1))] = (python, "[Cached]" in label.split("<")[0])
        elif m := re.fullmatch(r"(\d+)->(\d+);", line):
            edges.append((int(m.group(1)), int(m.group(2))))
    return nodes, edges


def _runs_python(nodes, edges, materialized: set) -> bool:
    """Whether a stage executes a Python node: one that does not feed a
    cached RDD an earlier stage already materialized (a cache hit skips
    everything upstream of the cached RDD)."""
    down: dict[int, list[int]] = {}
    for a, b in edges:
        down.setdefault(a, []).append(b)
    for start, (python, _) in nodes.items():
        if not python:
            continue
        seen, todo = set(), [start]
        while todo:
            n = todo.pop()
            if n not in seen:
                seen.add(n)
                todo.extend(down.get(n, ()))
        if not seen & materialized:
            return True
    return False


def group_metrics(sc, after_job: int) -> dict:
    """Per job group, over jobs newer than ``after_job``: job count,
    completed tasks, summed executor run time, shuffle-write and input
    bytes, and the tasks of stages that execute Python or Arrow code."""
    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    stage_groups: dict[int, set] = {}
    out: dict[str, dict] = {}
    for job in _seq(store.jobsList(None)):
        if job.jobId() <= after_job or not job.jobGroup().isDefined():
            continue
        group = job.jobGroup().get()
        m = out.setdefault(group, dict.fromkeys(STORE_QUANTITIES, 0))
        m["jobs"] += 1
        for sid in _seq(job.stageIds()):
            stage_groups.setdefault(sid, set()).add(group)
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = [s for s in _seq(store.stageList(None, False, False, empty, None))
              if s.stageId() in stage_groups and s.numCompleteTasks() > 0]
    materialized: set = set()
    for stage in sorted(stages, key=lambda s: (s.stageId(), s.attemptId())):
        nodes, edges = _parse_dot(
            graph.makeDotFile(store.operationGraphForStage(stage.stageId())))
        python = _runs_python(nodes, edges, materialized)
        materialized |= {n for n, (_, cached) in nodes.items() if cached}
        for g in stage_groups[stage.stageId()]:
            m = out[g]
            m["tasks"] += stage.numCompleteTasks()
            m["task_s"] += stage.executorRunTime() / 1000.0
            m["shuffle_bytes"] += stage.shuffleWriteBytes()
            m["input_bytes"] += stage.inputBytes()
            if python:
                m["python_tasks"] += stage.numCompleteTasks()
    return out


def sql_output_rows(spark, description: str, node: str, after_execution: int) -> int:
    """Sum of ``number of output rows`` of plan nodes named ``node`` in SQL
    executions tagged ``description`` and newer than ``after_execution``."""
    ss = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in _seq(ss.executionsList()):
        if e.executionId() <= after_execution or e.description() != description:
            continue
        values = ss.executionMetrics(e.executionId())
        for n in _seq(ss.planGraph(e.executionId()).allNodes()):
            if n.name() != node:
                continue
            for metric in _seq(n.metrics()):
                v = values.get(metric.accumulatorId())
                if metric.name() == "number of output rows" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class PssSampler:
    """Samples the summed PSS of a process tree (the JVM and the Python
    workers it forks) on a background thread; ``stop`` returns the largest
    sample since ``start``, in MB."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kb = sum(_pss_kb(p) for p in _descendants(self.root_pid))
        self.peak_kb = max(self.peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "PssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_kb / 1024.0
