"""Spans around calls into the package's public functions, recorded from
the benchmark's side.

Each span carries a layer (the module's name under the package), a
start, an end and its parent, and runs its Spark jobs under a job group
of its own, so per-stage executor metrics can be attributed to the
innermost span that started them. Spans stay in memory and are written
out when the run ends. Nothing here edits package code: a traced call
is a module attribute swapped for a wrapper for the length of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

PKG = "osm_legal_default_speeds_spark."


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb:{sid}", name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"pb:{parent['id']}", parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, func_name: str) -> None:
        """Trace every call of ``module.func_name`` made through the
        module attribute (including calls from other package modules
        that import it lazily at call time)."""
        orig = getattr(module, func_name)
        layer = module.__name__.removeprefix(PKG)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(f"{layer}.{func_name}", layer):
                return orig(*a, **kw)

        setattr(module, func_name, traced)
        self._patched.append((module, func_name, orig))

    def unwrap_all(self) -> None:
        for module, name, orig in reversed(self._patched):
            setattr(module, name, orig)
        self._patched.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def self_times(spans: list[dict], root: int) -> dict[str, float]:
    """Self time per layer under span ``root`` (inclusive): each span's
    duration minus the part of it its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    todo = [spans[root]]
    while todo:
        s = todo.pop()
        covered = _union_length(
            [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
        )
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        todo.extend(kids.get(s["id"], []))
    return out


def attributed_s(self_times: dict[str, float], skip: tuple[str, ...]) -> float:
    """The self time that layers other than ``skip`` account for."""
    return sum(v for k, v in self_times.items() if k not in skip)


def _union_length(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def descendants(spans: list[dict], root: int) -> set[int]:
    out, todo = {root}, [root]
    while todo:
        p = todo.pop()
        for s in spans:
            if s["parent"] == p and s["id"] not in out:
                out.add(s["id"])
                todo.append(s["id"])
    return out


def stage_metrics(sc, span_ids: set[int]) -> dict:
    """Sum the executor metrics of every stage of every job whose job
    group names one of ``span_ids``; ``task_skew`` is the largest
    max/median task run time over stages with at least two tasks."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    stage_ids: set[int] = set()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        g = j.jobGroup()
        if g.isDefined() and g.get().startswith("pb:"):
            if int(g.get()[3:]) in span_ids:
                stage_ids.update(int(x) for x in conv.asJava(j.stageIds()))
    out = {
        "executor_cpu_s": 0.0, "executor_run_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks_failed": 0,
        "task_skew": 1.0, "stages": 0,
    }
    if not stage_ids:
        return out
    gw = sc._gateway
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    q = gw.new_array(jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() not in stage_ids:
            continue
        out["stages"] += 1
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["executor_run_s"] += s.executorRunTime() / 1e3
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["tasks_failed"] += s.numFailedTasks()
        if s.numCompleteTasks() >= 2:
            summ = store.taskSummary(s.stageId(), s.attemptId(), q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                if med > 0:
                    out["task_skew"] = max(out["task_skew"], mx / med)
    return out

