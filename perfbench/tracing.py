"""Layer tracing from outside the package.

Three tools, all used only by the traced run (``--trace 1``):

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
  around calls into the package's public functions, by swapping the
  module attribute the caller looks up for a timing wrapper. Spans are
  written out when the run ends.
* ``prefix`` rebuilds a pipeline but stops right after one layer's
  function returns, handing back that layer's DataFrame. Materializing
  cumulative prefixes, cache cleared before each, gives every layer's
  self time as the difference between neighbouring prefixes.
* ``EventLog`` reads Spark's own event log (JSON lines) and sums task
  metrics per job group.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import statistics
import time


def _resolve(target: str):
    module, attr = target.rsplit(".", 1)
    return importlib.import_module(module), attr


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextlib.contextmanager
    def wrapped(self, targets: dict[str, str]):
        """Record a span named ``name`` around every call of each
        ``"package.module.function": name`` target while active."""
        saved = []
        for target, name in targets.items():
            module, attr = _resolve(target)
            orig = getattr(module, attr)

            def timed(*args, _orig=orig, _name=name, **kwargs):
                with self.span(_name):
                    return _orig(*args, **kwargs)

            saved.append((module, attr, orig))
            setattr(module, attr, timed)
        try:
            yield self
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    def intervals(self, since: float, until: float) -> list[tuple]:
        return [(s["start"], s["end"]) for s in self.spans
                if s["end"] is not None and s["start"] >= since
                and s["end"] <= until]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class _Stop(Exception):
    def __init__(self, result):
        super().__init__("prefix reached")
        self.result = result


def prefix(build, target: str):
    """Run ``build()`` until ``target`` first returns; return its result."""
    module, attr = _resolve(target)
    orig = getattr(module, attr)

    def stop(*args, **kwargs):
        raise _Stop(orig(*args, **kwargs))

    setattr(module, attr, stop)
    try:
        build()
    except _Stop as reached:
        return reached.result
    finally:
        setattr(module, attr, orig)
    raise RuntimeError(f"{target} was never called")


def union_length(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def minus_length(covered, holes) -> float:
    """Length of the union of ``covered`` not inside the union of
    ``holes``."""
    return union_length(covered) - union_length(
        [(max(s, hs), min(e, he)) for s, e in covered for hs, he in holes
         if min(e, he) > max(s, hs)])


#: SQL metrics of the plan nodes that run Python workers (pyspark 4.x
#: ``PythonSQLMetrics``), keyed by the metric's display name.
_PY_METRICS = {"data sent to Python workers": "bytes_to_workers",
               "number of output rows": "rows_from_workers"}


def _python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.tasks: list[dict] = []
        self.py_accums: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        if _python_node(info.get("nodeName", "")):
            for m in info.get("metrics", ()):
                if m["name"] in _PY_METRICS:
                    self.py_accums[m["accumulatorId"]] = _PY_METRICS[m["name"]]
        for child in info.get("children", ()):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[e["Job ID"]] = {"group": group,
                                      "start": e["Submission Time"] / 1e3,
                                      "end": None,
                                      "stages": e["Stage IDs"]}
            for sid in e["Stage IDs"]:
                self.stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "ok": e["Task End Reason"]["Reason"] == "Success",
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "spill": (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0)),
                "sh_read": (rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0)),
                "sh_write": wr.get("Shuffle Bytes Written", 0),
                "accums": {a["ID"]: a.get("Update")
                           for a in info.get("Accumulables", ())},
            })
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            self._plan(e["sparkPlanInfo"])

    def summary(self, groups: set[str]) -> dict:
        """Engine-wide counters of every job in ``groups``."""
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        stages = {s for j in jobs for s in j["stages"]}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        py = {"bytes_to_workers": 0, "rows_from_workers": 0}
        for t in tasks:
            for acc_id, update in t["accums"].items():
                kind = self.py_accums.get(acc_id)
                if kind is not None and isinstance(update, (int, str)):
                    py[kind] += int(update)
        ran = {t["stage"] for t in tasks}
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": len(tasks),
            "job_intervals": [(j["start"], j["end"]) for j in jobs
                              if j["end"] is not None],
            "run_s": sum(t["run_s"] for t in tasks),
            "cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "task_failures": sum(not t["ok"] for t in tasks),
            "shuffle_read_bytes": sum(t["sh_read"] for t in tasks),
            "shuffle_write_bytes": sum(t["sh_write"] for t in tasks),
            **py,
        }

    def reduce_side(self, groups: set[str]) -> dict:
        """Tasks of the stages that read a shuffle: count and skew
        (max over median task duration)."""
        stages = {s for j in self.jobs.values() if j["group"] in groups
                  for s in j["stages"]}
        reducers = {t["stage"] for t in self.tasks
                    if t["stage"] in stages and t["sh_read"] > 0}
        durs = [t["dur"] for t in self.tasks if t["stage"] in reducers]
        med = statistics.median(durs) if durs else 0.0
        return {"tasks": len(durs),
                "skew": max(durs) / med if med > 0 else 0.0}
