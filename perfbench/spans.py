"""Per-layer measurement, taken from the benchmark's side only.

* ``Tracer`` swaps every public function of the named program modules
  for a timing wrapper, wherever a module of the package holds a
  reference to it (module attributes, ``from x import f`` copies and
  registry dicts such as ``sinks.SINKS``), and restores the originals
  on ``uninstall``. Each call becomes a span with its parent span;
  a module's self time is its spans' time minus the time of the
  wrapped calls they made; per function it keeps calls, inclusive
  time and the end of the last call. Spans stay in memory until
  ``dump``.
* ``job_counts`` reads jobs, stages and tasks of one job group from
  Spark's status tracker.
* ``eventlog_layers`` reads stage timings and task metrics per job
  group from Spark's own event log.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
import types
from collections import defaultdict

PKG = "universal_data_connector_spark"


class Tracer:
    def __init__(self, modules: list[str]):
        self.modules = modules
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.incl_s: dict[str, float] = defaultdict(float)
        self.last_end: dict[str, float] = {}
        self.spans: list[tuple] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._swapped: list[tuple] = []
        self._next_id = 0

    def _enter(self, name: str) -> list:
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        frame = [sid, stack[-1][0] if stack else 0, name,
                 time.perf_counter(), 0.0]
        stack.append(frame)
        return frame

    def _exit(self, frame: list, module: str) -> None:
        end = time.perf_counter()
        stack = self._tls.stack
        stack.pop()
        dur = end - frame[3]
        if stack:
            stack[-1][4] += dur  # time the caller spent in wrapped calls
        sid, parent, name, start, child_s = frame
        with self._lock:
            self.self_s[module] += dur - child_s
            self.calls[name] += 1
            self.incl_s[name] += dur
            self.last_end[name] = end
            self.spans.append((sid, parent, name, start, end,
                               threading.get_ident()))

    # -- wrapping ------------------------------------------------------
    def _wrap(self, fn, module: str):
        name = f"{module}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            frame = self._enter(name)
            try:
                return fn(*a, **kw)
            finally:
                self._exit(frame, module)
        return wrapper

    def install(self) -> None:
        import importlib

        originals = {}
        for mod_name in self.modules:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for attr, fn in vars(mod).items():
                if (not attr.startswith("_")
                        and isinstance(fn, types.FunctionType)
                        and fn.__module__ == mod.__name__):
                    originals[id(fn)] = (fn, self._wrap(fn, mod_name))
        for mod in [m for k, m in sys.modules.items()
                    if k == PKG or k.startswith(PKG + ".")]:
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and originals[id(val)][0] is val:
                    self._swapped.append((vars(mod), attr, val))
                    setattr(mod, attr, originals[id(val)][1])
                elif isinstance(val, dict) and not attr.startswith("__"):
                    for k, v in list(val.items()):
                        if id(v) in originals and originals[id(v)][0] is v:
                            self._swapped.append((val, k, v))
                            val[k] = originals[id(v)][1]

    def uninstall(self) -> None:
        for ns, key, orig in reversed(self._swapped):
            ns[key] = orig
        self._swapped.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sid, parent, name, start, end, tid in self.spans:
                fh.write(json.dumps({"id": sid, "parent": parent,
                                     "name": name, "start": start,
                                     "end": end, "thread": tid}) + "\n")


def job_counts(sc, group: str) -> dict:
    """jobs / stages / tasks / one-task stages that ran in ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = one = ran = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is None or info.numCompletedTasks == 0:
            continue  # skipped (shuffle reuse) or evicted
        ran += 1
        tasks += info.numCompletedTasks
        one += info.numTasks == 1
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks,
            "one_task_stages": one}


def eventlog_layers(log_dir: str) -> dict[str, dict]:
    """Per job group: stage intervals and summed task metrics."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    out_iv: dict[str, list] = defaultdict(list)
    for name in os.listdir(log_dir):
        path = os.path.join(log_dir, name)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None or "Submission Time" not in info:
                        continue
                    out_iv[group].append((info["Submission Time"] / 1e3,
                                          info["Completion Time"] / 1e3))
                    acc = {a.get("Name"): a.get("Value")
                           for a in info.get("Accumulables", [])}
                    m = out[group]

                    def val(key):
                        v = acc.get(key)
                        return float(v) if v is not None else 0.0
                    m["executor_run_s"] += val("internal.metrics.executorRunTime") / 1e3
                    m["executor_cpu_s"] += val("internal.metrics.executorCpuTime") / 1e9
                    m["gc_s"] += val("internal.metrics.jvmGCTime") / 1e3
                    m["input_mb"] += val("internal.metrics.input.bytesRead") / 1e6
                    m["shuffle_mb"] += val("internal.metrics.shuffle.write.bytesWritten") / 1e6
                    m["spill_mb"] += (val("internal.metrics.memoryBytesSpilled")
                                      + val("internal.metrics.diskBytesSpilled")) / 1e6
    for group, ivs in out_iv.items():
        covered, end = 0.0, float("-inf")
        for a, b in sorted(ivs):
            if b > end:
                covered += b - max(a, end)
                end = b
        out[group]["stage_union_s"] = covered
    return out
