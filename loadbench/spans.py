"""In-memory spans around calls into the engine, Spark job/stage/task
figures per span, and a PSS sampler for the JVM and its Python workers.

A span records (name, start, end, parent, request id). While a span is
open on a thread, that thread's Spark job group is the span's group, so
every job the span fires can be read back from the status store after the
run. Spans are kept in memory and written out once the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid=None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if rid is None and parent is not None:
            rid = parent["rid"]
        rec = {
            "id": sid, "name": name, "parent": parent["id"] if parent else None,
            "rid": rid, "group": f"lb{sid}", "start": time.perf_counter(),
        }
        stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, result=None):
        """``fn`` inside a span; ``result`` may wrap its return value."""
        def wrapped(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            return result(out) if result is not None else out
        return wrapped

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_ms(self, span: dict) -> float:
        """Span wall minus the part of it that its child spans cover."""
        kids = sorted((c["start"], c["end"]) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return 1000.0 * (span["end"] - span["start"] - covered)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


class StatusStore:
    """Job, stage and task figures for a job group, read from the driver's
    status store over Py4J (the web UI stays off)."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._empty_list = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._stage_cache: dict[int, dict] = {}

    def _stage(self, sid: int) -> dict:
        got = self._stage_cache.get(sid)
        if got is not None:
            return got
        out = {"ran": False, "tasks": 0, "shuffle_write": 0, "spill": 0, "max_over_median": 1.0}
        attempts = self.store.stageData(sid, False, self._empty_list, False, self._no_quantiles)
        for a in range(attempts.size()):
            sd = attempts.apply(a)
            if str(sd.status()) == "SKIPPED":
                continue
            n = int(sd.numTasks())
            out["ran"] = True
            out["tasks"] += n
            out["shuffle_write"] += int(sd.shuffleWriteBytes())
            out["spill"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
            if n >= 2:
                tasks = self.store.taskList(sid, sd.attemptId(), n)
                durs = []
                for i in range(tasks.size()):
                    d = tasks.apply(i).duration()
                    if d.isDefined():
                        durs.append(float(d.get()))
                med = statistics.median(durs) if durs else 0.0
                if med > 0:
                    out["max_over_median"] = max(out["max_over_median"], max(durs) / med)
        self._stage_cache[sid] = out
        return out

    def group(self, group: str) -> dict:
        jids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        sids = set()
        for j in jids:
            ids = self.store.job(j).stageIds()
            sids.update(int(ids.apply(i)) for i in range(ids.size()))
        ran = [st for st in (self._stage(s) for s in sids) if st["ran"]]
        return {
            "jobs": len(jids),
            "stages": len(ran),
            "tasks": sum(st["tasks"] for st in ran),
            "single_task_stages": sum(1 for st in ran if st["tasks"] == 1),
            "shuffle_write_mb": sum(st["shuffle_write"] for st in ran) / 2**20,
            "spill_mb": sum(st["spill"] for st in ran) / 2**20,
            "task_max_over_median": max((st["max_over_median"] for st in ran), default=1.0),
        }


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_of()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def pss_mb(pids: list[int]) -> tuple[float, float]:
    """(PSS, anonymous PSS) of the processes, in MB. Anonymous PSS leaves
    out file-backed pages such as jars and memory-mapped shuffle files."""
    total = anon = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                    elif line.startswith("Pss_Anon:"):
                        anon += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0, anon / 1024.0


class PssSampler:
    """Samples the PSS of a process tree on a daemon thread; ``peak`` holds
    the largest totals seen between ``start`` and ``stop``."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = {"pss": 0.0, "anon": 0.0, "jvm_pss": 0.0, "workers_pss": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        tree = process_tree(self.root_pid)
        (root, root_anon), (rest, rest_anon) = pss_mb(tree[:1]), pss_mb(tree[1:])
        for k, v in (("pss", root + rest), ("anon", root_anon + rest_anon),
                     ("jvm_pss", root), ("workers_pss", rest)):
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> dict:
        if self._stop.is_set():
            return self.peak
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak
