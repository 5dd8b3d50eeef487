"""Benchmark-side tracing: spans around each layer call, Spark job tags,
and the per-op figures read back from the Spark event log.

Spans are recorded only from the benchmark's own files, around the
calls it makes into each layer.  Each span also sets the Spark job
description to ``op<id>|<layer>``, so every job in the event log maps
to the op and the layer call that started it.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Keeps spans in memory; ``write`` saves them when the run ends."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op_id):
        if self.sc is None:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        stack.append((sid, name))
        self.sc.setJobDescription(f"op{op_id}|{name}")
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.sc.setJobDescription(f"op{op_id}|{parent[1]}" if parent else None)
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent[0] if parent else None, "op": op_id}
                )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: its duration minus the time its
        child spans cover (children of one span run one after another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


NO_TRACE = Tracer()


def cached_rdds(sc) -> dict[int, int]:
    """Cached RDD id -> bytes held (memory + disk), from the driver's
    storage status."""
    out = {}
    for r in sc._jsc.sc().getRDDStorageInfo():
        if r.numCachedPartitions() > 0:
            out[r.id()] = r.memSize() + r.diskSize()
    return out


def _op_of(desc: str | None):
    """'op12|operators.skyline.exec' -> (12, 'operators.skyline.exec')."""
    if not desc or not desc.startswith("op") or "|" not in desc:
        return None, None
    head, layer = desc.split("|", 1)
    try:
        return int(head[2:]), layer
    except ValueError:
        return None, None


def read_event_log(log_dir: str) -> dict:
    """Per-op figures from the newest event log in ``log_dir`` (the
    session the timed loop ran in).

    Returns ``{op_id: {...}}`` with jobs, tasks, shuffle bytes written,
    GC, spill, scheduler delay and Python-worker time, the cached RDD ids
    the op's executed stages read, and the single-task final merge stages
    of ``operators.skyline.exec`` calls (rows read, seconds).
    """
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no finished event log in {log_dir}")
    newest = max(files, key=os.path.getmtime)
    stage_job: dict[int, tuple] = {}
    stage_tasks: dict[int, list] = defaultdict(list)
    stages: dict[int, dict] = {}
    ops: dict = defaultdict(lambda: defaultdict(float))
    with open(newest) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                op, layer = _op_of((e.get("Properties") or {}).get("spark.job.description"))
                if op is None:
                    continue
                ops[op]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, (op, layer))
            elif kind == "SparkListenerTaskEnd":
                stage_tasks[e["Stage ID"]].append(e)
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stages[si["Stage ID"]] = si
    for sid, si in stages.items():
        if sid not in stage_job:
            continue
        op, layer = stage_job[sid]
        o = ops[op]
        o.setdefault("cache_reads", set())
        for r in si["RDD Info"]:
            lvl = r.get("Storage Level") or {}
            if lvl.get("Use Memory") or lvl.get("Use Disk"):
                o["cache_reads"].add(r["RDD ID"])
        read_rows = 0
        for t in stage_tasks.get(sid, []):
            m = t.get("Task Metrics") or {}
            info = t["Task Info"]
            o["tasks"] += 1
            o["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            o["gc_ms"] += m.get("JVM GC Time", 0)
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            busy = (
                m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0)
            )
            o["sched_delay_ms"] += max(0, info["Finish Time"] - info["Launch Time"] - busy)
            read_rows += m.get("Shuffle Read Metrics", {}).get("Total Records Read", 0)
            for a in info.get("Accumulables", []):
                if a.get("Name") == "time to run Python workers":
                    o["python_ms"] += float(a.get("Update") or 0)
        scopes = {json.loads(r["Scope"])["name"] for r in si["RDD Info"] if r.get("Scope")}
        if (
            layer == "operators.skyline.exec"
            and si["Number of Tasks"] == 1
            and "MapInArrow" in scopes
            and read_rows > 0
        ):
            o.setdefault("final_merges", []).append(
                (read_rows, (si["Completion Time"] - si["Submission Time"]) / 1000.0)
            )
    return ops
