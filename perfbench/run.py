#!/usr/bin/env python3
"""Benchmark of the skyline engine: one command, three workloads.

    python3 perfbench/run.py --workload serving_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Lines before it starting with ``#`` record the pinned
environment and the details behind the figures.  See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "skylinemapreducehadoop_spark"
CPUS = len(os.sched_getaffinity(0))
WORKLOAD_NAMES = ("gsod_batch", "serving_mix", "append_refresh")
#: end-to-end metrics printed on the info line but not bounded in BENCHMARK.json
UNBOUNDED_E2E = {"latency_p50_s", "latency_tail_s", "rows_per_s", "error_rate"}
#: workloads the command runs but BENCHMARK.json leaves out, and why
NOT_IN_BENCHMARK_JSON = {
    "gsod_batch": "one op takes about 10 s and its untimed set-up op about 17 s, so three "
    "workloads do not fit the benchmark's run budget; its GSOD parse and profile "
    "layers are measured on append_refresh and its quadtree on serving_mix",
}
MB = float(1 << 20)


def pin_env() -> dict:
    """Pin what the engine reads from the environment before any Spark
    import, so every run sees the same parallelism and paths.  The driver
    heap is left to the engine's own default (recorded on the env line)."""
    env = {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }
    for var in ("PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path[:0] = [ROOT, HERE]
    return env


# --------------------------------------------------------------------------
def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap(pids, grace: float) -> None:
    """Wait up to ``grace`` seconds for ``pids`` to end, then kill the rest
    and wait until they have ended."""
    deadline = time.monotonic() + grace
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def run_child(cmd: list[str], timeout: float) -> subprocess.CompletedProcess:
    """Run ``cmd`` and return its output; on a timeout, kill it and every
    process below it (its JVM and Python workers) before raising."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        below = descendants(p.pid)
        p.kill()
        p.communicate()
        _reap(below, 0.0)
        raise
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def stop_everything() -> None:
    """Stop the Spark session and its JVM, and wait until every process
    this run started has ended.  Closing the JVM's stdin is what makes the
    PySpark gateway exit; its Python workers exit when it does."""
    below = descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
    _reap(below, 10.0)


# --------------------------------------------------------------------------
class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers it forks), sampled from /proc."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period, self.peak = period, 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_event.wait(self.period):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


# --------------------------------------------------------------------------
def _identity(batches):
    yield from batches


def session_conf(work: str, event_log: str | None) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def set_up(wl, conf: dict) -> tuple:
    """The cold set-up: start the session (launching the JVM), run the
    first Python-UDF job and load the workload's tables.  Returns
    (spark, start_s, udf_s, load_s)."""
    from skylinemapreducehadoop_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(64).mapInArrow(_identity, "id long").count()
    t2 = time.perf_counter()
    wl.load(spark)
    return spark, t1 - t0, t2 - t1, time.perf_counter() - t2


def timed_loop(spark, wl, seconds: float, tr) -> tuple[list[dict], list[float]]:
    """Closed loop: each of ``wl.clients`` clients claims the next
    ``wl.group`` ops of the stream, runs them one after another and claims
    again, until it has spent ``seconds`` (every client claims at least
    once).  Writing per-op input files is excluded from the clock.
    Returns the records and each client's wall time."""
    from pyspark import InheritableThread

    from tracing import cached_rdds

    lock = threading.Lock()
    state = {"next": 0}
    records: list[dict] = []
    walls = [0.0] * wl.clients
    t_start = time.perf_counter()

    def client(c: int) -> None:
        excluded, first = 0.0, True
        while first or time.perf_counter() - t_start - excluded < seconds:
            first = False
            with lock:
                idx = range(state["next"], state["next"] + wl.group)
                state["next"] += wl.group
                g0 = time.perf_counter()
                ops = [wl.next_op(i) for i in idx]
                excluded += time.perf_counter() - g0
            for i, op in zip(idx, ops):
                rec = {"op": op, "i": i, "client": c}
                if tr.sc is not None:
                    rec["cached_before"] = set(cached_rdds(tr.sc))
                rec["start"] = time.perf_counter()
                try:
                    with tr.span("op", op_id(op)):
                        rec["result"], rec["rows"] = wl.run_op(spark, op, tr)
                except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
                    rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
                rec["end"] = time.perf_counter()
                if tr.sc is not None:
                    rec["storage_bytes"] = sum(cached_rdds(tr.sc).values())
                with lock:
                    records.append(rec)
        walls[c] = time.perf_counter() - t_start - excluded

    threads = [InheritableThread(target=client, args=(c,)) for c in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(records, key=lambda r: r["i"]), walls


def op_id(op) -> int:
    return op.op_id if hasattr(op, "op_id") else op[0]


def tail(lat: list[float]) -> tuple[str, float]:
    """The highest of p99.9/p99/p95/p90/p75/p50 with at least ten samples
    beyond it (nearest rank); the maximum when no percentile has."""
    s, n = sorted(lat), len(lat)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        rank = math.ceil(p / 100.0 * n)
        if n - rank >= 10:
            return f"p{p:g}", s[rank - 1]
    return "max", s[-1]


def check_all(wl, records) -> None:
    from check import Checker

    ck = Checker(CPUS)
    try:
        for r in records:
            if "error" not in r:
                r["problems"] = wl.check(ck, r["op"], r["result"])
    finally:
        ck.close()


def summarize(records, walls: list[float]) -> dict:
    """Throughput and rows/s add up the clients' rates, each a closed loop
    over its own wall time."""
    ok = [r for r in records if "error" not in r]
    lat = [r["end"] - r["start"] for r in ok]
    raised = [r for r in records if "error" in r]
    wrong = [r for r in ok if r["problems"]]
    out = {
        "attempted": len(records),
        "raised": len(raised),
        "wrong": len(wrong),
        "error_rate": (len(raised) + len(wrong)) / len(records),
        "failures": [
            {"op": repr(r["op"]), "error": r.get("error") or r["problems"]}
            for r in raised + wrong
        ],
        "samples": len(lat),
        "client_wall_s": walls,
        "latencies_s": [round(x, 4) for x in lat],
    }
    if lat:
        pname, pval = tail(lat)
        out.update({
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": pval,
            "tail_percentile": pname,
            "throughput_ops_per_s": sum(
                sum(r["client"] == c for r in ok) / w for c, w in enumerate(walls)),
            "rows_per_s": sum(
                sum(r["rows"] for r in ok if r["client"] == c) / w for c, w in enumerate(walls)),
        })
    return out


# --------------------------------------------------------------------------
def run_pass(name: str, seed: int, seconds: float, work: str, tiny: bool,
             event_log: str | None) -> dict:
    """Generate inputs, set up once (cold), run the untimed op and the timed
    loop, and check every result.  Peak RSS covers generation, set-up and
    the ops, not the check."""
    from tracing import NO_TRACE, Tracer
    from workloads import WORKLOADS

    rss = RssSampler()
    rss.start()
    shutil.rmtree(work, ignore_errors=True)
    wl = WORKLOADS[name](seed, work, tiny)
    wl.generate()
    spark, start_s, udf_s, load_s = set_up(wl, session_conf(work, event_log))
    t0 = time.perf_counter()
    wl.warm(spark)
    warm_s = time.perf_counter() - t0
    tr = Tracer(spark.sparkContext) if event_log else NO_TRACE
    records, walls = timed_loop(spark, wl, seconds, tr)
    rss.stop()
    check_all(wl, records)
    res = summarize(records, walls)
    res.update({
        "spark": spark, "wl": wl, "tracer": tr, "records": records,
        "setup_s": start_s + udf_s + load_s + warm_s,
        "session.start_s": start_s,
        "session.warmup_s": udf_s + warm_s,
        "load_s": load_s,
        "warm_op_s": warm_s,
        "peak_rss_mb": rss.peak / MB,
        "workload_sizes": wl.info(),
    })
    return res


def public(res: dict) -> dict:
    return {k: v for k, v in res.items() if k not in ("spark", "wl", "tracer", "records")}


def e2e_metrics(res: dict) -> dict:
    """The end-to-end metrics BENCHMARK.json bounds, for the result line."""
    units = {"throughput_ops_per_s": "ops/s", "peak_rss_mb": "MB", "setup_s": "s"}
    return {k: {"value": res[k], "unit": u} for k, u in units.items() if k in res}


def unbounded_e2e(res: dict) -> dict:
    """End-to-end metrics printed on the info line only (see README.md):
    latency percentiles and rows/s of a 10-second run rest on 3-10 ops of
    mixed kinds, and the error rate is 0 on a healthy run."""
    out = {"error_rate": {"value": res["error_rate"], "unit": "ratio"}}
    if "latency_p50_s" in res:
        out["rows_per_s"] = {"value": res["rows_per_s"], "unit": "rows/s"}
        out["latency_p50_s"] = {"value": res["latency_p50_s"], "unit": "s",
                                "samples": res["samples"]}
        out["latency_tail_s"] = {"value": res["latency_tail_s"], "unit": "s",
                                 "percentile": res["tail_percentile"], "samples": res["samples"]}
    return out


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def layer_metrics(res: dict, untraced: dict, event_ops: dict, probes: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced pass: (metrics for the result line,
    workload-specific extras for the info line)."""
    tr, records = res["tracer"], [r for r in res["records"] if "error" not in r]
    n = max(len(records), 1)
    ids = [op_id(r["op"]) for r in records]
    per_op = [event_ops.get(i, {}) for i in ids]

    def total(key):
        return sum(o.get(key, 0) for o in per_op)

    merges = [m for o in per_op for m in o.get("final_merges", [])]
    reuse = [bool(event_ops.get(op_id(r["op"]), {}).get("cache_reads", set()) & r["cached_before"])
             for r in records]
    m = {
        "session.start_s": (res["session.start_s"], "s"),
        "session.warmup_s": (res["session.warmup_s"], "s"),
        "operators.skyline.build_s": (_median(tr.durations("operators.skyline.build")), "s"),
        "operators.skyline.exec_s": (_median(tr.durations("operators.skyline.exec")), "s"),
        "operators.skyline.jobs_per_op": (total("jobs") / n, "count"),
        "operators.skyline.tasks_per_op": (total("tasks") / n, "count"),
        "operators.skyline.merge_candidates": (_median(c for c, _ in merges), "rows"),
        "operators.skyline.final_merge_s": (_median(s for _, s in merges), "s"),
        "operators.skyline.shuffle_write_mb": (total("shuffle_write_bytes") / MB / n, "MB"),
        "operators._kernel.mask_s": (probes["mask_s"], "s"),
        "operators._kernel.rows_per_s": (probes["mask_rows"] / probes["mask_s"], "rows/s"),
        "operators._kernel.python_s": (total("python_ms") / 1000.0 / n, "s"),
        "operators.quadtree.build_s": (probes["qt_build_s"], "s"),
        "operators.quadtree.assign_rows_per_s": (probes["mask_rows"] / probes["qt_assign_s"], "rows/s"),
        "operators.quadtree.pruned_row_ratio": (probes["qt_pruned_rows"], "ratio"),
        "operators._cache.reuse_ratio": (sum(reuse) / n, "ratio"),
        "operators._cache.storage_mb": (max((r["storage_bytes"] for r in records), default=0) / MB, "MB"),
        "spark.gc_s": (total("gc_ms") / 1000.0 / n, "s"),
        "spark.spill_mb": (total("spill_bytes") / MB / n, "MB"),
        "spark.scheduler_delay_s": (total("sched_delay_ms") / 1000.0 / n, "s"),
        "trace.overhead_ratio": (
            untraced["throughput_ops_per_s"] / res["throughput_ops_per_s"] - 1.0, "ratio"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    lat_by_kind: dict[str, list] = {}
    for r in records:
        kind = getattr(r["op"], "kind", None)
        if kind:
            key = f"{kind}.{'hot' if r['op'].hot else 'cold'}"
            lat_by_kind.setdefault(key, []).append(r["end"] - r["start"])

    def p50_where(pred) -> float:
        return _median(x for k, xs in lat_by_kind.items() if pred(k) for x in xs)

    ratios = [r["result"][-1].num_rows / c for r, o in zip(records, per_op)
              for c, _ in o.get("final_merges", [])[-1:] if c]
    # share of each op's latency spent in the skyline operator (its build
    # and exec spans) and in the single-task final merge stage alone
    sky_s: dict = {}
    for sp in tr.spans:
        if sp["name"] in ("operators.skyline.build", "operators.skyline.exec"):
            sky_s[sp["op"]] = sky_s.get(sp["op"], 0.0) + sp["end"] - sp["start"]
    lat = [r["end"] - r["start"] for r in records]
    extra = {
        "operators.skyline.merge_ratio": _median(ratios),
        "operators.skyline.share_of_op": _median(
            sky_s.get(i, 0.0) / x for i, x in zip(ids, lat)),
        "operators.skyline.final_merge_share_of_op": _median(
            sum(s for _, s in o.get("final_merges", [])) / x for o, x in zip(per_op, lat)),
        "operators._kernel.survivor_ratio": probes["mask_survivors"] / probes["mask_rows"],
        "operators.quadtree.cells": probes["qt_cells"],
        "operators.quadtree.pruned_cell_ratio": probes["qt_pruned_cells"],
        "operators.quadtree.eager_s": _median(tr.durations("operators.quadtree.eager")),
        "functions.profile.s": _median(tr.durations("functions.profile")),
        "sources.tables.scan_s": _median(tr.durations("sources.tables.scan")),
        "sources.sinks.append_s": _median(tr.durations("sources.sinks.append")),
        "operators.reverse.p50_s": p50_where(lambda k: k.startswith("reverse.")),
        "sql.p50_s": p50_where(lambda k: k.startswith("sql.")),
        "operators._cache.hot_p50_s": p50_where(lambda k: k.endswith(".hot")),
        "operators._cache.cold_p50_s": p50_where(lambda k: k.endswith(".cold")),
        "latency_p50_by_kind_s": {k: round(statistics.median(v), 4) for k, v in sorted(lat_by_kind.items())},
        "self_time_s_per_op": {k: round(v / n, 4) for k, v in sorted(tr.self_times().items())},
        "traced_throughput_ops_per_s": res["throughput_ops_per_s"],
        "untraced_throughput_ops_per_s": untraced["throughput_ops_per_s"],
    }
    extra.update({k: v for k, v in probes.items() if k.startswith("sources.")})
    return metrics, extra


def direct_probes(spark, wl) -> dict:
    """Direct layer calls, made only in the traced run: the kernel and the
    quadtree steps on the workload's own dim matrix, and, for workloads
    with GSOD input, the GSOD parse into a no-op sink."""
    import numpy as np

    from skylinemapreducehadoop_spark.operators._kernel import skyline_mask
    from skylinemapreducehadoop_spark.operators.quadtree import assign_cells, build_tree, prune_tree

    m = wl.dim_matrix()
    t0 = time.perf_counter()
    mask = skyline_mask(m)
    mask_s = time.perf_counter() - t0

    sample = m[:20_000]  # the engine's default quadtree sample size
    lo, hi = m.min(axis=0), m.max(axis=0)
    sample_sky = sample[skyline_mask(sample)]
    t0 = time.perf_counter()
    tree = build_tree(sample, lo, hi, max(16, len(sample) // (4 * CPUS)))
    n_pruned = prune_tree(tree, lo, hi, sample_sky)
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    cells = assign_cells(m, tree)
    assign_s = time.perf_counter() - t0

    def leaves(node) -> int:
        return sum(leaves(c) for c in node["ch"].values()) if isinstance(node, dict) else 1

    occupied = {c for c in cells if c is not None}
    probes = {
        "mask_s": mask_s, "mask_rows": len(m), "mask_survivors": int(mask.sum()),
        "qt_build_s": build_s, "qt_assign_s": assign_s,
        "qt_pruned_rows": float(np.mean([c is None for c in cells])),
        "qt_cells": len(occupied),
        "qt_pruned_cells": n_pruned / max(leaves(tree), 1),
    }
    probe = wl.gsod_probe()
    if probe is not None:
        from skylinemapreducehadoop_spark.sources.gsod import read_gsod

        path, truth = probe
        t0 = time.perf_counter()
        read_gsod(spark, path).write.format("noop").mode("overwrite").save()
        probes["sources.gsod.parse_s"] = time.perf_counter() - t0
        probes["sources.gsod.null_row_ratio"] = float(truth.to_pandas().isna().any(axis=1).mean())
    if wl.name == "append_refresh":
        probes["sources.sinks.table_files"] = wl.table_files()
    return probes


def untraced_baseline(name: str, seed: int, seconds: float, tiny: bool) -> tuple[dict, dict]:
    """Run the same workload and seed untraced in a child process, which
    starts its own JVM exactly as an untraced run does; returns its
    (result line, info)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"] + (["--tiny"] if tiny else [])
    p = run_child(cmd, timeout=150)
    sys.stderr.write(p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        raise RuntimeError(f"untraced baseline run failed with code {p.returncode}")
    info = json.loads(next(x for x in lines if x.startswith("# info "))[len("# info "):])
    return json.loads(lines[-1]), info


def run_workload(name: str, seed: int, seconds: float, trace: bool, tiny: bool) -> tuple[dict, dict]:
    """(result line, info) for one workload.

    The traced run first runs the untraced run as a child process, then
    repeats the run here with the event log on, spans and job tags, and
    the direct layer calls afterwards: both passes start a JVM the same
    way, so their latency difference is the tracing overhead."""
    from tracing import read_event_log

    work = os.path.join(WORK, name)
    if not trace:
        res = run_pass(name, seed, seconds, work, tiny, None)
        res["spark"].stop()
        line = {"correct": not res["wrong"], "attempted": res["attempted"],
                "failed": res["raised"] + res["wrong"], "metrics": e2e_metrics(res)}
        return line, {"other_end_to_end": unbounded_e2e(res), **public(res)}

    base_line, base_info = untraced_baseline(name, seed, seconds, tiny)
    log_dir = os.path.join(work, "eventlog")
    res = run_pass(name, seed, seconds, work, tiny, log_dir)
    probes = direct_probes(res["spark"], res["wl"])
    res["spark"].stop()
    res["tracer"].write(os.path.join(work, "spans.jsonl"))
    metrics, extra = layer_metrics(res, base_info, read_event_log(log_dir), probes)
    info = public(res)
    info["layers"] = extra
    info["untraced_run"] = {"result": base_line, **{
        k: base_info[k] for k in ("attempted", "other_end_to_end", "failures", "latencies_s")}}
    line = {"correct": base_line["correct"] and not res["wrong"],
            "attempted": base_line["attempted"] + res["attempted"],
            "failed": base_line["failed"] + res["raised"] + res["wrong"],
            "metrics": metrics}
    return line, info


# --------------------------------------------------------------------------
def environment(env: dict) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    from skylinemapreducehadoop_spark.session import _default_driver_mem

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "nproc": CPUS, "pinned_env": env, "driver_heap": _default_driver_mem(),
        "git_commit": commit, "source_sha1": digest.hexdigest(),
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
        "numpy": numpy.__version__, "duckdb": duckdb.__version__,
    }


def smoke() -> int:
    """Every workload once at tiny size, traced; asserts that every metric
    named in BENCHMARK.json is printed and that the known-failing op
    (quadtree with a timestamp dim) lands in the error rate."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want_e2e = {m["name"] for m in spec["end_to_end"]}
    want_layer = {m["name"] for m in spec["per_layer"]}
    problems = []
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", "1",
               "--seconds", "0", "--trace", "1", "--tiny"]
        p = run_child(cmd, timeout=400)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            problems.append(f"{name}: exited {p.returncode}: {p.stderr[-1500:]}")
            continue
        line = json.loads(lines[-1])
        info = json.loads(next(x for x in lines if x.startswith("# info "))[len("# info "):])
        base = info["untraced_run"]
        print("# smoke", name, json.dumps(line), flush=True)
        printed_e2e = set(base["result"]["metrics"]) | set(base["other_end_to_end"])
        missing = (want_e2e | UNBOUNDED_E2E) - printed_e2e | (want_layer - set(line["metrics"]))
        if missing:
            problems.append(f"{name}: metrics not printed: {sorted(missing)}")
        if not line["correct"]:
            problems.append(f"{name}: a result failed its check: {info['failures']}")
        failures = base["failures"] + info["failures"]
        if name == "serving_mix":
            defect = [f for f in failures if "AnalysisException" in str(f["error"])]
            if len(defect) != 2 or base["other_end_to_end"]["error_rate"]["value"] <= 0:
                problems.append("serving_mix: quadtree with a timestamp dim did not land in error_rate")
        elif failures:
            problems.append(f"{name}: ops failed: {failures}")
    for msg in problems:
        print("# smoke FAILED:", msg, flush=True)
    print(json.dumps({"smoke": "failed" if problems else "ok", "problems": problems}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at tiny size and assert the metric names")
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (used by --smoke)")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally below, so nothing is left running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.smoke:
            return smoke()
        env = pin_env()
        print("# env", json.dumps(environment(env)), flush=True)
        line, info = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    finally:
        stop_everything()
    line_info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "not_in_benchmark_json": NOT_IN_BENCHMARK_JSON, **info}
    print("# info", json.dumps(line_info, default=str), flush=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
