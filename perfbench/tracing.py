"""Traced-run machinery: in-memory spans around the benchmark's calls
into the package, and a reader for Spark's own event log.

Nothing here touches the package's code. Spans wrap the benchmark's
own calls; the only calls made *inside* package functions that are
spanned are the ``sources.sinks`` writers and deleters, which are
wrapped by replacing the module attributes for the length of the
traced pass (the package imports them at call time).

Jobs are attributed to spans by job description: every span sets
``perfbench op=<op> span=<name> id=<span id>`` as the job
description of whichever thread runs it (the CLI pool's threads
included). Jobs with no description (launched from a pool the
package owns) are attributed by time overlap with the spans.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager

_DESC = re.compile(r"^perfbench op=(\S+) span=(\S+) id=(\d+)$")


class Tracer:
    """Collects spans (name, start, end, parent, op) in memory. A
    disabled tracer is a no-op, so the untraced pass runs the same
    benchmark code with nothing added."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sink_calls: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None
        self._patched: list[tuple] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent["op"]
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
        }
        stack.append(rec)
        prev = self._sc.getLocalProperty("spark.job.description")
        self._sc.setJobDescription(f"perfbench op={op} span={name} id={rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._sc.setJobDescription(prev)
            with self._lock:
                self.spans.append(rec)

    def patch_sinks(self) -> None:
        """Span and count every sinks write/delete for the traced pass."""
        if not self.enabled:
            return
        from iceberg_diag_spark.sources import sinks

        write, delete_one, delete_many = (
            sinks.write_assigned_shards,
            sinks.delete_path,
            sinks.delete_paths,
        )

        def write_assigned_shards(df, path, *a, **kw):
            t0 = time.time()
            with self.span("sinks.write"):
                out = write(df, path, *a, **kw)
            files, size = _written_since(path, t0)
            self.sink_calls.append({"kind": "write", "files": files, "bytes": size})
            return out

        def delete_path(spark, path):
            with self.span("sinks.delete"):
                ok = delete_one(spark, path)
            self.sink_calls.append({"kind": "delete", "paths": int(ok)})
            return ok

        def delete_paths(spark, paths, *a, **kw):
            with self.span("sinks.delete"):
                n = delete_many(spark, paths, *a, **kw)
            self.sink_calls.append({"kind": "delete", "paths": int(n)})
            return n

        for name, fn in (
            ("write_assigned_shards", write_assigned_shards),
            ("delete_path", delete_path),
            ("delete_paths", delete_paths),
        ):
            self._patched.append((sinks, name, getattr(sinks, name)))
            setattr(sinks, name, fn)

    def unpatch(self) -> None:
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()


def _written_since(path: str, t0: float) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(d, n))
            if st.st_mtime >= t0 - 1.0:
                files += 1
                size += st.st_size
    return files, size


# ------------------------------------------------------------ event log


def _acc(stage: dict) -> dict:
    return {a["Name"]: a.get("Value") for a in stage.get("Accumulables", [])}


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def read_event_log(app_dir: str, scan_marker: str | None = None) -> dict:
    """Parse one application's event log (the directory Spark names
    ``eventlog_v2_<app id>``, given without its prefix) into
    jobs (with their completed stages) and, when ``scan_marker`` is
    given, the file bytes scanned by parquet scans whose location
    contains it ('size of files read', per SQL execution)."""
    head, app = os.path.split(app_dir)
    files = sorted(glob.glob(os.path.join(head, f"*{app}", "events_*")))
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    failed_tasks: dict[int, int] = {}
    scan_accs: set[int] = set()
    acc_vals: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"],
                        "submit": e["Submission Time"] / 1000.0,
                        "desc": props.get("spark.job.description"),
                        "stage_ids": e["Stage IDs"],
                        "stages": [],
                    }
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageCompleted":
                    s = e["Stage Info"]
                    a = _acc(s)
                    scopes = set()
                    for r in s.get("RDD Info", []):
                        if r.get("Scope"):
                            scopes.add(json.loads(r["Scope"]).get("name", ""))
                    stages[s["Stage ID"]] = {
                        "id": s["Stage ID"],
                        "submit": s.get("Submission Time", 0) / 1000.0,
                        "tasks": s["Number of Tasks"],
                        "executor_run_ms": _num(a.get("internal.metrics.executorRunTime")),
                        "executor_cpu_ms": _num(a.get("internal.metrics.executorCpuTime")) / 1e6,
                        "gc_ms": _num(a.get("internal.metrics.jvmGCTime")),
                        "input_bytes": _num(a.get("internal.metrics.input.bytesRead")),
                        "shuffle_read_bytes": _num(a.get("internal.metrics.shuffle.read.localBytesRead"))
                        + _num(a.get("internal.metrics.shuffle.read.remoteBytesRead")),
                        "shuffle_write_bytes": _num(a.get("internal.metrics.shuffle.write.bytesWritten")),
                        "spill_bytes": _num(a.get("internal.metrics.memoryBytesSpilled"))
                        + _num(a.get("internal.metrics.diskBytesSpilled")),
                        "grouped_map": "FlatMapGroupsInPandas" in scopes,
                    }
                elif ev == "SparkListenerTaskEnd":
                    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                        failed_tasks[e["Stage ID"]] = failed_tasks.get(e["Stage ID"], 0) + 1
                elif scan_marker and ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    stack = [e["sparkPlanInfo"]]
                    while stack:
                        n = stack.pop()
                        stack.extend(n.get("children", []))
                        if n["nodeName"].startswith("Scan") and scan_marker in n.get("simpleString", ""):
                            for m in n.get("metrics", []):
                                if m["name"] == "size of files read":
                                    scan_accs.add(m["accumulatorId"])
                elif ev.endswith("DriverAccumUpdates"):
                    for acc_id, v in e.get("accumUpdates", []):
                        acc_vals[acc_id] = max(acc_vals.get(acc_id, 0), _num(v))
    for sid, st in stages.items():
        st["failed_tasks"] = failed_tasks.get(sid, 0)
        owners = [j for j in jobs.values() if sid in j["stage_ids"] and j["submit"] <= st["submit"] + 0.001]
        if owners:
            max(owners, key=lambda j: j["submit"])["stages"].append(st)
    for j in jobs.values():
        j.setdefault("end", j["submit"])
    return {
        "jobs": sorted(jobs.values(), key=lambda j: j["id"]),
        "scan_bytes": sum(acc_vals.get(i, 0) for i in scan_accs),
    }


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> None:
    """Set job['op'] and job['span'] (a span id) from the job
    description, else from the innermost span (of any thread) open at
    submission."""
    for j in jobs:
        m = _DESC.match(j["desc"] or "")
        if m:
            j["op"], j["span"] = m.group(1), int(m.group(3))
            continue
        open_ = [s for s in spans if s["start"] <= j["submit"] <= s["end"]]
        if open_:
            inner = max(open_, key=lambda s: s["start"])
            j["op"], j["span"] = inner["op"], inner["id"]
        else:
            j["op"], j["span"] = None, None


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
