"""Per-layer metrics of a traced pass: spans joined with the jobs and
stages of Spark's event log.

Conventions: ``*_s`` and count metrics are summed over the pass's
operations; ``*_p50_s``/``*_p90_s`` are percentiles over operations;
``*_per_panel`` are medians over panels. Metrics of a layer a
workload does not reach are 0.
"""

from __future__ import annotations

import os
import statistics

from tracing import attribute_jobs, read_event_log, union_seconds
from workloads import CORPUS_STEPS, percentile

EXEC_FIELDS = {
    "stages": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "gc_ms": "ms",
    "input_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "failed_tasks": "count",
    "python_stage_run_ms": "ms",
}


def _stage_sum(jobs, field: str) -> float:
    if field == "stages":
        return sum(len(j["stages"]) for j in jobs)
    if field == "python_stage_run_ms":
        return sum(s["executor_run_ms"] for j in jobs for s in j["stages"] if s["grouped_map"])
    return sum(s[field] for j in jobs for s in j["stages"])


def compute(workload, ctx, traced: dict, tracer, app_log_dir, setup_times) -> tuple[dict, dict]:
    ops = traced["ops"]
    op_ids = {r["op"] for r in ops}
    spans = [s for s in tracer.spans if s["op"] in op_ids]
    by_id = {s["id"]: s for s in spans}
    marker = ctx.get("docs_path")
    log = read_event_log(str(app_log_dir), marker)
    attribute_jobs(log["jobs"], spans)
    jobs = [j for j in log["jobs"] if j["op"] in op_ids]
    jobs_of = {o: [j for j in jobs if j["op"] == o] for o in op_ids}

    def named(prefix: str):
        return [s for s in spans if s["name"] == prefix or s["name"].endswith("." + prefix)]

    def dur(ss) -> float:
        return sum(s["end"] - s["start"] for s in ss)

    def under_build(j) -> bool:
        s = by_id.get(j["span"])
        while s is not None:
            if s["name"].endswith(".build"):
                return True
            s = by_id.get(s["parent"])
        return False

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (statistics.median(a for a, _ in setup_times), "s")
    m["session.warmup_s"] = (statistics.median(b for _, b in setup_times), "s")

    panels = [r for r in ops if r["kind"] == "panel"]
    waits = [r["start"] - r["submit"] for r in panels]
    service = [r["end"] - r["start"] for r in panels]
    m["cli.queue_wait_p50_s"] = (percentile(waits, 50) if panels else 0.0, "s")
    m["cli.queue_wait_p90_s"] = (percentile(waits, 90) if panels else 0.0, "s")
    m["cli.service_p50_s"] = (percentile(service, 50) if panels else 0.0, "s")

    m["sources.read_s"] = (dur(named("sources.read")), "s")
    m["plans.build_s"] = (dur(s for s in spans if s["name"].endswith(".build")), "s")
    m["plans.build_jobs"] = (sum(under_build(j) for j in jobs), "count")
    m["diagnostics.build_s"] = (dur(named("diagnostics.build")), "s")
    m["display.build_s"] = (dur(named("display.build")), "s")

    per_op = []
    for r in ops:
        js = jobs_of[r["op"]]
        union = union_seconds([(j["submit"], j["end"]) for j in js], r["start"], r["end"])
        own = [s for s in spans if s["op"] == r["op"]]
        per_op.append({
            "op": r["op"],
            "kind": r["kind"],
            "name": r["name"],
            "wall_s": r["end"] - r["start"],
            "build_s": dur(s for s in own if s["name"].endswith(".build")),
            "collect_s": dur(s for s in own if s["name"] == "collect"),
            "sinks_s": dur(s for s in own if s["name"].startswith("sinks.")),
            "job_union_s": union,
            "driver_gap_s": (r["end"] - r["start"]) - union,
            "jobs": len(js),
            "stages": _stage_sum(js, "stages"),
            "tasks": _stage_sum(js, "tasks"),
            "executor_run_ms": _stage_sum(js, "executor_run_ms"),
            "shuffle_write_bytes": _stage_sum(js, "shuffle_write_bytes"),
            "grouped_map_run_ms": _stage_sum(js, "python_stage_run_ms"),
        })
    m["exec.driver_gap_s"] = (sum(p["driver_gap_s"] for p in per_op), "s")
    m["exec.job_union_s"] = (sum(p["job_union_s"] for p in per_op), "s")

    pp = [p for p in per_op if p["kind"] == "panel"]
    for field in ("jobs", "stages", "tasks"):
        m[f"diagnostics.{field}_per_panel"] = (
            statistics.median(p[field] for p in pp) if pp else 0.0, "count")
    m["diagnostics.collect_s"] = (sum(p["collect_s"] for p in pp), "s")
    # in fleet_diag the grouped-map stage of a panel IS the bin-pack fold
    m["binpack.fold_stage_run_ms"] = (sum(p["grouped_map_run_ms"] for p in pp), "ms")

    for step in CORPUS_STEPS:
        sp = [p for p in per_op if p["kind"] == step]
        m[f"funnel.{step}_s"] = (sum(p["wall_s"] for p in sp), "s")
        m[f"funnel.{step}_jobs"] = (sum(p["jobs"] for p in sp), "count")
        m[f"funnel.{step}_executor_run_ms"] = (sum(p["executor_run_ms"] for p in sp), "ms")
        m[f"funnel.{step}_shuffle_bytes"] = (sum(p["shuffle_write_bytes"] for p in sp), "bytes")
    m["funnel.text_bytes_read_per_input_byte"] = (
        log["scan_bytes"] / os.path.getsize(marker) if marker else 0.0, "ratio")

    calls = tracer.sink_calls
    m["sinks.output_bytes"] = (sum(c.get("bytes", 0) for c in calls), "bytes")
    m["sinks.files_written"] = (sum(c.get("files", 0) for c in calls), "count")
    m["sinks.paths_deleted"] = (sum(c.get("paths", 0) for c in calls), "count")

    m["exec.jobs"] = (len(jobs), "count")
    for field, unit in EXEC_FIELDS.items():
        m[f"exec.{field}"] = (_stage_sum(jobs, field), unit)

    m["collect.s"] = (dur(named("collect")), "s")
    m["collect.rows"] = (sum(r.get("n_rows", 0) for r in ops), "count")

    bw = traced["summary"].get("bytes_written_per_input_byte")
    m["e2e.first_result_s"] = (traced["e2e"]["first_result_s"], "s")
    m["e2e.bytes_written_per_input_byte"] = (bw[0] if bw else 0.0, "ratio")

    wall = sum(p["wall_s"] for p in per_op) or 1.0
    shares = {
        k: round(sum(p[k] for p in per_op) / wall, 4)
        for k in ("build_s", "collect_s", "sinks_s", "job_union_s", "driver_gap_s")
    }
    report = {
        "layer_share_of_op_wall": shares,
        "ops": per_op,
        "unattributed_jobs": sum(1 for j in log["jobs"] if j["op"] is None),
        "spans": len(tracer.spans),
    }
    return m, report
