"""Benchmark entry point.

    python3 perfbench/run.py --workload fleet_diag --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``.perfbench_work/`` (removed at exit), sets up Spark,
measures, checks every operation's output, and prints two JSON lines:
a detail report (the workload's own metrics by name and unit, with
sample counts, generator shares and ``loadavg_1m``) and, last, the
result object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first runs the
untraced run of the same workload and seed as a child process (and
waits for it), then the traced pass with Spark's event log on, and
reports the per-layer metrics plus the tracing overhead (traced
minus untraced, per end-to-end metric).
``--report PATH`` also writes the traced run's full report (per-op
spans and jobs, layer shares) to PATH.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_CYCLES = 3

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", help="write the traced run's full report here")
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and put the package on the workers' PYTHONPATH."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    # the spark-submit launcher JVM: no /tmp/hsperfdata_* file
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_opts(work)


def _jvm_opts(work: Path) -> str:
    return f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"


def _conf(work: Path, event_log: Path | None = None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": _jvm_opts(work),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log.as_uri(),
            # plan strings keep whole scan paths, so scans can be told apart
            "spark.sql.maxMetadataStringLength": "1000",
        })
    return conf


def _setup(workload, ctx, conf: dict, cycles: int, spark=None):
    """Start a session and warm it up, ``cycles`` times (stopping the
    previous session each time); returns the last session and the
    (start_s, warmup_s) of every cycle."""
    from iceberg_diag_spark.session import get_spark

    times = []
    for _ in range(cycles):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload.name}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        workload.warmup(spark, ctx)
        times.append((t1 - t0, time.perf_counter() - t1))
    return spark, times


def _reset_peak_rss() -> None:
    """Reset this process's VmHWM so input generation does not count."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def _hwm_mib(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _peak_rss(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _hwm_mib("self") + _hwm_mib(jvm_pid)


def _pass(workload, spark, ctx, seconds, tracer, setup_times) -> dict:
    """Measure, read peak RSS, check outputs, summarize."""
    ops = workload.measure(spark, ctx, seconds, tracer)
    rss = _peak_rss(spark)
    workload.check(ops, ctx)
    summary = workload.summarize(ops, ctx)
    generic = summary.pop("_generic")
    setup_s = statistics.median(a + b for a, b in setup_times)
    e2e = {"setup_s": setup_s, **generic}
    summary["setup_s"] = (setup_s, "s", len(setup_times))
    summary["peak_rss_mb"] = (rss, "MiB", 1)
    failed = sum(not r["ok"] for r in ops)
    summary["failed_share"] = (failed / len(ops), "ratio", len(ops))
    return {"ops": ops, "e2e": e2e, "summary": summary, "failed": failed}


def _stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it (it
    would otherwise exit on its own only after this process has)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _untraced_child(args) -> dict:
    """The untraced run of the same workload and seed, as a child
    process started and awaited before the traced pass, so both passes
    start from a cold JVM."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd=str(ROOT))
    lines = out.stdout.strip().splitlines()
    return {"detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def run(args, work: Path) -> tuple[dict, dict]:
    import workloads
    from tracing import Tracer

    workload = workloads.WORKLOADS[args.workload]
    base = _untraced_child(args) if args.trace else None
    load1 = os.getloadavg()[0]
    ctx = workload.prepare(str(work / "inputs"), args.seed)
    _reset_peak_rss()
    log_dir = work / "eventlog" if args.trace else None
    spark, setup_times = _setup(workload, ctx, _conf(work, log_dir), SETUP_CYCLES)
    tracer = Tracer(bool(args.trace))
    tracer.bind(spark)
    tracer.patch_sinks()
    try:
        res = _pass(workload, spark, ctx, args.seconds, tracer, setup_times)
    finally:
        tracer.unpatch()
    extra_ops = workload.parity(spark, ctx) if args.trace and hasattr(workload, "parity") else []
    app_id = spark.sparkContext.applicationId
    spark.stop()
    ops = res["ops"] + extra_ops
    attempted, failed = len(ops), sum(not r["ok"] for r in ops)
    detail = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "loadavg_1m": load1,
        "inputs": ctx["stats"],
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in res["summary"].items()},
        "setup_cycles_s": [round(a + b, 4) for a, b in setup_times],
        "failures": [{"op": r["op"], "name": r["name"], "error": r["error"]} for r in ops if not r["ok"]],
    }
    if not args.trace:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
        return detail, {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    import layers

    per_layer, report = layers.compute(workload, ctx, res, tracer, log_dir / app_id, setup_times)
    per_layer["failed_share"] = (failed / attempted, "ratio")
    per_layer["loadavg_1m"] = (load1, "load")
    per_layer["peak_rss_mb"] = res["summary"]["peak_rss_mb"][:2]
    untraced = base["result"]["metrics"]
    for k, u in END_TO_END.items():
        per_layer[f"trace.overhead.{k}"] = (res["e2e"][k] - untraced[k]["value"], u)
    detail["parity"] = [{"op": r["op"], "name": r["name"], "ok": r["ok"]} for r in extra_ops]
    detail["untraced"] = base["detail"]["metrics"]
    attempted += base["result"]["attempted"]
    failed += base["result"]["failed"]
    if args.report:
        report.update({
            "workload": workload.name,
            "seed": args.seed,
            "loadavg_1m": load1,
            "untraced": detail["untraced"],
            "traced": detail["metrics"],
            "parity": detail["parity"],
            "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
        })
        Path(args.report).parent.mkdir(parents=True, exist_ok=True)
        Path(args.report).write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    return detail, {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "iceberg_diag_spark" / "__init__.py").is_file():
        print(f"perfbench: no iceberg_diag_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        _environment(work)
        detail, result = run(args, work)
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
