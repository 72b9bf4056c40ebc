"""The three benchmark workloads.

Each workload has the same four steps: ``prepare`` (generate seeded
inputs and compute expected outputs — untimed), ``warmup`` (part of
set-up), ``measure`` (the timed operations) and ``check`` (compare
every operation's output with its expectation — untimed). An
operation is a dict: op id, kind, timestamps, rows, ok, error.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen
import oracles
from tracing import Tracer


def _op(op: str, kind: str, name: str) -> dict:
    return {"op": op, "kind": kind, "name": name, "ok": False, "error": None}


def _fail(rec: dict, ex: BaseException) -> None:
    rec["error"] = f"{type(ex).__name__}: {str(ex).splitlines()[0][:300] if str(ex) else ''}"


def du(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total


# ---------------------------------------------------------- fleet_diag


class FleetDiag:
    """One burst: every table of a seeded namespace submitted at once
    to ``cli.stream_panels``; each job renders the CLI panel."""

    name = "fleet_diag"
    n_tables = 24
    n_giant = 2

    def prepare(self, work: str, seed: int) -> dict:
        import pyarrow.parquet as pq

        fleet = gen.gen_fleet(os.path.join(work, "fleet"), seed, self.n_tables, self.n_giant)
        for t in fleet["tables"]:
            a = pq.read_table(t["path"])
            t["expected"] = oracles.fleet_panel(
                a.column("partition_key").to_numpy(zero_copy_only=False),
                a.column("file_size_in_bytes").to_numpy(),
                a.column("content").to_numpy(),
                t["manifests"],
            )
        warm = gen.gen_fleet(os.path.join(work, "fleet_warm"), seed + 7919, 1, 0)
        return {"tables": fleet["tables"], "warm": warm["tables"][0], "stats": fleet["stats"]}

    @staticmethod
    def _panel(spark, t: dict, tracer, op: str | None = None):
        from iceberg_diag_spark.operators.diagnostics import table_metrics
        from iceberg_diag_spark.operators.display import format_metrics

        with tracer.span("cli.service", op=op):
            with tracer.span("sources.read"):
                files = spark.read.parquet(t["path"])
            with tracer.span("diagnostics.build"):
                metrics = table_metrics(files, t["manifests"])
            with tracer.span("display.build"):
                panel = format_metrics(metrics)
            with tracer.span("collect"):
                return panel.limit(1000).collect()

    def warmup(self, spark, ctx: dict) -> None:
        from iceberg_diag_spark import cli

        for _ in cli.stream_panels({"warm": lambda: self._panel(spark, ctx["warm"], Tracer(False))}):
            pass

    def measure(self, spark, ctx: dict, seconds: float, tracer) -> list[dict]:
        from iceberg_diag_spark import cli

        recs = {t["name"]: _op(f"panel{i}", "panel", t["name"]) for i, t in enumerate(ctx["tables"])}

        def job(t: dict):
            rec = recs[t["name"]]

            def run():
                rec["start"] = time.time()
                try:
                    rows = self._panel(spark, t, tracer, rec["op"])
                finally:
                    rec["end"] = time.time()
                return rows

            return run

        t0 = time.time()
        for rec in recs.values():
            rec["submit"] = t0
        jobs = {t["name"]: job(t) for t in ctx["tables"]}
        it = cli.stream_panels(jobs)
        while True:
            try:
                name, rows = next(it)
            except StopIteration:
                break
            except Exception as ex:  # a failed panel ends the stream
                for rec in recs.values():
                    if "done" not in rec:
                        rec["done"] = time.time()
                        rec.setdefault("start", rec["done"])
                        rec.setdefault("end", rec["done"])
                        _fail(rec, ex)
                break
            recs[name]["done"] = time.time()
            recs[name]["rows"] = [tuple(r) for r in rows]
        return list(recs.values())

    def check(self, ops: list[dict], ctx: dict) -> None:
        want = {t["name"]: t["expected"] for t in ctx["tables"]}
        for rec in ops:
            if rec["error"] is None:
                rec["ok"] = oracles.panel_matches(rec.get("rows", []), want[rec["name"]])
                if not rec["ok"]:
                    rec["error"] = "panel differs from the reference MetricsCalculator"
            rec["n_rows"] = len(rec.pop("rows", []) or [])

    def summarize(self, ops: list[dict], ctx: dict) -> dict:
        t0 = ops[0]["submit"]
        lat = [r["done"] - t0 for r in ops]
        makespan = max(lat)
        return {
            "tables_per_s": (len(ops) / makespan, "1/s", len(ops)),
            "first_panel_s": (min(lat), "s", 1),
            "panel_p50_s": (percentile(lat, 50), "s", len(lat)),
            "panel_p90_s": (percentile(lat, 90), "s", len(lat)),
            "_generic": {
                "first_result_s": min(lat),
                "throughput_per_s": len(ops) / makespan,
                "op_p50_s": percentile(lat, 50),
                "op_p90_s": percentile(lat, 90),
            },
        }


# ------------------------------------------------------- analytics_mix

ANALYTICS_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q13_customer_distribution",
    "q21_waiting_orders",
    "top_orders_per_customer",
    "orders_window_analytics",
    "events_sessionize",
    "events_funnel",
    "diag_partition_stats",
]
ANALYTICS_WARMUP = "orders_monthly"
STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


class AnalyticsMix:
    """Closed loop, one client: registry queries drawn in seeded
    rounds (each round is a seeded permutation of every candidate,
    so every run measures the same mix), build() + collect() each."""

    name = "analytics_mix"
    sf = 0.05

    def prepare(self, work: str, seed: int) -> dict:
        import duckdb

        from iceberg_diag_spark.plans.registry import REGISTRY

        star = os.path.join(work, "star")
        stats = gen.gen_star(star, seed, self.sf)
        con = duckdb.connect()
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star}/{t}.parquet'")
        expected = {}
        for q in ANALYTICS_QUERIES:
            res = con.execute(REGISTRY[q].oracle)
            expected[q] = oracles.canonical_rows([d[0] for d in res.description], res.fetchall())
        con.close()
        return {"star": star, "expected": expected, "seed": seed, "stats": stats}

    def warmup(self, spark, ctx: dict) -> None:
        from iceberg_diag_spark.plans.registry import REGISTRY

        REGISTRY[ANALYTICS_WARMUP].build(spark, ctx["star"]).collect()

    def measure(self, spark, ctx: dict, seconds: float, tracer) -> list[dict]:
        from iceberg_diag_spark.plans.registry import REGISTRY

        ops: list[dict] = []
        t0 = time.time()
        rnd = 0
        while rnd == 0 or time.time() - t0 < seconds:
            order = np.random.default_rng([ctx["seed"], 4, rnd]).permutation(len(ANALYTICS_QUERIES))
            for k in order:
                q = ANALYTICS_QUERIES[k]
                rec = _op(f"query{len(ops)}", "query", q)
                rec["submit"] = rec["start"] = time.time()
                try:
                    with tracer.span("analytics.query", op=rec["op"]):
                        with tracer.span("plans.build"):
                            df = REGISTRY[q].build(spark, ctx["star"])
                        with tracer.span("collect"):
                            rows = df.collect()
                    rec["end"] = rec["done"] = time.time()
                    rec["rows"] = (df.columns, rows)
                except Exception as ex:
                    rec["end"] = rec["done"] = time.time()
                    _fail(rec, ex)
                ops.append(rec)
            rnd += 1
        return ops

    def check(self, ops: list[dict], ctx: dict) -> None:
        for rec in ops:
            got = rec.pop("rows", None)
            rec["n_rows"] = len(got[1]) if got else 0
            if rec["error"] is None:
                rec["ok"] = oracles.canonical_rows(*got) == ctx["expected"][rec["name"]]
                if not rec["ok"]:
                    rec["error"] = "result differs from the DuckDB oracle"

    def summarize(self, ops: list[dict], ctx: dict) -> dict:
        lat = [r["end"] - r["start"] for r in ops]
        return {
            "queries_per_s": (len(ops) / sum(lat), "1/s", len(ops)),
            "first_query_s": (lat[0], "s", 1),
            "query_p50_s": (percentile(lat, 50), "s", len(lat)),
            "query_p90_s": (percentile(lat, 90), "s", len(lat)),
            "_generic": {
                "first_result_s": lat[0],
                "throughput_per_s": len(ops) / sum(lat),
                "op_p50_s": percentile(lat, 50),
                "op_p90_s": percentile(lat, 90),
            },
        }


# ------------------------------------------------------ corpus_release

CORPUS_STEPS = ["report", "increments", "reconcile", "retraction"]


def release_cycle(
    spark, docs_path: str, out: str, tracer, op_prefix: str = "", report: bool = True
) -> list[dict]:
    """One release cycle over the corpus at ``docs_path``: funnel
    report (unless ``report`` is false), two md5-bucket increments
    written as shards, cross-increment near-dup reconcile, retraction.
    Release and signature directories go under ``out``."""
    from pyspark.sql import functions as F

    from iceberg_diag_spark.operators import funnel
    from iceberg_diag_spark.operators.sampling import hash_bucket
    from iceberg_diag_spark.sources import sinks

    release, sig = os.path.join(out, "release"), os.path.join(out, "signatures")
    docs = spark.read.parquet(docs_path)
    ops: list[dict] = []

    def step(kind: str, name: str, fn):
        rec = _op(f"{op_prefix}{kind}{len(ops)}", kind, name)
        rec["submit"] = rec["start"] = time.time()
        try:
            with tracer.span(f"funnel.{kind}", op=rec["op"]):
                rec["rows"] = fn()
        except Exception as ex:
            _fail(rec, ex)
        rec["end"] = rec["done"] = time.time()
        ops.append(rec)
        return rec

    def build_report():
        with tracer.span("funnel.build"):
            df = funnel.corpus_build_funnel(docs)
        with tracer.span("collect"):
            return df.collect()

    incs = []

    def increments():
        for b in (0, 1):
            with tracer.span("funnel.build"):
                d = docs.filter(hash_bucket(F.col("doc_id"), 2) == b)
                asg = funnel.release_assignments(d)
            sinks.write_assigned_shards(
                asg,
                f"{release}/batch={b}",
                funnel.RELEASE_N_SHARDS,
                order_cols=("source", "seq_id", "doc_id"),
            )
            incs.append((b, d))
        return []

    state = {}

    def reconcile():
        with tracer.span("funnel.build"):
            state["pairs"] = funnel.release_neardup_reconcile(spark, incs, release, sig)
        with tracer.span("collect"):
            return state["pairs"].collect()

    def retraction():
        with tracer.span("funnel.build"):
            ledger = funnel.release_retraction_apply(spark, state["pairs"], release, sig_path=sig)
        with tracer.span("collect"):
            return ledger.collect()

    if report:
        step("report", "corpus_build_funnel", build_report)
    step("increments", "release_assignments+write_assigned_shards", increments)
    if len(incs) == 2:
        step("reconcile", "release_neardup_reconcile", reconcile)
    if "pairs" in state:
        step("retraction", "release_retraction_apply", retraction)
    return ops


class CorpusRelease:
    """One release cycle per run over a seeded corpus with planted
    duplicate families."""

    name = "corpus_release"
    n_docs = 2000
    # the DuckDB registry oracles are super-linear in corpus size
    n_docs_parity = 80
    parity_tokens = (12, 41)

    def prepare(self, work: str, seed: int) -> dict:
        path = os.path.join(work, "corpus", "documents.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        c = gen.gen_corpus(path, seed, self.n_docs)
        ctx = {"docs_path": path, "out": os.path.join(work, "corpus_out"), "stats": c["stats"]}
        ctx.update(self.expectations(c))
        ctx["parity"] = (os.path.join(work, "parity"), seed + 104729)
        return ctx

    @staticmethod
    def expectations(c: dict) -> dict:
        passed = [(d, t) for d, t in c["docs"] if gen.passes_quality_gate(t)]
        family = {}
        for k, fam in enumerate(c["families"]):
            for d in fam:
                family[d] = k
        return {
            "n_raw": len(c["docs"]),
            "raw_tokens": sum(len(gen.normalize(t).split(" ")) for _, t in c["docs"]),
            "n_quality": len(passed),
            "n_exact": len({gen.normalize(t) for _, t in passed}),
            "family": family,
        }

    def warmup(self, spark, ctx: dict) -> None:
        spark.read.parquet(ctx["docs_path"]).groupBy("source").count().collect()

    def measure(self, spark, ctx: dict, seconds: float, tracer) -> list[dict]:
        ops = release_cycle(spark, ctx["docs_path"], ctx["out"], tracer)
        ctx["bytes_written"] = du(ctx["out"])
        shutil.rmtree(ctx["out"], ignore_errors=True)
        return ops

    def check(self, ops: list[dict], ctx: dict) -> None:
        by_kind = {}
        for rec in ops:
            by_kind.setdefault(rec["kind"], []).append(rec)
            rec["n_rows"] = len(rec.get("rows") or [])
        for rec in ops:
            if rec["error"] is None:
                why = getattr(self, f"_check_{rec['kind']}")(rec, by_kind, ctx)
                rec["ok"] = why is None
                rec["error"] = why
        for rec in ops:
            rec.pop("rows", None)

    @staticmethod
    def _check_report(rec, by_kind, ctx):
        rows = {r["stage"]: r for r in (x.asDict() for x in rec["rows"])}
        got = (rows["raw"]["n_rows"], rows["raw"]["n_tokens"], rows["quality_gate"]["n_rows"], rows["exact_dedup"]["n_rows"])
        want = (ctx["n_raw"], ctx["raw_tokens"], ctx["n_quality"], ctx["n_exact"])
        return None if got == want else f"funnel counts {got} != planted {want}"

    @staticmethod
    def _check_increments(rec, by_kind, ctx):
        ledger = by_kind.get("retraction", [{}])[0].get("rows") or []
        released = {r["batch"] for r in ledger if r["n_docs_before"] > 0}
        return None if released == {0, 1} else f"ledger holds released batches {sorted(released)}, not [0, 1]"

    @staticmethod
    def _check_reconcile(rec, by_kind, ctx):
        fam = ctx["family"]
        for r in rec["rows"]:
            if (r["batch_a"], r["batch_b"]) != (0, 1):
                return f"pair outside batches 0->1: {tuple(r)}"
            if gen.md5_bucket(r["doc_a"]) != 0 or gen.md5_bucket(r["doc_b"]) != 1:
                return f"pair docs not in their batches: {tuple(r)}"
            if r["doc_a"] not in fam or fam.get(r["doc_a"]) != fam.get(r["doc_b"]):
                return f"pair outside a planted family: {tuple(r)}"
        return None

    @staticmethod
    def _check_retraction(rec, by_kind, ctx):
        pairs = by_kind["reconcile"][0].get("rows") or []
        retracted = {r["doc_b"] for r in pairs}
        total = 0
        for r in rec["rows"]:
            if r["n_docs_before"] != r["n_retracted"] + r["n_docs_after"]:
                return f"ledger not conserved: {tuple(r)}"
            if r["n_tokens_before"] != r["n_tokens_retracted"] + r["n_tokens_after"]:
                return f"ledger tokens not conserved: {tuple(r)}"
            if r["batch"] == 0 and r["n_retracted"]:
                return "retraction touched the earlier batch"
            total += r["n_retracted"]
        return None if total == len(retracted) else f"retracted {total} != named {len(retracted)}"

    def summarize(self, ops: list[dict], ctx: dict) -> dict:
        # like a panel's, a step's latency runs from the cycle's start
        # to the step's completion: when its output is there to use
        t0 = ops[0]["start"]
        lat = [r["end"] - t0 for r in ops]
        cycle = max(lat)
        in_bytes = os.path.getsize(ctx["docs_path"])
        return {
            "docs_per_s": (ctx["n_raw"] / cycle, "1/s", 1),
            "report_s": (lat[0], "s", 1),
            "step_done_p50_s": (percentile(lat, 50), "s", len(lat)),
            "step_done_p90_s": (percentile(lat, 90), "s", len(lat)),
            "bytes_written_per_input_byte": (ctx["bytes_written"] / in_bytes, "ratio", 1),
            "_generic": {
                "first_result_s": lat[0],
                "throughput_per_s": ctx["n_raw"] / cycle,
                "op_p50_s": percentile(lat, 50),
                "op_p90_s": percentile(lat, 90),
            },
        }

    def parity(self, spark, ctx: dict) -> list[dict]:
        """Registry-oracle parity on a small instance of the same
        generator: the cycle's pairs and ledger against the DuckDB
        oracles of the matching registry entries. (The report is left
        out: its counts are checked against the planted invariants on
        the full corpus, and its oracle alone takes ~13 s at 120 docs.)"""
        import duckdb

        from iceberg_diag_spark.plans.registry import REGISTRY

        root, seed = ctx["parity"]
        path = os.path.join(root, "documents.parquet")
        os.makedirs(root, exist_ok=True)
        gen.gen_corpus(path, seed, self.n_docs_parity, tokens=self.parity_tokens)
        ops = release_cycle(
            spark, path, os.path.join(root, "out"), Tracer(False), op_prefix="parity", report=False
        )
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        entry = {"reconcile": "release_neardup_reconcile", "retraction": "release_retraction_apply"}
        for rec in ops:
            q = entry.get(rec["kind"])
            if rec["error"] is None and q:
                res = con.execute(REGISTRY[q].oracle)
                want = oracles.canonical_rows([d[0] for d in res.description], res.fetchall())
                rows = rec["rows"]
                cols = list(rows[0].asDict()) if rows else [d[0] for d in res.description]
                rec["ok"] = oracles.canonical_rows(cols, [tuple(r) for r in rows]) == want
                if not rec["ok"]:
                    rec["error"] = f"{q} differs from its registry oracle"
            elif rec["error"] is None:
                rec["ok"] = True
            rec.pop("rows", None)
        con.close()
        shutil.rmtree(root, ignore_errors=True)
        return ops


WORKLOADS = {w.name: w for w in (FleetDiag(), CorpusRelease(), AnalyticsMix())}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    return float(np.percentile(np.asarray(values, dtype=float), q))
