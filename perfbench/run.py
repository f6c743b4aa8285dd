"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload slicer-mix --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``slicer-mix``: the slicer HTTP API served by ``server.serve`` over cubes
  the ETL built from generated OpenAPC CSVs, with correction batches
  applied to the openapc facts beside the reads (slicer.py);
- ``corpus-curation``: the LLM-data operator chain over a generated
  documents corpus (corpus.py).

Inputs are generated from ``--seed`` (gen.py). Every run checks the
program's outputs; a failed check counts as a failed operation. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the per-layer ones, and the spans with
their self times are written to ``.perfbench/trace-<workload>-<seed>.json``.
All files the run writes stay under ``.perfbench/`` in the current
directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.common import p50, tail  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ("slicer-mix", "corpus-curation")
CLASSES = ("query", "lookup", "write")
OUT = ".perfbench"


class Context:
    """What a workload needs from the harness, and what it reports."""

    def __init__(self, workload: str, seed: int, trace: bool, scale: float):
        self.workload, self.seed, self.scale = workload, seed, scale
        self.tracer = Tracer(trace)
        self.work = os.path.abspath(os.path.join(
            OUT, f"run-{workload}-{seed}-{os.getpid()}"))
        self.spark = None
        self.notes: dict = {"known_deviation": 0}
        self.latency = {c: [] for c in CLASSES}
        self.attempted = self.failed = 0
        self.items = 0.0          # requests or documents completed
        self.busy_s = 0.0         # time spent in the operations that did them
        self.problems: list[str] = []

    def op(self, cls: str, ms: float, failed: bool = False,
           items: float = 1.0) -> None:
        """One timed operation of a class; ``items`` is the work it
        completed (0 for a write, whose time is not throughput)."""
        self.attempted += 1
        if failed:
            self.failed += 1
            return
        self.latency[cls].append(ms)
        if items:
            self.items += items
            self.busy_s += ms / 1e3

    def fail(self, message: str, count: bool = False) -> None:
        self.problems.append(message)
        if count:
            self.failed += 1

    def deviation(self, message: str) -> None:
        """A known deviation of the program: reported on the summary line
        and standard error, not counted as a failed operation."""
        self.notes["known_deviation"] = self.notes.get("known_deviation", 0) + 1
        print("KNOWN DEVIATION:", message, file=sys.stderr)

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.fail(message, count=True)


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            scale: float = 1.0) -> dict:
    from perfbench.common import jvm_pid, start_spark, stop_spark
    from perfbench.trace import peak_rss_mb
    from perfbench.wrappers import patch

    spec = _spec()
    ctx = Context(workload, seed, trace, scale)
    if workload == "slicer-mix":
        from perfbench.slicer import Slicer as Workload
    else:
        from perfbench.corpus import Corpus as Workload
    w = Workload(ctx)
    try:
        w.generate()
        event_dir = os.path.join(ctx.work, "events") if trace else None
        ctx.spark, session_s = start_spark(f"perfbench-{workload}", ctx.work,
                                           event_dir)
        try:
            # the slicer's layers only: an operator's Spark actions are its work
            with (patch(ctx.tracer) if trace and workload == "slicer-mix"
                  else contextlib.nullcontext()):
                setup_s = session_s + w.setup()
                ctx.tracer.cost_s = 0.0          # the timed phase's share only
                t0 = time.perf_counter()
                w.loop(seconds)
                elapsed = time.perf_counter() - t0
                py_mb, jvm_mb = peak_rss_mb(jvm_pid(ctx.spark))
                rss = py_mb + jvm_mb
                ctx.notes["rss_mb"] = {"python": round(py_mb), "jvm": round(jvm_mb)}
                w.check()
                layers = _layers(ctx, w, session_s, elapsed) if trace else {}
        finally:
            stop_spark(ctx.spark)
        if trace:
            layers.update(_event_log_layers(event_dir))
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
    return _result(ctx, spec, setup_s, elapsed, rss, layers)


def _by_request(ctx: Context, name: str, cls: str) -> list[float]:
    """Per request of a class: summed self ms of the spans called ``name``."""
    sums: dict[str, float] = {}
    for s in ctx.tracer.self_times():
        rid = s["rid"]
        if rid and rid[0] == cls[0] and s["name"] == name:
            sums[rid] = sums.get(rid, 0.0) + s["self"] * 1e3
    return list(sums.values())


def _layers(ctx: Context, w, session_s: float, elapsed: float) -> dict:
    """Per-layer metrics from the spans and counters of a traced run."""
    tr = ctx.tracer

    # layers outside the request path have no child spans of their own
    # layers: their time is their total, Spark work included
    def total_s(name):
        return tr.median_ms(name, "total") / 1e3

    m = {
        "session.start_s": session_s,
        "catalog.register_s": total_s("catalog.register"),
        "catalog.manifest_s": total_s("catalog.manifest"),
        "catalog.cubes": tr.counter_median("catalog.cubes"),
        "etl.write_s": total_s("etl.write"),
        "etl.spark_jobs": tr.counter_median("etl.spark_jobs"),
        "etl.tasks": tr.counter_median("etl.tasks"),
        "etl.files_written": tr.counter_median("etl.files_written"),
        "etl.bytes_written": tr.counter_median("etl.bytes_written"),
        "server.self_ms": p50(_by_request(ctx, "server.request", "lookup")),
        "server.response_bytes": tr.counter_median("l:server.response_bytes"),
        "cuts.parse_ms": p50(_by_request(ctx, "cuts.parse", "lookup")
                             + _by_request(ctx, "cuts.parse", "query")),
        "query.build_ms": p50(_by_request(ctx, "query.build", "lookup")),
        "query.envelope_ms": p50(_by_request(ctx, "query.envelope", "query")),
        "spark.plan_ms": tr.counter_median("l:spark.plan_ms"),
        "spark.collect_ms": p50(_by_request(ctx, "spark.collect", "lookup")),
        "spark.jobs_per_request": tr.counter_median("q:spark.jobs_per_request"),
        "spark.tasks_per_request": tr.counter_median("q:spark.tasks_per_request"),
        "spark.persisted_after_request": max(
            tr.counters.get("q:spark.persisted_after_request", [0])
            + tr.counters.get("l:spark.persisted_after_request", [0])),
        "txn.upsert_ms": tr.median_ms("txn.upsert", "total"),
        "txn.files_added": tr.counter_median("txn.files_added"),
        "txn.files_relinked": tr.counter_median("txn.files_relinked"),
        "txn.commit_conflicts": tr.counter_sum("txn.commit_conflicts"),
        "txn.read_ms": tr.median_ms("txn.read", "total"),
        "txn.files_read": tr.counter_median("txn.files_read"),
        "txn_stream.maintain_ms": tr.median_ms("txn_stream.maintain", "total"),
        "txn_stream.groups_changed": tr.counter_median("txn_stream.groups_changed"),
    }
    from perfbench.corpus import STAGES
    for stage in STAGES:
        m[f"operators.{stage}_s"] = total_s(f"operators.{stage}")
    m["operators.dedup.candidate_precision"] = (
        w.candidate_precision() if hasattr(w, "candidate_precision") else 0.0)
    m["trace.overhead_pct"] = 100.0 * tr.cost_s / elapsed
    return m


def _event_log_layers(event_dir: str) -> dict:
    from perfbench.trace import event_log_by_group

    groups = event_log_by_group(event_dir)
    q = [v for k, v in groups.items() if k.startswith("q")]
    return {
        "spark.task_run_ms_per_request": p50([v["run_ms"] for v in q]),
        "spark.shuffle_bytes_per_request": p50([v["shuffle_bytes"] for v in q]),
        "spark.spill_bytes_per_request": p50([v["spill_bytes"] for v in q]),
    }


def _spec() -> dict:
    """Metric names and units, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _result(ctx: Context, spec: dict, setup_s: float, elapsed: float,
            rss: float, layers: dict) -> dict:
    summary = {"workload": ctx.workload, "seed": ctx.seed, "setup_s": setup_s,
               "elapsed_s": round(elapsed, 3), **ctx.notes}
    for cls in CLASSES:
        vals = ctx.latency[cls]
        if not vals:
            ctx.fail(f"no successful {cls} operation in the timed phase", count=True)
        pct, value, n = tail(vals)
        summary[f"{cls}_n"] = n
        summary[f"{cls}_ms"] = [round(v) for v in vals]
        summary[f"{cls}_p50_ms"] = p50(vals)
        summary[f"{cls}_tail"] = (f"p{pct:.0f}={value:.1f}ms over {n} samples"
                                  if n > 10 else f"n/a ({n} samples)")
    if ctx.tracer.enabled:
        values = layers
        kind = "per_layer"
        path = os.path.join(OUT, f"trace-{ctx.workload}-{ctx.seed}.json")
        ctx.tracer.dump(path, {"summary_line": summary, "per_layer": layers})
        summary["trace_file"] = path
    else:
        values = {"setup_s": setup_s,
                  "items_per_s": ctx.items / ctx.busy_s if ctx.busy_s else 0.0,
                  "peak_rss_mb": rss,
                  **{f"{c}_p50_ms": p50(ctx.latency[c]) for c in CLASSES}}
        kind = "end_to_end"
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in spec[kind]}
    for p in ctx.problems[:20]:
        print("FAILED:", p, file=sys.stderr)
    print("summary:", json.dumps(summary))
    return {"correct": ctx.failed == 0 and not ctx.problems,
            "attempted": max(1, ctx.attempted),
            "failed": min(ctx.failed, max(1, ctx.attempted)),
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply the generated input sizes (tests run tiny)")
    args = p.parse_args(argv)
    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            # a fresh process, and so a fresh engine, per workload
            rc |= subprocess.run([sys.executable, os.path.abspath(__file__),
                                  "--workload", w, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds),
                                  "--trace", str(args.trace),
                                  "--scale", str(args.scale)]).returncode
        return rc
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.scale)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
