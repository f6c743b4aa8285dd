"""Per-gate job profiler: run one or more declared queries (production-twin
path, same as bench.py) on a session with the EVENT LOG enabled, then
attribute wall time to Spark SQL executions — duration, jobs, tasks and
description — so an optimization targets the measured cost, not the
guessed one. ``--plan DIR`` instead writes each query's
``explain("formatted")`` to ``DIR/<name>.txt`` (before/after plan evidence).

Usage (``SPARK_GRAFT_SF_DIR`` names the test-data directory):
    SPARK_GRAFT_SF_DIR=<dir> python scripts/profile_queries.py x110 x111
    SPARK_GRAFT_SF_DIR=<dir> python scripts/profile_queries.py --plan out q08
"""

from __future__ import annotations

import argparse
import io
import itertools
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from openapc_olap_spark.session import get_spark  # noqa: E402


def _jobs_from_eventlog(app_dir: str) -> tuple[list[dict], list[dict]]:
    """Parse the single-app event log: the finished jobs (start/end, SQL
    execution id, stage and task counts) and the finished SQL executions
    (start/end, description)."""
    # Spark 4 rolling event log: a directory per app holding events_* files
    entries = [os.path.join(app_dir, f) for f in os.listdir(app_dir)]
    entries.sort(key=os.path.getmtime)
    top = entries[-1]
    if os.path.isdir(top):
        paths = sorted(os.path.join(top, f) for f in os.listdir(top)
                       if f.startswith("events_"))
    else:
        paths = [top]
    jobs: dict[int, dict] = {}
    execs: dict[int, dict] = {}
    for line in itertools.chain.from_iterable(open(p) for p in paths):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "t0": ev["Submission Time"],
                "exec": props.get("spark.sql.execution.root.id",
                                  props.get("spark.sql.execution.id")),
                "stages": len(ev.get("Stage IDs", [])),
                "tasks": sum(s.get("Number of Tasks", 0)
                             for s in ev.get("Stage Infos", [])),
            }
        elif e == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["t1"] = ev["Completion Time"]
        elif e and e.endswith("SQLExecutionStart"):
            execs[ev["executionId"]] = {
                "desc": ev.get("description", ""),
                "t0": ev.get("time"),
            }
        elif e and e.endswith("SQLExecutionEnd"):
            x = execs.get(ev["executionId"])
            if x is not None:
                x["t1"] = ev.get("time")
    for j in jobs.values():
        x = execs.get(int(j["exec"])) if j.get("exec") is not None else None
        j["desc"] = (x or {}).get("desc", "")
    return ([j for j in jobs.values() if "t1" in j],
            [dict(x, id=i) for i, x in execs.items() if "t1" in x])


def _profile(spark, evdir: str, name: str, fn, sf_dir: str) -> None:
    fn(spark, sf_dir).collect()                  # warm-up
    mark_ms = time.time() * 1000                 # epoch, matches log
    mark = time.perf_counter()
    fn(spark, sf_dir).collect()
    wall = time.perf_counter() - mark
    print(f"\n=== {name}: wall {wall:.2f}s ===")
    jobs, execs = _jobs_from_eventlog(evdir)
    # streaming micro-batch jobs run on engine threads (no inherited
    # description), so attribute by TIME: executions started after mark
    timed = [x for x in execs if x["t0"] >= mark_ms - 50]
    tot = sum(x["t1"] - x["t0"] for x in timed) / 1000
    print(f"  {len(timed)} SQL executions, sum exec wall {tot:.2f}s "
          f"(overlap/driver gap: {wall - tot:+.2f}s)")
    for x in timed:
        njobs = [j for j in jobs if j.get("exec") is not None
                 and int(j["exec"]) == x["id"]]
        tasks = sum(j["tasks"] for j in njobs)
        print(f"  exec {x['id']:4d} {(x['t1'] - x['t0']) / 1000:7.3f}s "
              f"jobs={len(njobs):2d} tasks={tasks:4d}  "
              f"{x['desc'][:70]}")


def _plan(spark, outdir: str, name: str, fn, sf_dir: str, cpus: str) -> None:
    buf = io.StringIO()
    with redirect_stdout(buf):
        fn(spark, sf_dir).explain("formatted")
    path = os.path.join(outdir, f"{name}.txt")
    with open(path, "w") as fh:
        fh.write(f"{name} — production-twin plan, {sf_dir}, "
                 f"local[{cpus}]\n\n")
        fh.write(buf.getvalue())
    print("wrote", path, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", help="declared query name prefixes")
    ap.add_argument("--plan", metavar="DIR",
                    help="write explain('formatted') per query instead")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the test-data directory")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    evdir = None if args.plan else tempfile.mkdtemp(prefix="profile_eventlog_")
    confs = {} if args.plan else {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    spark = get_spark(app_name="profile", master=f"local[{cpus}]",
                      extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")

    from openapc_olap_spark import contrib_queries, etl_queries
    twins = {**contrib_queries.BENCH_TWINS, **etl_queries.BENCH_TWINS}
    declared = [(n, twins.get(n, f)) for n, f in entrymod.queries().items()
                if any(n.startswith(w) for w in args.queries)]
    if args.plan:
        os.makedirs(args.plan, exist_ok=True)
    try:
        for name, fn in declared:
            if args.plan:
                _plan(spark, args.plan, name, fn, sf_dir, cpus)
            else:
                _profile(spark, evdir, name, fn, sf_dir)
    finally:
        spark.stop()
        if evdir:
            shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
