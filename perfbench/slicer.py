"""The ``slicer-mix`` workload: the slicer HTTP API over freshly built
cubes, with correction batches applied beside the reads.

Set-up builds the cubes from the generated CSVs with
``OpenAPCPipeline.write`` and assembles the app the way
``python -m openapc_olap_spark serve`` does (``register_cube_tables``,
``load_manifest``, ``build_openapc_registry``, ``SlicerApp``, ``serve``).
The openapc facts are then held in a bucketed ``TxnTable`` keyed on
(institution, publication key), registered as the ``openapc`` view, a
(period, publisher) rollup is seeded with ``seed_aggregate``, and
``maintain_aggregate`` keeps it as a stream for the rest of the run.

The timed phase is a closed loop with one client sending one request at a
time over localhost: a correction batch, reads for the run's seconds, a
second correction batch. Three operation classes:

- query: ``/aggregate`` with 0-2 drilldowns, cuts, order, paging and
  ``format=csv`` on static and institutional cubes, and a read-after-write
  ``/aggregate`` on the refreshed cube after each batch;
- lookup: ``/facts``, ``/fact/<id>``, ``/cell``, ``/members/<dim>``,
  ``/model``, ``/cubes`` and ``doi_lookup`` point cuts;
- write: one correction batch, from submit (``upsert``) until the stream
  has maintained the rollup to the new version, the rollup is read and the
  snapshot is registered as the ``openapc`` view.

Half of the reads repeat a small hot set of top-level views; the rest are
unique drill paths. Every response is checked afterwards against DuckDB SQL
over the Parquet files the program wrote.
"""

from __future__ import annotations

import csv
import http.client
import io
import json
import math
import os
import random
import socket
import threading
import time
from urllib.parse import quote

import duckdb

from perfbench import gen
from perfbench.trace import jobs_and_tasks

# the timed phase: a correction batch, rounds of reads for the run's seconds,
# a second correction batch; each batch is followed by a read-after-write
# query. A round of reads: half of them on the hot set of top-level views;
# two queries, since a query costs about as much as four lookups
READS = ("hot-query", "hot-lookup", "lookup", "hot-lookup", "lookup",
         "query", "hot-lookup", "lookup", "hot-lookup", "lookup")
MIN_ROUNDS = 2
# unique queries cycle through these drilldown counts, unique lookups
# through these kinds; the warm-up sends the lookup kinds left out here
QUERY_DRILLS = (1, 2, 0)
TIMED_LOOKUPS = ("facts", "cell", "members", "doi")
WARM_LOOKUPS = ("fact", "facts_csv", "model", "cubes")
# request shapes and cube choices are the same in every run; the seed sets
# only the data (and so the values a request names)
MIX_SEED = 7919
# institutional cubes of the largest institutions (gen.py sizes them by
# index), which every seed's data has
INST_CUBES_OF = ("inst000", "inst001", "inst002")
# the correction stream: maintain_aggregate runs for the whole run and
# polls the facts table's commit log at this interval
TRIGGER = {"processingTime": "100 milliseconds"}
N_BUCKETS = 8
AGG_GROUP = ["period", "publisher"]
AGG_SPEC = {"n": ("count", "*"),
            "euro_sum": ("sum", "CAST(euro AS DECIMAL(18,2))"),
            "euro_avg": ("avg", "CAST(euro AS DECIMAL(18,2))")}
_SQL_AGG = {"sum": "sum({m})", "count": "count(*)", "avg": "avg({m})",
            "stddev": "stddev_samp({m})",
            "count_distinct": "count(DISTINCT {m})"}


# -- request generation ------------------------------------------------------

class Cut:
    """One cut, rendered both as slicer syntax and as SQL."""

    def __init__(self, dim: str, kind: str, values: tuple, invert=False):
        self.dim, self.kind, self.values, self.invert = dim, kind, values, invert

    def param(self) -> str:
        if self.kind == "range":
            spec = f"{self.values[0]}~{self.values[1]}"
        elif self.kind == "set":
            spec = ";".join(self.values)
        else:
            spec = self.values[0]
        return f"{'!' if self.invert else ''}{self.dim}:{spec}"

    def sql(self) -> str:
        col = f'"{self.dim}"'
        if self.kind == "range":
            pred = (f"(CAST({col} AS BIGINT) >= {int(self.values[0])} AND "
                    f"CAST({col} AS BIGINT) <= {int(self.values[1])})")
        elif self.kind == "set":
            pred = f"{col} IN ({', '.join(_lit(v) for v in self.values)})"
        else:
            pred = f"{col} = {_lit(self.values[0])}"
        return f"NOT {pred}" if self.invert else pred


def _lit(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


class Request:
    def __init__(self, cls: str, kind: str, cube: str | None, path: str,
                 params: dict | None = None, cuts: tuple = (),
                 drilldown: tuple = (), extra: dict | None = None):
        self.cls, self.kind, self.cube, self.path = cls, kind, cube, path
        self.params = dict(params or {})
        self.cuts, self.drilldown = cuts, drilldown
        self.extra = extra or {}
        if cuts:
            self.params["cut"] = "|".join(c.param() for c in cuts)
        if drilldown:
            self.params["drilldown"] = "|".join(drilldown)

    def url(self) -> str:
        q = "&".join(f"{k}={quote(str(v), safe=':;~|!')}"
                     for k, v in self.params.items())
        return self.path + ("?" + q if q else "")


class RequestMix:
    """Seeded request stream over the cubes the registry holds."""

    DRILL_DIMS = ("period", "publisher", "is_hybrid", "country", "institution",
                  "doab", "backlist_oa", "agreement", "opt_out", "cost_type")

    def __init__(self, registry, domains: dict):
        self.rng = random.Random(MIX_SEED)
        self.reg = registry
        self.dom = domains
        names = registry.names()
        static = ["openapc", "combined", "deal", "bpc",
                  "transformative_agreements", "openapc_ac"]
        inst = sorted(n for n in names if n.startswith(INST_CUBES_OF))
        self.static, self.inst = static, inst
        self.n_cubes = 0
        self.n = dict.fromkeys(READS, 0)
        # the treemap's top-level views: small enough to repeat in a run
        self.hot = {
            "hot-query": [
                Request("query", "aggregate", "openapc",
                        "/cube/openapc/aggregate", drilldown=("period",)),
                Request("query", "aggregate", "combined",
                        "/cube/combined/aggregate",
                        {"order": "apc_amount_sum:desc"},
                        drilldown=("publisher",))],
            "hot-lookup": [
                Request("lookup", "members", "openapc",
                        "/cube/openapc/members/period", extra={"dim": "period"}),
                Request("lookup", "facts", "openapc", "/cube/openapc/facts",
                        {"page": 0, "pagesize": 20})],
        }

    def _cube(self) -> str:
        """Static and institutional cubes alternate."""
        self.n_cubes += 1
        return self.rng.choice(self.static if self.n_cubes % 2 else self.inst)

    def _cuts(self, cube: str, k: int) -> tuple:
        r = self.rng
        dims = set(self.reg.get(cube).dimensions)
        out = []
        for _ in range(k):
            choice = r.randrange(4)
            if choice == 0 and "period" in dims:
                lo = r.randrange(2013, 2022)
                hi = r.randrange(lo, 2024)
                out.append(Cut("period", "range", (str(lo), str(hi))))
            elif choice == 1 and "publisher" in dims:
                pub = r.choice(self.dom["publishers"])
                out.append(Cut("publisher", "point", (pub,)))
            elif choice == 2 and "period" in dims:
                years = tuple(sorted(r.sample(gen.PERIODS, 2)))
                out.append(Cut("period", "set", years))
            elif "is_hybrid" in dims:
                out.append(Cut("is_hybrid", "point", ("TRUE",), invert=True))
        # one cut per dimension keeps the checks' SQL simple
        seen, uniq = set(), []
        for c in out:
            if c.dim not in seen:
                seen.add(c.dim)
                uniq.append(c)
        return tuple(uniq)

    def _aggregate(self, n_drill: int) -> Request:
        r = self.rng
        cube = self._cube()
        c = self.reg.get(cube)
        dims = [d for d in self.DRILL_DIMS if d in c.dimensions]
        dd = tuple(r.sample(dims, n_drill))
        params: dict = {}
        if dd:
            field = r.choice([a.name for a in c.aggregates] + list(dd))
            params["order"] = f"{field}:{r.choice(['asc', 'desc'])}"
        if n_drill == 2:
            params["pagesize"] = r.choice([5, 10, 50])
            params["page"] = r.randrange(0, 3)
        if n_drill == 0:
            params["format"] = "csv"
        return Request("query", "aggregate", cube, f"/cube/{cube}/aggregate",
                       params, self._cuts(cube, 2 - n_drill // 2), dd)

    def _lookup(self, kind: str) -> Request:
        r = self.rng
        if kind == "doi":
            doi = r.choice(self.dom["dois"])
            return Request("lookup", "facts", "doi_lookup",
                           "/cube/doi_lookup/facts",
                           cuts=(Cut("doi", "point", (doi,)),))
        if kind == "fact":
            cube = r.choice(sorted(self.dom["fids"]))
            fid = r.choice(self.dom["fids"][cube])
            return Request("lookup", "fact", cube, f"/cube/{cube}/fact/{fid}",
                           extra={"fid": fid})
        cube = self._cube()
        if kind == "members":
            dims = [d for d in ("period", "publisher", "country", "is_hybrid")
                    if d in self.reg.get(cube).dimensions]
            dim = r.choice(dims)
            return Request("lookup", "members", cube,
                           f"/cube/{cube}/members/{dim}", extra={"dim": dim})
        if kind == "cell":
            return Request("lookup", "cell", cube, f"/cube/{cube}/cell",
                           cuts=self._cuts(cube, 2))
        params = {"page": r.randrange(0, 3), "pagesize": r.choice([10, 20, 50])}
        if kind == "facts_csv":
            params["format"] = "csv"
        return Request("lookup", "facts", cube, f"/cube/{cube}/facts", params,
                       self._cuts(cube, 1))

    def request(self, shape: str) -> Request:
        """The next read of a shape of ``READS``."""
        k = self.n[shape]
        self.n[shape] += 1
        if shape in self.hot:
            return self.hot[shape][k % len(self.hot[shape])]
        if shape == "lookup":
            return self._lookup(TIMED_LOOKUPS[k % len(TIMED_LOOKUPS)])
        return self._aggregate(QUERY_DRILLS[k % len(QUERY_DRILLS)])


# -- the program under test ----------------------------------------------------

class Slicer:
    """Set-up, timed loop and checks of one slicer-mix run."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.work = ctx.work
        self.sizes = gen.Sizes().scaled(ctx.scale)
        self.data = os.path.join(self.work, "csv")
        self.cubes = os.path.join(self.work, "cubes")
        self.facts_root = os.path.join(self.work, "txn", "openapc")
        self.agg_root = os.path.join(self.work, "txn", "rollup")
        self.ckpt = os.path.join(self.work, "txn", "maintain_ckpt")
        self.records: list[dict] = []
        self.versions: list[int] = [0]
        self.rollups: dict[int, list] = {}      # acknowledged version -> rollup
        self.batch_no = 0

    # -- set-up -------------------------------------------------------------

    def generate(self) -> None:
        gen.generate(self.data, self.ctx.seed, self.sizes, docs=False)

    def setup(self) -> float:
        """Program set-up; returns its seconds (session start excluded)."""
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        from openapc_olap_spark.catalog import (build_openapc_registry,
                                                load_manifest,
                                                register_cube_tables)
        from openapc_olap_spark.etl.openapc import InputPaths, OpenAPCPipeline
        from openapc_olap_spark.query import QueryEngine
        from openapc_olap_spark.server import SlicerApp

        sc = spark.sparkContext
        t0 = time.perf_counter()
        if tr.enabled:
            sc.setJobGroup("etl", "etl")
        with tr.span("etl.write"):
            OpenAPCPipeline(spark, InputPaths.under(self.data)).write(self.cubes)
        t1 = time.perf_counter()
        if tr.enabled:
            jobs, tasks = jobs_and_tasks(sc, "etl")
            tr.add("etl.spark_jobs", jobs)
            tr.add("etl.tasks", tasks)
            files = [os.path.join(d, f) for d, _, fs in os.walk(self.cubes)
                     for f in fs if f.startswith("part-")]
            tr.add("etl.files_written", len(files))
            tr.add("etl.bytes_written", sum(os.path.getsize(f) for f in files))
            sc.setJobGroup("catalog", "catalog")
        with tr.span("catalog.register"):
            register_cube_tables(spark, self.cubes)
        with tr.span("catalog.manifest"):
            manifest = load_manifest(spark, self.cubes)
        self.registry = build_openapc_registry(manifest)
        tr.add("catalog.cubes", len(self.registry.names()))
        t2 = time.perf_counter()
        self._setup_txn()
        t3 = time.perf_counter()
        engine = QueryEngine(spark, self.registry)
        if tr.enabled:
            from perfbench.wrappers import TracedApp, traced_engine
            engine = traced_engine(engine, tr)
            app = TracedApp(SlicerApp(engine), tr, sc)
        else:
            app = SlicerApp(engine)
        self.port = _free_port()
        threading.Thread(target=_serve, args=(app, self.port), daemon=True).start()
        _wait_listening(self.port)
        td = time.perf_counter()
        self.mix = RequestMix(self.registry, self.domains())
        td = time.perf_counter() - td          # the benchmark's own work
        self._warm_up()
        t4 = time.perf_counter()
        ctx.notes.update({"etl_write_s": t1 - t0, "catalog_s": t2 - t1,
                          "txn_setup_s": t3 - t2, "serve_s": t4 - t3 - td})
        return t4 - t0 - td

    def _setup_txn(self) -> None:
        from openapc_olap_spark.sources import txn
        from openapc_olap_spark.sources.txn_stream import (maintain_aggregate,
                                                           seed_aggregate)

        spark, tr = self.ctx.spark, self.ctx.tracer
        facts = self._keyed(spark.read.parquet(os.path.join(self.cubes, "openapc")), 0)
        with tr.span("txn.create"):
            self.facts = txn.TxnTable.create(spark, self.facts_root, facts, "bucket",
                                             meta={"n_buckets": N_BUCKETS})
        with tr.span("txn_stream.seed"):
            self.rollup = seed_aggregate(spark, self.facts.read(version=0),
                                         AGG_GROUP, AGG_SPEC, self.agg_root,
                                         n_buckets=4, version=0)
        self.facts.read().createOrReplaceTempView("openapc")
        self.stream = maintain_aggregate(
            spark, self.facts_root, ["article_key"], AGG_GROUP, AGG_SPEC,
            self.rollup, checkpoint_dir=self.ckpt, n_buckets=4, trigger=TRIGGER)

    def _keyed(self, df, seq: int):
        """Facts with the stable article key, sequence and bucket columns."""
        from pyspark.sql import functions as F

        from openapc_olap_spark.etl.openapc import publication_key
        from openapc_olap_spark.sources import txn

        df = (df.withColumn("article_key",
                            F.concat_ws("|", "institution", publication_key()))
                .withColumn("seq", F.lit(seq).cast("long")))
        return txn.add_bucket(df, ["article_key"], N_BUCKETS)

    # -- timed phase ---------------------------------------------------------

    def domains(self) -> dict:
        con = duckdb.connect()
        dois = [r[0] for r in con.execute(
            f"SELECT DISTINCT doi FROM read_csv('{self.data}/apc_de.csv', "
            "all_varchar=true) WHERE doi <> 'NA' ORDER BY doi").fetchall()]
        fids = {}
        for cube in ("combined", "bpc", "deal"):
            fids[cube] = [r[0] for r in con.execute(
                f"SELECT fid FROM {self._src(cube)} ORDER BY fid").fetchall()]
        con.close()
        rng = random.Random(self.ctx.seed)
        return {"publishers": sorted(gen.DEAL_IMPRINTS + gen.OTHER_PUBLISHERS),
                "dois": rng.sample(dois, min(200, len(dois))),
                "fids": {k: rng.sample(v, min(200, len(v))) for k, v in fids.items()}}

    def _warm_up(self) -> None:
        """The hot set and the lookup kinds the timed reads leave out,
        before timing: a server's first request of a view pays its code
        generation. The responses are checked with the timed ones, so
        every lookup kind is checked in every run."""
        m = self.mix
        with self.ctx.tracer.paused():
            warm = (m.hot["hot-query"] + m.hot["hot-lookup"]
                    + [m._lookup(k) for k in WARM_LOOKUPS])
            for n, req in enumerate(warm):
                status, body = _get(self.port, req.url(),
                                    {"X-Request-Id": f"s{n:05d}"})
                self.records.append({"req": req, "status": status, "body": body,
                                     "version": self.versions[-1]})

    def loop(self, seconds: float) -> None:
        """A write, whole rounds of ``READS`` until ``seconds`` are up and
        at least ``MIN_ROUNDS``, a write: every run measures two writes
        (the first pays the stream's first merge) and the same mix of
        reads, on a slow host too."""
        try:
            n = self._write_then_read(0)
            deadline = time.perf_counter() + seconds
            rounds = 0
            while rounds < MIN_ROUNDS or time.perf_counter() < deadline:
                rounds += 1
                for shape in READS:
                    n += 1
                    self._send(self.mix.request(shape), n)
            self._write_then_read(n)
        finally:
            self.stream.stop()

    def _write_then_read(self, n: int) -> int:
        ok, ms = self._write()
        self.ctx.op("write", ms, failed=not ok, items=0)
        self._send(Request("query", "aggregate", "openapc",
                           "/cube/openapc/aggregate", {"pagesize": 500},
                           drilldown=tuple(AGG_GROUP),
                           extra={"after_write": True}), n + 1)
        return n + 1

    def _send(self, req: Request, i: int) -> None:
        rid = f"{req.cls[0]}{i:05d}"
        t0 = time.perf_counter()
        status, body = _get(self.port, req.url(), {"X-Request-Id": rid})
        ms = (time.perf_counter() - t0) * 1e3
        self.ctx.op(req.cls, ms)
        self.records.append({"req": req, "status": status, "body": body,
                             "version": self.versions[-1]})

    def _write(self) -> tuple[bool, float]:
        """Apply the next correction batch: (acknowledged, ms from submit
        until the running stream has maintained the rollup to the new
        version, the rollup is read and the snapshot is registered)."""
        from pyspark.sql import functions as F

        from openapc_olap_spark.etl.openapc import OpenAPCPipeline
        from openapc_olap_spark.etl.schemas import APC_COLUMNS
        from openapc_olap_spark.sources.txn_stream import read_aggregate

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        sc = spark.sparkContext
        self.batch_no += 1
        b = self.batch_no
        path = os.path.join(self.data, "corrections", f"batch_{b:04d}.csv")
        traced = tr.enabled
        t0 = time.perf_counter()
        if traced:
            sc.setJobGroup(f"w{b}", f"w{b}")
        try:
            raw = spark.read.csv(path, header=True, schema=", ".join(
                f"`{c}` string" for c in gen.APC_CUBE_COLUMNS + ["seq"]))
            rows = OpenAPCPipeline.with_fact_id(
                raw.withColumn("euro", F.col("euro").cast("double"))
                   .select(*APC_COLUMNS))
            with tr.span("txn.upsert"):
                # the batch number is the batch's sequence (gen.py)
                v = self.facts.upsert(self._keyed(rows, b), ["article_key"], "seq")
            with tr.span("txn_stream.maintain"):
                self._await_watermark(v)
            with tr.span("txn.read"):
                rollup = read_aggregate(self.rollup, AGG_GROUP, AGG_SPEC).collect()
                self.facts.read().createOrReplaceTempView("openapc")
            ok = True
        except Exception as e:   # noqa: BLE001 - a failed write is counted
            ctx.fail(f"write batch {b}: {type(e).__name__}: {e}")
            ok, v, rollup = False, self.versions[-1], []
        ms = (time.perf_counter() - t0) * 1e3
        if ok:
            self.rollups[v] = rollup
            self.versions.append(v)
            if traced:
                self._txn_counters(v, rollup)
        return ok, ms

    def _await_watermark(self, v: int, timeout: float = 120.0) -> None:
        """Wait until the stream has committed the rollup through ``v``."""
        deadline = time.perf_counter() + timeout
        while int(self.rollup.snapshot().get("meta", {})
                  .get("agg_watermark", -1)) < v:
            if self.stream.exception() is not None or not self.stream.isActive:
                raise RuntimeError(f"maintain stream stopped: {self.stream.exception()}")
            if time.perf_counter() > deadline:
                raise TimeoutError(f"rollup not maintained to v{v} in {timeout} s")
            time.sleep(0.005)

    def _txn_counters(self, v: int, rollup) -> None:
        tr = self.ctx.tracer
        new = {f["path"] for f in self.facts.snapshot(v)["files"]}
        old = {f["path"] for f in self.facts.snapshot(v - 1)["files"]}
        tr.add("txn.files_added", len(new - old))
        tr.add("txn.files_relinked", len(new & old))
        tr.add("txn.files_read", len(new))
        tr.add("txn.commit_conflicts", v - self.versions[-2] - 1)
        tr.add("txn_stream.groups_changed",
               sum(1 for r in rollup if r["_commit_version"] == v))

    # -- checks ----------------------------------------------------------------

    def _src(self, table: str, version: int | None = None) -> str:
        """DuckDB source for a cube table as the program wrote it."""
        if table == "openapc" and version is not None:
            files = [os.path.join(self.facts_root, f["path"])
                     for f in self.facts.snapshot(version)["files"]]
            return f"read_parquet([{', '.join(_lit(f) for f in files)}])"
        d = os.path.join(self.cubes, table)
        return (f"read_parquet('{d}/**/*.parquet', hive_partitioning=true, "
                f"hive_types_autocast=false)")

    def check(self) -> None:
        con = duckdb.connect()
        self._check_load(con)
        for rec in self.records:
            try:
                problem = self._check_record(con, rec)
            except Exception as e:   # noqa: BLE001 - a check that errors fails
                problem = f"check error {type(e).__name__}: {e}"
            if problem:
                self.ctx.fail(f"{rec['req'].url()}: {problem}", count=True)
        self._check_refresh(con)
        con.close()

    def _check_load(self, con) -> None:
        """Row-count and euro-sum invariants from the raw CSVs to the cubes."""
        def count_sum(src: str, where: str = "true") -> tuple:
            return tuple(con.execute(
                f"SELECT count(*), sum(CAST(euro AS DECIMAL(18,2))) FROM {src} "
                f"WHERE {where}").fetchone())

        def raw(name: str) -> str:
            return f"read_csv('{self.data}/{name}', all_varchar=true)"

        apc = count_sum(raw("apc_de.csv"))
        ta_paid = count_sum(raw("transformative_agreements.csv"), "euro <> 'NA'")
        want = {"openapc": apc, "bpc": count_sum(raw("bpc.csv")),
                "combined": (apc[0] + ta_paid[0], apc[1] + ta_paid[1])}
        for cube, w in want.items():
            got = count_sum(self._src(cube))
            self.ctx.check(got == w, f"load invariant {cube}: csv {w} != cube {got}")
        ta = "SELECT count(*) FROM {}"
        w = con.execute(ta.format(raw("transformative_agreements.csv"))).fetchone()
        got = con.execute(ta.format(self._src("transformative_agreements"))).fetchone()
        self.ctx.check(got == w, f"load invariant ta: csv {w} != cube {got}")

    def _cube_sql(self, req: Request, version: int) -> tuple[str, object]:
        cube = self.registry.get(req.cube)
        where = [f"({cube.where})"] if cube.where else []
        where += [c.sql() for c in req.cuts]
        src = self._src(cube.table, version if cube.table == "openapc" else None)
        return (f"FROM {src}" + (" WHERE " + " AND ".join(where) if where else ""),
                cube)

    def _check_record(self, con, rec) -> str | None:
        req, status, body = rec["req"], rec["status"], rec["body"]
        if status != 200:
            return f"status {status}: {body[:200]!r}"
        if req.kind == "cubes":
            got = json.loads(body)
            return None if len(got) == len(self.registry.names()) else "cube count"
        if req.kind == "model":
            got = json.loads(body)
            return None if got["name"] == req.cube else "model name"
        version = rec["version"]
        frm, cube = self._cube_sql(req, version)
        if req.kind == "aggregate":
            return self._check_aggregate(con, req, body, frm, cube, version)
        if req.kind == "cell":
            want = _dict(con, f"SELECT {', '.join(_aggs(cube))} {frm}")[0]
            got = json.loads(body)["summary"]
            return _diff(got, want)
        if req.kind == "members":
            dim = req.extra["dim"]
            want = [r[0] for r in con.execute(
                f"SELECT DISTINCT {_q(dim)} {frm} ORDER BY 1 NULLS FIRST LIMIT 500"
            ).fetchall()]
            return None if json.loads(body) == want else "members differ"
        if req.kind == "fact":
            got = json.loads(body)
            return None if str(got.get("fid")) == str(req.extra["fid"]) else "fact id"
        if req.kind == "facts":
            size = min(int(req.params.get("pagesize", 500)), 500)
            off = int(req.params.get("page", 0)) * size
            want = [str(r[0]) for r in con.execute(
                f"SELECT fid {frm} ORDER BY fid LIMIT {size} OFFSET {off}").fetchall()]
            if req.params.get("format") == "csv":
                got = [r["fid"] for r in csv.DictReader(io.StringIO(body.decode()))]
            else:
                got = [str(r["fid"]) for r in json.loads(body)]
            return None if got == want else \
                f"facts page differs ({len(got)} vs {len(want)} rows)"
        return f"unknown kind {req.kind}"

    def _check_aggregate(self, con, req, body, frm, cube, version) -> str | None:
        aggs = _aggs(cube)
        dd = list(req.drilldown)
        summary = _dict(con, f"SELECT {', '.join(aggs)} {frm}")[0]
        if not dd:
            got = (_csv_rows(body)[0] if req.params.get("format") == "csv"
                   else json.loads(body)["summary"])
            return _diff(got, summary)
        keys = ", ".join(_q(d) for d in dd)
        # the engine's order: the requested terms, then the drilldown
        # dimensions ascending; Spark sorts nulls first ascending, last
        # descending
        order, named = [], set()
        for term in [t for t in req.params.get("order", "").split(",") if t]:
            name, _, direction = term.partition(":")
            named.add(name)
            order.append(f"{_q(name)} DESC NULLS LAST" if direction.lower() == "desc"
                         else f"{_q(name)} ASC NULLS FIRST")
        order += [f"{_q(d)} ASC NULLS FIRST" for d in dd if d not in named]
        size = min(int(req.params.get("pagesize", 500)), 500)
        off = int(req.params.get("page", 0)) * size
        cells_sql = (f"SELECT {keys}, {', '.join(aggs)} {frm} GROUP BY {keys} "
                     f"ORDER BY {', '.join(order)}")
        total = con.execute(f"SELECT count(*) FROM ({cells_sql})").fetchone()[0]
        want = _dict(con, f"{cells_sql} LIMIT {size} OFFSET {off}")
        env = json.loads(body)
        if env["total_cell_count"] != total:
            return f"total_cell_count {env['total_cell_count']} != {total}"
        problem = _diff(env["summary"], summary)
        if problem and total == 0 and env["summary"] == {}:
            # a known deviation of query.aggregate_envelope: a drilldown
            # over an empty cell serves summary {} where a cubes slicer
            # serves count 0; counted and reported, not failed
            self.ctx.deviation(f"{req.url()}: summary {{}}, SQL gives {summary}")
            problem = None
        if problem:
            return "summary " + problem
        got = env["cells"]
        if len(got) != len(want):
            return f"{len(got)} cells != {len(want)}"
        step = max(1, len(want) // 5)
        for g, w in list(zip(got, want))[::step]:
            problem = _diff(g, w)
            if problem:
                return "cell " + problem
        if req.extra.get("after_write"):
            return self._check_after_write(got, self.rollups.get(version))
        return None

    @staticmethod
    def _check_after_write(cells, rollup) -> str | None:
        """A read-after-write response against the rollup the stream
        maintained for the same version."""
        if rollup is None:
            return "no maintained rollup at this version"
        want = {(r["period"], r["publisher"]): (r["n"], float(r["euro_sum"]))
                for r in rollup}
        got = {(c["period"], c["publisher"]): (int(c["apc_num_items"]),
                                               float(c["apc_amount_sum"]))
               for c in cells}
        if want.keys() != got.keys():
            return "read-after-write groups differ from the maintained rollup"
        for k, (n, s) in want.items():
            if got[k][0] != n or abs(got[k][1] - s) > 0.01:
                return f"read-after-write group {k}: {got[k]} != rollup {(n, s)}"
        return None

    def _check_refresh(self, con) -> None:
        """The maintained rollup equals a from-scratch GROUP BY, and a
        freshly opened TxnTable reads the last acknowledged version."""
        from pyspark.sql import functions as F

        from openapc_olap_spark.sources import txn
        from openapc_olap_spark.sources.txn_stream import read_aggregate

        ctx = self.ctx
        last = self.versions[-1]
        src = self._src("openapc", last)
        want = {(r[0], r[1]): (r[2], r[3]) for r in con.execute(
            f"SELECT period, publisher, count(*), sum(CAST(euro AS DECIMAL(18,2))) "
            f"FROM {src} GROUP BY 1, 2").fetchall()}
        got = {(r["period"], r["publisher"]): (r["n"], r["euro_sum"])
               for r in read_aggregate(self.rollup, AGG_GROUP, AGG_SPEC).collect()}
        ctx.check(got == want, f"maintained rollup != GROUP BY at v{last} "
                               f"({len(got)} vs {len(want)} groups)")
        fresh = txn.TxnTable(ctx.spark, self.facts_root, "bucket")
        ctx.check(fresh.version() == last,
                  f"fresh TxnTable reads v{fresh.version()}, acknowledged v{last}")
        n, s = fresh.read().agg(F.count(F.lit(1)),
                                F.sum(F.col("euro").cast("decimal(18,2)"))).first()
        model = self._model(con)
        ctx.check((n, round(float(s), 2)) == model,
                  f"fresh TxnTable rows, euro {(n, float(s))} != batches imply {model}")

    def _model(self, con) -> tuple[int, float]:
        """Row count and euro sum implied by the raw CSV and the applied
        correction batches (last write per key wins)."""
        model = {}
        key = ("institution || '|' || CASE WHEN doi IS NOT NULL AND doi <> '' AND "
               "doi <> 'NA' THEN doi ELSE regexp_replace(url, '^https?://', '') END")
        for k, e in con.execute(
                f"SELECT {key}, CAST(euro AS DECIMAL(18,2)) FROM "
                f"read_csv('{self.data}/apc_de.csv', all_varchar=true)").fetchall():
            model[k] = e
        for b in range(1, len(self.versions)):
            path = os.path.join(self.data, "corrections", f"batch_{b:04d}.csv")
            for k, e in con.execute(
                    f"SELECT {key}, CAST(euro AS DECIMAL(18,2)) FROM "
                    f"read_csv('{path}', all_varchar=true)").fetchall():
                model[k] = e
        return len(model), round(float(sum(model.values())), 2)


# -- helpers -------------------------------------------------------------------

def _q(name: str) -> str:
    return f'"{name}"'


def _aggs(cube) -> list[str]:
    """The cube's declared aggregates as DuckDB SQL."""
    return [f"{_SQL_AGG[a.function].format(m=_q(a.measure))} AS {_q(a.name)}"
            for a in cube.aggregates]


def _dict(con, sql: str) -> list[dict]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return [dict(zip(cols, r)) for r in res.fetchall()]


def _csv_rows(body: bytes) -> list[dict]:
    return list(csv.DictReader(io.StringIO(body.decode())))


def _diff(got: dict, want: dict) -> str | None:
    for k, w in want.items():
        g = got.get(k)
        if isinstance(g, str) and not isinstance(w, str):
            g = None if g == "" else float(g)
        if not close(g, float(w) if w is not None and not isinstance(w, str) else w):
            return f"{k}: got {g!r} want {w!r}"
    return None


def _get(port: int, url: str, headers: dict) -> tuple[int, bytes]:
    """One GET on a fresh connection: (status, body); status 0 when the
    connection failed."""
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            conn.request("GET", url, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()
    except OSError as e:
        return 0, str(e).encode()


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _serve(app, port: int) -> None:
    from openapc_olap_spark.server import serve
    serve(app, "127.0.0.1", port)


def _wait_listening(port: int, timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=1):
                return
        except OSError:
            time.sleep(0.05)
    raise RuntimeError(f"server did not listen on port {port}")


def close(a, b, rel: float = 1e-6, abs_tol: float = 1e-6) -> bool:
    """Numeric-or-exact equality of a served value and its SQL twin."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) or isinstance(b, (int, float)):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=rel, abs_tol=abs_tol)
    return str(a) == str(b)
