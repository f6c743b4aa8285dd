"""The ``corpus-curation`` workload: the LLM-data operator layer.

Generated documents corpora (shards; exact and near duplicates, four
languages) run through a fixed cycle of curation stages, each stage shard
by shard as a curation job runs over a corpus that arrives in shards:

- write: the ``pipeline.pretraining_pipeline`` gate (quality filter, exact
  dedup, decontamination, chunking, split) with its result written as
  Parquet;
- query (corpus-wide pair finding): ``dedup.minhash_near_duplicates``;
- lookup (per-document work): ``text.with_winnow_fingerprints``.

The engine starts cold. Set-up runs every stage once on a warm-up shard,
so the stages' code generation and JIT are paid there (and counted in the
set-up time); the timed phase then runs whole cycles over the timed
shards until the time is up and at least one, so every class has several
warm samples. The stages run through the repository's gate functions in
``__spark_entry__.queries()``, so each output, the warm-up's too, is
checked against the DuckDB twin SQL ``__spark_entry__.oracle_sql()`` holds
(the pipeline's as read back from the written files).
"""

from __future__ import annotations

import math
import os
import statistics
import time

import duckdb

from perfbench import gen

SHARDS = 3           # timed shards; one more is the warm-up's
SHARD_DOCS = 100
# timed runs of each stage per cycle, over the timed shards in turn: the
# cheaper a stage, the more samples, so each class gets a few seconds
SAMPLES = {"pipeline": 3, "dedup": 4, "text": 6}
# stage -> (operation class, gate whose oracle checks it)
STAGES = {
    "pipeline": ("write", "x52_pretraining_pipeline"),
    "dedup": ("query", "x03_minhash_neardup"),
    "text": ("lookup", "x27_winnow_fingerprints"),
}


class Corpus:
    """Set-up, timed loop and checks of one corpus-curation run."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        # the warm-up shard is the last one
        self.shards = [os.path.join(ctx.work, "corpus", f"shard{k}")
                       for k in range(SHARDS + 1)]
        self.out_dir = os.path.join(ctx.work, "curated")
        self.results: list[tuple[str, int, tuple]] = []
        self.docs = max(4, int(SHARD_DOCS * ctx.scale))

    def generate(self) -> None:
        for k, d in enumerate(self.shards):
            gen.generate(d, self.ctx.seed * (SHARDS + 1) + k,
                         gen.Sizes(documents=self.docs), openapc=False)

    def setup(self) -> float:
        """Load the gate functions and their twins, then run every stage
        once on the warm-up shard. Returns its seconds."""
        t0 = time.perf_counter()
        import __spark_entry__

        self.gates = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        t1 = time.perf_counter()
        warm = {}
        with self.ctx.tracer.paused():
            for stage in STAGES:
                t = time.perf_counter()
                res = self._stage(stage, SHARDS, count=True)
                warm[stage] = round((time.perf_counter() - t) * 1e3)
                if res:
                    self._keep(stage, SHARDS, *res)
        t2 = time.perf_counter()
        self.ctx.notes.update({"gates_s": t1 - t0, "warmup_s": t2 - t1,
                               "warmup_ms": warm})
        return t2 - t0

    # -- stages ----------------------------------------------------------------

    def _stage(self, stage: str, k: int, count: bool = False):
        """One stage on shard ``k``: its (columns, rows), None if it
        failed. ``count``: a failure counts as a failed operation here (the
        warm-up's, which is no timed operation)."""
        try:
            with self.ctx.tracer.span(f"operators.{stage}"):
                return self._run(stage, self.shards[k])
        except Exception as e:   # noqa: BLE001 - a failed stage is counted
            self.ctx.fail(f"stage {stage} shard {k}: {type(e).__name__}: {e}",
                          count=count)
            return None

    def _run(self, stage: str, shard: str):
        """One stage on one shard: its (columns, rows); rows is None for
        the pipeline, whose result is written."""
        df = self.gates[STAGES[stage][1]](self.ctx.spark, shard)
        if stage != "pipeline":
            return df.columns, [tuple(r) for r in df.collect()]
        df.write.mode("overwrite").parquet(self.out_dir)
        return df.columns, None

    def _keep(self, stage: str, k: int, cols: list[str], rows) -> None:
        """Keep a stage's output for the checks; the pipeline's is read
        back from the files it wrote, before the next shard overwrites
        them."""
        if rows is None:
            con = duckdb.connect()
            rows = con.execute(f"SELECT {', '.join(cols)} FROM "
                               f"read_parquet('{self.out_dir}/*.parquet')").fetchall()
            con.close()
        self.results.append((stage, k, (cols, rows)))

    # -- timed phase -------------------------------------------------------------

    def loop(self, seconds: float) -> None:
        """Whole cycles of the stages over the timed shards until the time
        is up and at least one."""
        ctx = self.ctx
        deadline = time.perf_counter() + seconds
        cycles = 0
        while cycles < 1 or time.perf_counter() < deadline:
            cycles += 1
            for stage, (cls, _) in STAGES.items():
                for i in range(SAMPLES[stage]):
                    k = i % SHARDS
                    t0 = time.perf_counter()
                    res = self._stage(stage, k)
                    ms = (time.perf_counter() - t0) * 1e3
                    ctx.notes.setdefault(f"{stage}_ms", []).append(round(ms))
                    ctx.op(cls, ms, failed=res is None, items=0)
                    if res:
                        self._keep(stage, k, *res)
        ctx.notes["cycles"] = cycles
        # throughput: a shard's documents through every stage once, each
        # stage at its median time
        ctx.items = self.docs
        ctx.busy_s = sum(statistics.median(ctx.notes[f"{stage}_ms"])
                         for stage in STAGES) / 1e3

    # -- checks ------------------------------------------------------------------

    def check(self) -> None:
        con = duckdb.connect()
        expected: dict[tuple[str, int], tuple] = {}
        for k, shard in enumerate(self.shards):
            con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                        f"'{shard}/documents.parquet'")
            for stage, (_, gate) in STAGES.items():
                res = con.execute(self.oracles[gate])
                expected[stage, k] = normalize_rows(
                    res.fetchall(), [d[0] for d in res.description])
        con.close()
        for stage, k, (cols, rows) in self.results:
            got, want = normalize_rows(rows, cols), expected[stage, k]
            if got != want:
                self.ctx.fail(f"stage {stage} shard {k}: {len(got[1])} rows differ "
                              f"from its DuckDB twin ({len(want[1])} rows)",
                              count=True)

    def candidate_precision(self) -> float:
        """Verified near-duplicate pairs per LSH candidate pair (first
        shard)."""
        from openapc_olap_spark.operators import dedup

        docs = self.ctx.spark.read.parquet(
            os.path.join(self.shards[0], "documents.parquet"))
        cands = dedup.minhash_lsh_candidates(docs).count()
        pairs = dedup.minhash_near_duplicates(docs, threshold=0.5).count()
        return pairs / cands if cands else 0.0


def normalize_rows(rows, cols) -> tuple[list[str], list[tuple]]:
    """Order-insensitive form of a result: columns sorted by name, floats
    printed to 9 significant digits, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.9g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in idx], out
