"""Tests of the benchmark itself: its inputs are byte-deterministic per
seed, cover the OpenAPC fixture edges, and a tiny-scale run prints every
metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import csv
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
SMALL = gen.Sizes(apc_rows=600, institutions=12, batches=3, batch_rows=30,
                  documents=80)


def _files(d) -> list[str]:
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


def _rows(path) -> list[dict]:
    with open(path, encoding="utf-8", newline="") as f:
        return list(csv.DictReader(f))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_generator_is_byte_deterministic(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    gen.generate(str(a), 5, SMALL)
    gen.generate(str(b), 5, SMALL)
    gen.generate(str(c), 6, SMALL)
    files = _files(a)
    assert "documents.parquet" in files and "apc_de.csv" in files
    assert files == _files(b)
    for f in files:
        assert (a / f).read_bytes() == (b / f).read_bytes(), f
    assert any((a / f).read_bytes() != (c / f).read_bytes() for f in files)


def test_generator_covers_fixture_edges(tmp_path):
    gen.generate(str(tmp_path), 3, SMALL, docs=False)
    apc = _rows(tmp_path / "apc_de.csv")
    assert any(r["doi"] == "NA" for r in apc)
    assert all(r["url"] != "NA" for r in apc if r["doi"] == "NA")
    assert any(":" in r["journal_full_title"] for r in apc)
    imprints = set(gen.DEAL_IMPRINTS) - {"Wiley-Blackwell", "Springer Nature"}
    assert {r["publisher"] for r in apc} & imprints
    opt_out = _rows(tmp_path / "deal_wiley_germany_opt_out.csv")
    assert any(r["period"] == "2019" and int(r["euro"][-1]) % 2 for r in opt_out)
    inst = _rows(tmp_path / "institutions.csv")
    assert any(r["institution_cubes_name"] == "NA" for r in inst)
    sizes = sorted(collections.Counter(r["institution"] for r in apc).values())
    assert sizes[-1] > 3 * sizes[len(sizes) // 2]            # Zipf-skewed
    keys = {(r["institution"], r["doi"], r["url"]) for r in apc}
    assert len(keys) == len(apc)                            # addressable rows
    base = {(r["institution"], r["doi"], r["url"]): r for r in apc}
    batch = _rows(tmp_path / "corrections" / "batch_0001.csv")
    assert len({(r["institution"], r["doi"], r["url"]) for r in batch}) == len(batch)
    old = [base.get((r["institution"], r["doi"], r["url"])) for r in batch]
    assert any(o is None for o in old)                      # new articles
    assert any(o and o["euro"] != r["euro"] for o, r in zip(old, batch))
    assert any(o and (o["period"], o["publisher"]) != (r["period"], r["publisher"])
               for o, r in zip(old, batch))                 # group moves


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["slicer-mix", "corpus-curation"])
def test_tiny_run_prints_every_metric(tmp_path, workload, trace):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=tmp_path, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, proc.stderr[-3000:]
    assert res["attempted"] >= 1
    want = {m["name"]: m["unit"]
            for m in _spec()["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    elif workload == "slicer-mix":
        # Spark actions are spans of their own only inside a request; the
        # txn and catalog layers keep their own Spark work
        summary = json.loads(next(line for line in proc.stdout.splitlines()
                                  if line.startswith("summary:"))[len("summary:"):])
        with open(tmp_path / summary["trace_file"], encoding="utf-8") as f:
            spans = json.load(f)["spans"]
        assert all(s["rid"] for s in spans if s["name"] == "spark.collect")
        layer = {m: v["value"] for m, v in res["metrics"].items()}
        assert layer["txn.read_ms"] > 0 and layer["catalog.manifest_s"] > 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, a run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    for workload in ("slicer-mix", "corpus-curation"):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=tmp_path, capture_output=True, text=True, timeout=180)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout
