"""Tests of the benchmark itself (not of the library).

    python3 -m pytest perfbench/tests -q

The Spark-backed tests run ``perfbench/run.py`` through the command in
BENCHMARK.json, on a small url_hll_global; they take about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import fixtures  # noqa: E402
import observe  # noqa: E402
from run import unit_of  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

SPARK_COUNTS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
    "spark.python_eval_nodes", "spark.shuffle_bytes", "spark.input_bytes",
    "agg.partials.tasks", "agg.merge.tasks",
]


def run_bench(workload: str, trace: int, seed: int = 5, rows: int = 200_000, cwd: str = ROOT):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
    ] + (["--rows", str(rows)] if rows else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_page_urls_match_library_generator():
    from hll_spark.sources.tables import generate_pages_pdf

    rows, seed, parts = 130_000, 7, 3
    bounds = np.linspace(0, rows, parts + 1).astype(np.int64)
    want = []
    for i in range(parts):
        for piece, lo in enumerate(range(int(bounds[i]), int(bounds[i + 1]), 50_000)):
            n = min(50_000, int(bounds[i + 1]) - lo)
            want += generate_pages_pdf(
                n, 1000, 0.2, seed + 7919 * i + 104729 * piece, total_rows=rows
            )["url"].tolist()
    got = [u for arr in fixtures.page_urls(rows, seed, parts) for u in arr.to_pylist()]
    assert got == want


def test_fixture_key_and_manifest(tmp_path, monkeypatch):
    keys = {fixtures.fixture_dir("w", k) for k in ("r1-s1-p1", "r2-s1-p1", "r1-s2-p1")}
    assert len(keys) == 3
    monkeypatch.setattr(fixtures, "CACHE", str(tmp_path))
    calls = []

    def build(data_dir):
        calls.append(data_dir)
        fixtures.write_urls(data_dir, 1000, 1, 2)
        return {"n": 1}

    path, answers, gen_s = fixtures.ensure("w", "k", build)
    assert answers == {"n": 1} and gen_s > 0
    assert fixtures.ensure("w", "k", build)[2] == 0.0 and len(calls) == 1
    with open(os.path.join(path, "data", "part-00000.parquet"), "ab") as fh:
        fh.write(b"x")  # a changed data file invalidates the fixture
    assert fixtures.load(path) is None
    fixtures.ensure("w", "k", build)
    assert len(calls) == 2


def test_covered_seconds_merges_overlaps():
    assert observe.covered_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert observe.covered_seconds([]) == 0


def test_benchmark_json_units_follow_metric_names():
    for m in SPEC["per_layer"]:
        assert unit_of(m["name"]) == m["unit"], m["name"]


@pytest.fixture(scope="module")
def traced_pair():
    return [result(run_bench("url_hll_global", 1)) for _ in range(2)]


def test_emitted_metric_names_equal_benchmark_json(traced_pair):
    plain = result(run_bench("url_hll_global", 0))
    assert plain["correct"] and plain["failed"] == 0
    assert set(plain["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert plain["metrics"][m["name"]]["unit"] == m["unit"]
        assert plain["metrics"][m["name"]]["value"] > 0
    for traced in traced_pair:
        assert set(traced["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
        for m in SPEC["per_layer"]:
            assert traced["metrics"][m["name"]]["unit"] == m["unit"]


def test_spark_counts_repeat_exactly(traced_pair):
    a, b = (r["metrics"] for r in traced_pair)
    for name in SPARK_COUNTS:
        assert a[name]["value"] == b[name]["value"], name
    assert a["spark.jobs"]["value"] >= 1 and a["spark.exchanges"]["value"] >= 1


def test_fails_without_the_library(tmp_path):
    """In a directory holding only the benchmark, run.py exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    proc = run_bench(SPEC["workloads"][0]["name"], 0, rows=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
