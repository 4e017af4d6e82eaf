"""scanutil: the one plan-statistics probe and the gates built on it.

Every size gate must compute the same rows on both of its branches:
the "on" branch only changes partitioning or merge topology. Each gate
is forced off by setting ``scanutil.FAN_OUT_MAX_BYTES`` to 0 (or, for
the merge topology, by passing ``two_level`` explicitly), and the
collected results are compared with the default run. A static guard
keeps plan statistics and environment reads out of the operators.
"""

import os
import re

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from hll_spark.operators import scanutil
from hll_spark.operators.agg import hll_spec, merge_sketch_partials, sketch_partials
from hll_spark.sketchlib.hll import HllConfig

from .conftest import REPO_ROOT, SF_DIR

# the oracle-compare scale, next to the default test tables
SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
PKG = os.path.join(REPO_ROOT, "hll_spark")


class _NoJvm:
    """Stand-in for a frame on a backend without the JVM probes (Spark
    Connect): every access to ``_jdf`` raises."""

    @property
    def _jdf(self):
        raise AttributeError("_jdf is not available on this backend")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_probes_return_none_without_jvm():
    df = _NoJvm()
    assert scanutil.plan_bytes(df) is None
    assert scanutil.estimated_splits(df) is None
    assert scanutil.plan_is_small(df) is False
    assert scanutil.fan_out_scan(df) is df


def test_probes_on_a_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    size = scanutil.plan_bytes(docs)
    assert size is not None and size > 0
    # one row group in one file: a single estimated split
    assert scanutil.estimated_splits(docs) == 1
    assert scanutil.plan_is_small(docs)


def test_fan_out_scan_both_branches_equal(spark, monkeypatch):
    q = entry_mod.queries()["ngram_jaccard_pairs"]
    on = q(spark, SF)
    on_plan, on_rows = _plan(on), _sorted_rows(on)
    monkeypatch.setattr(scanutil, "FAN_OUT_MAX_BYTES", 0)
    off = q(spark, SF)
    off_plan, off_rows = _plan(off), _sorted_rows(off)
    # the gate really switched: the round-robin exchange is gone
    assert on_plan.count("RoundRobinPartitioning") > off_plan.count(
        "RoundRobinPartitioning"
    )
    assert on_rows == off_rows and len(on_rows) > 0


def test_embedding_candidate_repartition_both_branches_equal(spark, monkeypatch):
    # embedding_dup_pairs gates both its scan fan-out and the candidate
    # repartition (plan_is_small) on the same constant
    q = entry_mod.queries()["embedding_dup_pairs_tight"]
    on = q(spark, SF)
    on_plan, on_rows = _plan(on), _sorted_rows(on)
    monkeypatch.setattr(scanutil, "FAN_OUT_MAX_BYTES", 0)
    off = q(spark, SF)
    off_plan, off_rows = _plan(off), _sorted_rows(off)
    assert on_plan.count("RoundRobinPartitioning") >= 2
    assert off_plan.count("RoundRobinPartitioning") == 0
    assert on_rows == off_rows and len(on_rows) > 0


@pytest.fixture()
def hll_partials(spark):
    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        pd.DataFrame({"id": rng.integers(0, 30_000, size=60_000)})
    ).repartition(6)
    spec = hll_spec(HllConfig(log2m=11, regwidth=5))
    return sketch_partials(df, "id", spec), spec


def test_merge_two_level_equals_single_level(hll_partials):
    partials, spec = hll_partials
    one = merge_sketch_partials(partials, spec, two_level=False).collect()
    two = merge_sketch_partials(partials, spec, two_level=True).collect()
    assert len(one) == len(two) == 1
    assert bytes(one[0]["sketch"]) == bytes(two[0]["sketch"])
    assert one[0]["rows_seen"] == two[0]["rows_seen"] == 60_000


def test_merge_topology_without_stats_is_two_level(hll_partials, monkeypatch):
    partials, spec = hll_partials

    def n_group_stages(df):
        return _plan(df).count("FlatMapGroupsInPandas")

    auto = merge_sketch_partials(partials, spec)
    assert n_group_stages(auto) == 1  # small input: single final merge
    monkeypatch.setattr(scanutil, "plan_bytes", lambda df: None)
    blind = merge_sketch_partials(partials, spec)
    assert n_group_stages(blind) == 2  # no stats: scale-safe topology
    assert bytes(auto.collect()[0]["sketch"]) == bytes(blind.collect()[0]["sketch"])


def test_plan_statistics_read_only_in_scanutil():
    stats = re.compile(r"sizeInBytes|filesMaxPartitionBytes")
    env = re.compile(r"\bos\.environ\b|\bgetenv\b|__import__\(\s*[\"']os[\"']")
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                src = fh.read()
            if rel != os.path.join("operators", "scanutil.py") and stats.search(src):
                offenders.append(f"{rel}: reads plan statistics")
            if rel.startswith("operators" + os.sep) and env.search(src):
                offenders.append(f"{rel}: reads the environment")
    assert offenders == []
