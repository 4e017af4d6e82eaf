"""The SketchSpec contract of every spec factory: one update over all
values and a merge of two half updates agree, and the default
serializers round-trip. No Spark needed."""

import numpy as np
import pytest

from hll_spark.operators.agg import SketchSpec, hll_spec
from hll_spark.operators.sketches import (
    ams_spec,
    bloom_spec,
    cms_spec,
    kll_spec,
    kmv_sample_spec,
    mg_spec,
    tdigest_spec,
    theta_spec,
)
from hll_spark.sketchlib.hll import HllConfig

_rng = np.random.default_rng(7)
HASHES = _rng.integers(-(2**63), 2**63 - 1, 20_000, dtype=np.int64)
# heavy-tailed doubles: quantile sketches compact well past k
DOUBLES = _rng.lognormal(0.0, 1.0, 20_000)
# 400 distinct items, Zipf-ish so the top of the summary is well separated
ITEMS = np.array(
    [f"item{int(i)}" for i in np.minimum(_rng.zipf(1.3, 20_000), 400)],
    dtype=object,
)

BYTE_EXACT = [
    ("hll", lambda: hll_spec(HllConfig(log2m=11, regwidth=5)), HASHES),
    ("cms", lambda: cms_spec(5, 512), HASHES),
    ("bloom", lambda: bloom_spec(1 << 16, 5), HASHES),
    ("ams", lambda: ams_spec(5, 256, 3), HASHES),
    ("theta", lambda: theta_spec(1024), HASHES),
    ("kmv_sample", lambda: kmv_sample_spec(256), ITEMS),
]
BOUNDED = [
    ("kll", lambda: kll_spec(200), DOUBLES),
    ("tdigest", lambda: tdigest_spec(100.0), DOUBLES),
    ("mg", lambda: mg_spec(32), ITEMS),
]


def _build(spec: SketchSpec, values):
    """(one update over all values, merge of two half updates), each
    round-tripped through the spec's serializers."""
    half = len(values) // 2
    whole = spec.update_fn(spec.zero_fn(), values)
    left = spec.update_fn(spec.zero_fn(), values[:half])
    right = spec.update_fn(spec.zero_fn(), values[half:])
    merged = spec.merge_fn(left, right)
    out = []
    for state in (whole, merged):
        blob = spec.to_bytes_fn(state)
        back = spec.from_bytes_fn(blob)
        assert spec.to_bytes_fn(back) == blob
        out.append(back)
    return out


@pytest.mark.parametrize(
    "name,factory,values",
    BYTE_EXACT + BOUNDED,
    ids=[p[0] for p in BYTE_EXACT + BOUNDED],
)
def test_spec_defaults_resolve_to_the_sketch_class(name, factory, values):
    spec = factory()
    assert spec.name == name
    zero = spec.zero_fn()
    assert spec.from_bytes_fn == type(zero).from_bytes
    assert spec.to_bytes_fn(zero) == zero.to_bytes()


@pytest.mark.parametrize(
    "name,factory,values", BYTE_EXACT, ids=[p[0] for p in BYTE_EXACT]
)
def test_split_merge_is_byte_exact(name, factory, values):
    spec = factory()
    whole, merged = _build(spec, values)
    assert spec.to_bytes_fn(whole) == spec.to_bytes_fn(merged)


def test_kll_split_merge_within_rank_bound():
    whole, merged = _build(kll_spec(200), DOUBLES)
    assert whole.n == merged.n == len(DOUBLES)
    srt = np.sort(DOUBLES)
    for q in (0.01, 0.1, 0.5, 0.9, 0.99):
        for s in (whole, merged):
            rank = np.searchsorted(srt, s.quantile(q)) / len(srt)
            assert abs(rank - q) <= 5.0 / 200


def test_tdigest_split_merge_within_bound():
    whole, merged = _build(tdigest_spec(100.0), DOUBLES)
    srt = np.sort(DOUBLES)
    for q in (0.01, 0.1, 0.5, 0.9, 0.99):
        for s in (whole, merged):
            rank = np.searchsorted(srt, s.quantile(q)) / len(srt)
            assert abs(rank - q) <= 0.01


def test_mg_split_merge_within_bound():
    whole, merged = _build(mg_spec(32), ITEMS)
    items, counts = np.unique(ITEMS, return_counts=True)
    true = dict(zip(items, counts))
    for s in (whole, merged):
        assert s.n_items == len(ITEMS)
        assert s.error_bound <= len(ITEMS) // (32 + 1)
        for item, est in s.top(32):
            assert est <= true[item] <= est + s.error_bound
    # every item above the guarantee threshold is in both summaries
    heavy = {i for i, c in true.items() if c > len(ITEMS) / (32 + 1)}
    assert heavy <= {i for i, _ in whole.top(32)}
    assert heavy <= {i for i, _ in merged.top(32)}
