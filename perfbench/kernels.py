"""L0 probe: the public sketchlib / extraction kernels, in this process,
on one core, over a sample of the workload's own inputs. No Spark.

Each rate is the median of several timed repeats. The same rates turn a
unit's row counts into kernel core-seconds, the numerator of
``boundary.kernel_frac``.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

from hll_spark.operators.extractkernel import extract_text_spans
from hll_spark.sketchlib.cms import CountMinSketch
from hll_spark.sketchlib.hashing import murmur3_low64_from_buffers
from hll_spark.sketchlib.hll import HllConfig, HllSketch
from hll_spark.sketchlib.kll import KllSketch

CFG = HllConfig(log2m=14, regwidth=5)
BATCH = 131_072  # rows per Arrow batch, as the Spark session is configured
REPEATS = 5


def _timed(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _batched(fn, values):
    def run():
        for i in range(0, len(values), BATCH):
            fn(values[i : i + BATCH])
    return run


def _per_call_us(fn, calls: int) -> float:
    def run():
        for _ in range(calls):
            fn()
    return _timed(run) / calls * 1e6


def _buffers(arr: pa.Array):
    """(data, starts, lens) of a string/binary Arrow array."""
    arr = arr.cast(pa.large_binary()) if not pa.types.is_large_binary(arr.type) else arr
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    return np.frombuffer(bufs[2], dtype=np.uint8), offs[:-1], np.diff(offs), offs


def probe(hashes: np.ndarray, small_hashes: np.ndarray, numbers: np.ndarray,
          strings: pa.Array, html: pa.Array) -> dict[str, float]:
    """Rates of every L0 kernel. ``hashes``: int64 values as the JVM hash
    ships them; ``small_hashes``: one small group's values (an EXPLICIT or
    SPARSE sketch); ``numbers``: a quantile-sketch input column;
    ``strings``: a string column the murmur3 path would hash; ``html``:
    documents for the extraction kernel."""
    out: dict[str, float] = {}
    hashes = np.ascontiguousarray(hashes, dtype=np.int64)
    n = len(hashes)

    def add_all():
        s = HllSketch.empty(CFG)
        _batched(s.add_hashed, hashes)()
    out["sketchlib.hll.add_hashed.mrows_s"] = n / _timed(add_all) / 1e6

    full = HllSketch.empty(CFG)
    full.add_hashed(hashes)
    small = HllSketch.empty(CFG)
    small.add_hashed(np.ascontiguousarray(small_hashes, dtype=np.int64))
    for kind, sk in (("full", full), ("small", small)):
        blob = sk.to_bytes()
        out[f"sketchlib.hll.to_bytes_{kind}.us"] = _per_call_us(sk.to_bytes, 50)
        out[f"sketchlib.hll.from_bytes_{kind}.us"] = _per_call_us(
            lambda b=blob: HllSketch.from_bytes(b), 50
        )
        # in-place union into an accumulator of the same tier: the work
        # per call stays constant because the union is idempotent
        acc, other = sk.clone(), sk.clone()
        out[f"sketchlib.hll.union_{kind}.us"] = _per_call_us(
            lambda a=acc, o=other: a.union(o), 50
        )

    numbers = np.ascontiguousarray(numbers, dtype=np.float64)

    def kll_all():
        _batched(KllSketch(200).update, numbers)()
    out["sketchlib.kll.update.mrows_s"] = len(numbers) / _timed(kll_all) / 1e6

    def cms_all():
        _batched(CountMinSketch(5, 2048).add_hashed, hashes)()
    out["sketchlib.cms.add_hashed.mrows_s"] = n / _timed(cms_all) / 1e6

    data, starts, lens, _ = _buffers(strings)

    def murmur_all():
        for i in range(0, len(lens), BATCH):
            murmur3_low64_from_buffers(data, starts[i : i + BATCH], lens[i : i + BATCH])
    out["sketchlib.hashing.murmur3.mrows_s"] = len(lens) / _timed(murmur_all) / 1e6

    hdata, _, _, hoffs = _buffers(html)
    out["extractkernel.extract_spans.docs_s"] = len(html) / _timed(
        lambda: extract_text_spans(hdata, hoffs)
    )
    return out


def core_seconds(rates: dict[str, float], work: dict[str, float]) -> float:
    """Single-core kernel seconds for ``work`` (rate name -> items)."""
    total = 0.0
    for name, items in work.items():
        rate = rates[name] * (1e6 if name.endswith(".mrows_s") else 1.0)
        total += items / rate
    return total
