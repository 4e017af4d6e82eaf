"""Distributed sketch aggregation on Spark DataFrames.

The execution shape (SURVEY.md §3.4, §4.3) is the same for every sketch:

  scan (Catalyst prunes columns/filters)
    -> [optional salted repartition for skewed keys]
    -> mapInPandas: per-input-partition partial sketches   [level 0]
    -> groupBy(bucket or group keys).applyInPandas(merge)  [level 1]
    -> single final merge                                  [level 2]
    -> scalar estimate

The level-0 ``mapInPandas`` pre-combine is the load-bearing piece: Spark's
``applyInPandas`` has no map-side combine, so without it a 10^12-row job
would shuffle raw rows. With it, only O(partitions x groups) sketch blobs
ever cross the shuffle (SURVEY.md §4.2, §7.3 risk 4).

Everything row-wise happens in numpy over Arrow batches; the only Python
crossing is the sketch kernel itself. Hashing defaults to Spark's built-in
``xxhash64`` so the hot path stays inside whole-stage codegen; pass
``hash_mode='murmur3'`` for postgresql-hll spec-parity hashing (vectorized
numpy murmur3 inside the same Arrow batch loop).

One generic scaffold (:class:`SketchSpec` + :func:`sketch_partials` +
:func:`merge_sketch_partials`) serves HLL, CMS, Bloom, KLL and t-digest —
each sketch only supplies zero/update/merge/serialize.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sketchlib.hashing import murmur3_x64_128_low64
from ..sketchlib.hll import HllConfig, HllSketch, hll_union_all
from .scanutil import estimated_splits

DEFAULT_SALT_SEED = 0x5B1FF00D


# ---------------------------------------------------------------------------
# generic mergeable-sketch contract


def _merge(a, b):
    return a.merge(b)


def _to_bytes(state) -> bytes:
    return state.to_bytes()


def _add_hashed(state, values: np.ndarray):
    """update_fn of the hash-based sketches (HLL, CMS, Bloom, AMS, theta)."""
    state.add_hashed(values)
    return state


def _update(state, values: np.ndarray):
    """update_fn of the value-ordered and item sketches (KLL, t-digest,
    Misra-Gries, bottom-k)."""
    state.update(values)
    return state


@dataclass
class SketchSpec:
    """zero/update/merge/serialize contract every sketch satisfies.

    update receives a numpy array of the projected value column (already
    hashed for hash-based sketches, raw doubles for quantile sketches).
    States are opaque Python objects; serialize_fn must produce bytes whose
    merge is associative (byte-exact for HLL/CMS/Bloom, bound-preserving
    for KLL/t-digest — SURVEY.md §2.3).

    The serialization and merge fields default to the sketchlib
    convention (``state.merge(other)``, ``state.to_bytes()``,
    ``type(state).from_bytes(blob)``); the deserializer is resolved
    once here, from one ``zero_fn()`` state, never per blob.
    """

    name: str
    zero_fn: Callable[[], Any]
    update_fn: Callable[[Any, np.ndarray], Any]
    merge_fn: Callable[[Any, Any], Any] = _merge
    to_bytes_fn: Callable[[Any], bytes] = _to_bytes
    from_bytes_fn: Callable[[bytes], Any] | None = None

    def __post_init__(self) -> None:
        if self.from_bytes_fn is None:
            self.from_bytes_fn = type(self.zero_fn()).from_bytes


def hll_spec(cfg: HllConfig | None = None) -> SketchSpec:
    cfg = cfg or HllConfig()
    return SketchSpec(
        "hll", lambda: HllSketch.empty(cfg), _add_hashed, merge_fn=HllSketch.union
    )


# ---------------------------------------------------------------------------
# projection helpers


def _value_expr(df: DataFrame, col, hash_mode: str | None):
    """Column projected into the Python worker.

    'xxhash64' hashes JVM-side (whole-stage codegen) so Python only ever
    sees int64; 'murmur3' ships the raw column and hashes vectorized in
    numpy; None ships the raw column unhashed (quantile sketches).
    ``col`` may be a list of columns for composite-key distinct
    (COUNT(DISTINCT a, b, ...)) — xxhash64 hashes the tuple JVM-side;
    murmur3 hashes a length-prefixed per-field encoding (``len:value``
    per field, ``N`` for null), so field boundaries are unambiguous even
    when values contain the old NUL separator or render identically
    when adjacent fields are re-split differently.
    """
    if isinstance(col, (list, tuple)):
        if hash_mode == "xxhash64":
            return F.xxhash64(*[F.col(c) for c in col]).alias("__v")
        parts: list = []
        for c in col:
            s = F.col(c).cast("string")
            parts.append(
                F.when(s.isNull(), F.lit("N")).otherwise(
                    F.concat(F.length(s).cast("string"), F.lit(":"), s)
                )
            )
        return F.concat(*parts).alias("__v")
    if hash_mode == "xxhash64":
        return F.xxhash64(F.col(col)).alias("__v")
    return F.col(col).alias("__v")


def _not_null_cond(col):
    if isinstance(col, (list, tuple)):
        cond = F.col(col[0]).isNotNull()
        for c in col[1:]:
            cond = cond & F.col(c).isNotNull()
        return cond
    return F.col(col).isNotNull()


def _arrow_values(arr, hash_mode: str | None) -> np.ndarray:
    """Values for the sketch update straight from one Arrow array.

    xxhash64: zero-copy int64 view. murmur3 over strings: hash from the
    Arrow offsets/data buffers (already utf-8 — no encode, no per-row
    PyObjects). Falls back to the pandas-equivalent materialization for
    anything else (raw item sketches, float quantile inputs).
    """
    import pyarrow as pa

    from ..sketchlib.hashing import murmur3_low64_from_buffers

    if arr.null_count:
        # level-0 projections filter nulls JVM-side; keep a guard for
        # direct callers
        arr = arr.drop_null()
    if hash_mode == "xxhash64":
        return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    if hash_mode == "murmur3":
        if (
            pa.types.is_string(arr.type)
            or pa.types.is_large_string(arr.type)
            or pa.types.is_binary(arr.type)
            or pa.types.is_large_binary(arr.type)
        ):
            off_dtype = (
                np.int64
                if (
                    pa.types.is_large_string(arr.type)
                    or pa.types.is_large_binary(arr.type)
                )
                else np.int32
            )
            buffers = arr.buffers()
            offsets = np.frombuffer(buffers[1], dtype=off_dtype)[
                arr.offset : arr.offset + len(arr) + 1
            ].astype(np.int64)
            data = np.frombuffer(buffers[2], dtype=np.uint8)
            return murmur3_low64_from_buffers(
                data, offsets[:-1], np.diff(offsets)
            ).view(np.int64)
        return murmur3_x64_128_low64(arr.to_pandas()).view(np.int64)
    if hash_mode == "raw":
        return arr.to_numpy(zero_copy_only=False)
    return arr.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)


def _batch_values(pdf: pd.DataFrame, hash_mode: str | None) -> np.ndarray:
    v = pdf["__v"]
    if hash_mode == "xxhash64":
        return v.to_numpy(dtype=np.int64)
    if hash_mode == "murmur3":
        return murmur3_x64_128_low64(v).view(np.int64)
    if hash_mode == "raw":
        # item-identity sketches (Misra-Gries): the summary must carry
        # the values themselves, so ship them untouched
        return v.to_numpy()
    return v.to_numpy(dtype=np.float64)


# ---------------------------------------------------------------------------
# level 0: per-input-partition partial sketches (the map-side combine)


def sketch_partials(
    df: DataFrame,
    col: str,
    spec: SketchSpec,
    by: list[str] | None = None,
    hash_mode: str | None = "xxhash64",
    merge_buckets: int = 16,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Build one partial sketch per (input partition, group) via mapInPandas.

    Global (by=None) output: ``bucket int, sketch binary, rows_seen long``
    — bucket spreads the level-1 merge across ``merge_buckets`` reducers
    so the tree merge has no single hot reducer (north_rule).
    Grouped output: ``*by, sketch binary, rows_seen long``.
    """
    by = list(by or [])
    salt_cols = list(col) if isinstance(col, (list, tuple)) else [col]
    if salt_partitions:
        # explicit salted repartition for skewed keys: spreads one hot key
        # across salt_partitions partitions; partials re-merge in level 1
        df = df.repartition(
            salt_partitions,
            F.xxhash64(*[F.col(c) for c in salt_cols], F.lit(DEFAULT_SALT_SEED)),
        )
    proj = df.where(_not_null_cond(col)).select(
        *by, _value_expr(df, col, hash_mode)
    )
    # NOTE (r6): a fan_out_scan here was A/B-tested and REVERTED —
    # at bench scale the level-0 kernel work per query is tens of ms,
    # so 32-way fan-out just multiplies Python-worker invocations and
    # the number of partials the merge stages must union (KLL/t-digest
    # merges are themselves Python): hll_custkey_by_month 0.64->1.11 s,
    # kll_quantiles_price 0.49->1.22 s. Large inputs already scan wide.

    if not by:
        out_schema = StructType(
            [
                StructField("bucket", LongType()),
                StructField("sketch", BinaryType()),
                StructField("rows_seen", LongType()),
            ]
        )

        # the global build consumes raw Arrow RecordBatches (mapInArrow):
        # no Arrow->pandas object conversion, no per-row utf-8 encode —
        # int64 hashed columns arrive as zero-copy numpy views and
        # strings are murmur-hashed straight from the Arrow offsets/data
        # buffers. On the 16M-row flagship this removes the largest
        # remaining per-doc memory traffic in the Python worker.
        import pyarrow as pa

        arrow_schema = pa.schema(
            [
                ("bucket", pa.int64()),
                ("sketch", pa.binary()),
                ("rows_seen", pa.int64()),
            ]
        )

        def build_global(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            state = spec.zero_fn()
            rows = 0
            for rb in batches:
                if not rb.num_rows:
                    continue
                vals = _arrow_values(rb.column(0), hash_mode)
                state = spec.update_fn(state, vals)
                # count sketched values, not batch rows: the projection
                # filters nulls JVM-side, but a direct caller may feed
                # batches with nulls that _arrow_values drops
                rows += len(vals)
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else 0
            yield pa.RecordBatch.from_pydict(
                {
                    "bucket": [pid % merge_buckets],
                    "sketch": [spec.to_bytes_fn(state)],
                    "rows_seen": [rows],
                },
                schema=arrow_schema,
            )

        return proj.mapInArrow(build_global, out_schema)

    key_fields = [proj.schema[k] for k in by]
    out_schema = StructType(
        key_fields
        + [StructField("sketch", BinaryType()), StructField("rows_seen", LongType())]
    )

    # bound the per-partition combine map: beyond this many concurrent
    # groups, flush partials early (the merge stage unions duplicates, so
    # multiple blobs per (partition, group) stay correct) — keeps worker
    # memory O(max_groups * sketch_size) at any group cardinality
    max_groups = 65536

    def build_grouped(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, Any] = {}
        counts: dict[tuple, int] = {}

        def flush() -> pd.DataFrame:
            keys = list(states)
            data = {k: [key[i] for key in keys] for i, k in enumerate(by)}
            data["sketch"] = [spec.to_bytes_fn(states[k]) for k in keys]
            data["rows_seen"] = [counts[k] for k in keys]
            states.clear()
            counts.clear()
            return pd.DataFrame(data)

        for pdf in batches:
            if not len(pdf):
                continue
            # hash/project the whole batch ONCE (one vectorized kernel
            # call), then slice per group — the per-group work is a
            # numpy take, not a murmur invocation
            batch_vals = _batch_values(pdf, hash_mode)
            for key, idx in pdf.groupby(by, sort=False, dropna=False).indices.items():
                key = key if isinstance(key, tuple) else (key,)
                vals = batch_vals[idx]
                if key in states:
                    states[key] = spec.update_fn(states[key], vals)
                    counts[key] += len(idx)
                else:
                    states[key] = spec.update_fn(spec.zero_fn(), vals)
                    counts[key] = len(idx)
            if len(states) > max_groups:
                yield flush()
        if states:
            yield flush()

    return proj.mapInPandas(build_grouped, out_schema)


# ---------------------------------------------------------------------------
# levels 1+2: tree merge of serialized partials


def _fold_blobs(spec: SketchSpec, blobs) -> Any:
    """Merge a sequence of serialized sketches into one state, skipping
    null blobs; None when there is none."""
    acc = None
    for blob in blobs:
        if blob is None:
            continue
        s = spec.from_bytes_fn(bytes(blob))
        acc = s if acc is None else spec.merge_fn(acc, s)
    return acc


def _merge_blobs(spec: SketchSpec, blobs: pd.Series) -> bytes:
    acc = _fold_blobs(spec, blobs)
    return spec.to_bytes_fn(acc if acc is not None else spec.zero_fn())


def merge_sketch_partials(
    partials: DataFrame,
    spec: SketchSpec,
    by: list[str] | None = None,
    two_level: bool | None = None,
) -> DataFrame:
    """Merge partials down to one sketch per group (or one total).

    Global: by default a single final merge stage — with the level-0
    pre-combine there is exactly ONE blob per input partition, so even a
    100k-partition scan yields only ~1 GB of sketch bytes at one reducer's
    input, and each extra merge level costs a full exchange+Python stage
    of latency. ``two_level=True`` (or auto, above 4096 partials) inserts
    the bucketed level-1 merge so no single reducer ever sees more than
    max(#partials/K, K) blobs — the shape to use when partials are huge
    (EXPLICIT-tier sketches) or the scan has >10^4 partitions.
    Grouped: one shuffle on the group keys — level 0 already collapsed
    each group to at most one blob per input partition.
    """
    by = list(by or [])
    if two_level is None and not by:
        # the split estimate only picks a topology (both are
        # value-identical); without statistics take the scale-safe one
        splits = estimated_splits(partials)
        two_level = splits is None or splits > 4096
    out_schema = StructType(
        ([partials.schema[k] for k in by] if by else [])
        + [StructField("sketch", BinaryType()), StructField("rows_seen", LongType())]
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = _merge_blobs(spec, pdf["sketch"])
        row = {k: [pdf[k].iloc[0]] for k in by}
        row["sketch"] = [merged]
        row["rows_seen"] = [int(pdf["rows_seen"].sum())]
        return pd.DataFrame(row)

    if by:
        # hash-repartition on the group keys + ONE mapInPandas call per
        # partition, instead of groupBy().applyInPandas: the latter
        # ships each group as its own Arrow batch and invokes the UDF
        # per group, whose per-call overhead dominates when groups are
        # small (r6: 0.68s -> 0.54s on the 80-group month query). Same
        # shuffle (AQE still coalesces the keyless-size repartition),
        # same result: every group's blobs co-locate, and the in-task
        # pandas groupby merges them with identical semantics
        # (dropna=False keeps null group keys, like applyInPandas).
        def merge_partition(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            frames = [pdf for pdf in batches if len(pdf)]
            if not frames:
                return
            pdf = (
                pd.concat(frames, ignore_index=True)
                if len(frames) > 1
                else frames[0]
            )
            rows: dict[str, list] = {k: [] for k in by}
            rows["sketch"] = []
            rows["rows_seen"] = []
            for key, idx in pdf.groupby(by, sort=False, dropna=False).indices.items():
                key = key if isinstance(key, tuple) else (key,)
                for i, k in enumerate(by):
                    rows[k].append(key[i])
                rows["sketch"].append(_merge_blobs(spec, pdf["sketch"].iloc[idx]))
                rows["rows_seen"].append(int(pdf["rows_seen"].iloc[idx].sum()))
            yield pd.DataFrame(rows)

        return partials.repartition(*[F.col(k) for k in by]).mapInPandas(
            merge_partition, out_schema
        )

    stage = partials
    if two_level:
        stage = partials.groupBy("bucket").applyInPandas(
            lambda pdf: pd.DataFrame(
                {
                    "sketch": [_merge_blobs(spec, pdf["sketch"])],
                    "rows_seen": [int(pdf["rows_seen"].sum())],
                }
            ),
            StructType(
                [
                    StructField("sketch", BinaryType()),
                    StructField("rows_seen", LongType()),
                ]
            ),
        )
    return (
        stage.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(merge_group, out_schema)
    )


def sketch_aggregate(
    df: DataFrame,
    col: str,
    spec: SketchSpec,
    by: list[str] | None = None,
    hash_mode: str | None = "xxhash64",
    merge_buckets: int = 16,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Full pipeline: level-0 partials -> tree merge -> one sketch row per
    group (columns: ``*by, sketch, rows_seen``)."""
    partials = sketch_partials(
        df, col, spec, by, hash_mode, merge_buckets, salt_partitions
    )
    return merge_sketch_partials(partials, spec, by)


# ---------------------------------------------------------------------------
# HLL high-level API


def hll_sketch_agg(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    cfg: HllConfig | None = None,
    hash_mode: str = "xxhash64",
    merge_buckets: int = 16,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Aggregate ``col`` into HLL sketch bytes (one row per group)."""
    return sketch_aggregate(
        df, col, hll_spec(cfg), by, hash_mode, merge_buckets, salt_partitions
    )


def hll_distinct(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    cfg: HllConfig | None = None,
    hash_mode: str = "xxhash64",
    merge_buckets: int = 16,
    salt_partitions: int | None = None,
    alias: str | None = None,
) -> DataFrame:
    """Approximate COUNT(DISTINCT col) [GROUP BY by].

    Exact whenever the per-group cardinality stays within the EXPLICIT
    tier (cfg.explicit_threshold); within 1.04/sqrt(2^log2m) relative
    error otherwise. Result column: ``alias`` or ``distinct_<col>``.
    """
    alias = alias or (
        "distinct_" + "_".join(col) if isinstance(col, (list, tuple))
        else f"distinct_{col}"
    )
    sketches = hll_sketch_agg(
        df, col, by, cfg, hash_mode, merge_buckets, salt_partitions
    )
    est = hll_estimate_udf()
    out = sketches.withColumn(alias, est(F.col("sketch")))
    keep = list(by or []) + [alias]
    return out.select(*keep)


def hll_estimate_udf():
    """Scalar pandas UDF: sketch bytes -> cardinality estimate (long)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def hll_estimate(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda b: HllSketch.from_bytes(bytes(b)).estimate())

    return hll_estimate


def hll_union_udf():
    """Scalar pandas UDF: union two sketch-bytes columns."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def hll_union_pair(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [hll_union_all([bytes(x), bytes(y)]) for x, y in zip(a, b)]
        )

    return hll_union_pair


def hll_intersect_udf():
    """Scalar pandas UDF: inclusion-exclusion |A ∩ B| estimate (double).

    Error compounds with both sketches' errors (README.md:74-81 caveat)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from ..sketchlib.hll import hll_intersect_estimate

    @pandas_udf(DoubleType())
    def hll_intersect(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [hll_intersect_estimate(bytes(x), bytes(y)) for x, y in zip(a, b)]
        )

    return hll_intersect


def hll_overlap_matrix(
    df: DataFrame,
    col: str,
    group_col: str,
    cfg: HllConfig | None = None,
    hash_mode: str = "xxhash64",
    merge_buckets: int = 16,
) -> DataFrame:
    """All-pairs audience overlap from ONE scan of the base table.

    Builds one HLL sketch per ``group_col`` cell (the usual two-level
    blob build), then answers every pairwise
    union / intersection / Jaccard estimate from the k sketch blobs
    alone — the second-order query sketches exist for: re-running
    COUNT(DISTINCT) per pair needs O(k^2) passes or a k-way expansion
    of the base table, this needs the one grouped build plus a k-row
    self-join (broadcast by construction; k = group count).

    Output, one row per unordered pair (g_a < g_b):
    (g_a, g_b, distinct_a, distinct_b, union_est, intersect_est,
    jaccard_est). Intersection is inclusion-exclusion, so its error
    compounds both sketches' errors (small-overlap caveat,
    README.md:74-81); everything is EXACT while every group and every
    pairwise union stays within the EXPLICIT tier — the regime the
    oracle tests pin.

    Plan shape: the base table is scanned exactly ONCE (a self-join on
    the grouped agg would recompute the whole build — Spark does not
    reuse the exchange across the broadcast/probe sides). The g-row
    blob frame is gathered into a single ``applyInPandas`` task (same
    data volume a broadcast would move) which emits the full matrix;
    the pair arithmetic is O(groups^2) over KB blobs, trivially small
    wherever an all-pairs matrix is a sensible ask.
    """
    from ..sketchlib.hll import hll_intersect_estimate

    def pair(a: HllSketch, a_blob: bytes, b: HllSketch, b_blob: bytes):
        return (
            a.clone().union(b).estimate(),
            hll_intersect_estimate(a_blob, b_blob),
        )

    return _overlap_matrix(
        df, col, group_col, hll_spec(cfg), hash_mode, LongType(),
        HllSketch.estimate, pair,
    )


def _overlap_matrix(
    df: DataFrame,
    col: str,
    group_col: str,
    spec: SketchSpec,
    hash_mode: str,
    est_type,
    estimate: Callable[[Any], Any],
    pair: Callable[[Any, bytes, Any, bytes], tuple],
) -> DataFrame:
    """All-pairs matrix shared by the HLL and theta overlap operators.

    ``estimate(state)`` gives a group's distinct estimate and
    ``pair(a, a_blob, b, b_blob)`` a pair's (union, intersection)
    estimates; ``est_type`` types distinct_a/distinct_b/union_est.
    """
    # level-0 partials only: the per-group tree merge would add a
    # keyed shuffle + a Python merge stage whose entire output is
    # immediately funneled into the ONE matrix-emit task below — merge
    # the (partition x group) blobs there instead (same single-reducer
    # funnel either way; both unions are order-insensitive)
    sk = sketch_partials(df, col, spec, [group_col], hash_mode)
    gtype = sk.schema[group_col].dataType
    out_schema = StructType(
        [StructField("g_a", gtype), StructField("g_b", gtype)]
        + [
            StructField(name, est_type)
            for name in ("distinct_a", "distinct_b", "union_est")
        ]
        + [
            StructField(name, DoubleType())
            for name in ("intersect_est", "jaccard_est")
        ]
    )

    def emit_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # a NULL group key pairs with nothing (SQL g_a < g_b semantics)
        pdf = pdf[pdf[group_col].notna()]
        group_blobs: dict = {}
        for g, blob in zip(pdf[group_col], pdf["sketch"]):
            group_blobs.setdefault(g, []).append(blob)
        groups = sorted(group_blobs)
        sketches = [_fold_blobs(spec, group_blobs[g]) for g in groups]
        blobs = [spec.to_bytes_fn(s) for s in sketches]
        ests = [estimate(s) for s in sketches]
        rows = []
        for i in range(len(groups)):
            for j in range(i + 1, len(groups)):
                union, inter = pair(sketches[i], blobs[i], sketches[j], blobs[j])
                rows.append(
                    (
                        groups[i],
                        groups[j],
                        ests[i],
                        ests[j],
                        union,
                        inter,
                        inter / union if union > 0 else 0.0,
                    )
                )
        return pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return (
        sk.groupBy(F.lit(0).alias("__all"))
        .applyInPandas(lambda _, pdf: emit_pairs(pdf), out_schema)
    )
