"""Sources: the deterministic synthetic pages table.

The reference has no I/O layer (its only "source" is bytes-from-file,
/root/reference/README.md:144-157); all scan capability here is Spark's
parquet reader (Catalyst handles predicate pushdown / column pruning /
partition pruning for free — SURVEY.md §4.2). An Iceberg writer is used
when a catalog is configured, else parquet (SURVEY.md §7.3 risk 6).

The synthetic ``pages`` table matches BASELINE.json input_hint exactly:
(url string, warc_ts timestamp, html binary, text string, lang string),
with the per-row invariant that ``text`` is a byte-identical
deterministic function of ``url`` (FIXTURES.md §1): same url -> same
text bytes across runs, scales, and partitionings.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.extract import wrap_html_py

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

_LANGS = ["en", "zh", "de", "fr", "es", "ru", "ja", "other"]
# cumulative permille cutoffs, en-skewed (FIXTURES.md §1)
_LANG_CUTS = [450, 600, 700, 790, 870, 930, 980, 1000]

_LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "eu fugiat nulla pariatur excepteur sint occaecat cupidatat non proident "
    "sunt culpa qui officia deserunt mollit anim id est laborum"
).split()


_WORD_IDX_BASE = np.arange(256, dtype=np.int64) * 2654435761 % len(_LOREM)


def _text_from_digest(digest: bytes) -> str:
    head = digest[:8].hex()
    n_words = 5 + digest[8] % 200
    # counter-based word selection keyed on url, independent of row order
    seed = int.from_bytes(digest[9:13], "big")
    idx = (seed + _WORD_IDX_BASE[:n_words]) % len(_LOREM)
    return f"page {head} " + " ".join([_LOREM[i] for i in idx.tolist()])


def generate_pages_pdf(
    n_rows: int,
    n_hosts: int = 1000,
    dup_rate: float = 0.2,
    seed: int = 42,
    total_rows: int | None = None,
) -> pd.DataFrame:
    """Deterministic Common-Crawl-style pages batch (FIXTURES.md §1).

    Hosts are Zipf(1.2)-skewed (exercises salted repartitioning);
    duplicate urls arise at roughly ``dup_rate`` because the url universe
    is sized from ``total_rows`` (the whole table, not this slice — so
    distributed generation keeps the same universe in every slice).
    """
    total_rows = total_rows or n_rows
    rng = np.random.default_rng(seed)
    hosts = (rng.zipf(1.2, size=n_rows) - 1) % n_hosts
    path_space = max(4, int(total_rows * (1 - dup_rate)) // n_hosts + 1)
    path_no = rng.integers(0, path_space, size=n_rows)
    urls = [f"https://host{h:05d}.example.com/page/{p}" for h, p in zip(hosts, path_no)]
    digests = [hashlib.sha256(u.encode()).digest() for u in urls]
    texts = [_text_from_digest(d) for d in digests]
    lang_bucket = np.array(
        [int.from_bytes(d[13:15], "big") % 1000 for d in digests]
    )
    langs = [
        _LANGS[i] for i in np.searchsorted(_LANG_CUTS, lang_bucket, side="right")
    ]
    ts = pd.Timestamp("2024-01-01T00:00:00") + pd.to_timedelta(
        np.arange(n_rows), unit="s"
    )
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": [
                wrap_html_py(t, lang=lg).encode()
                for t, lg in zip(texts, langs)
            ],
            "text": texts,
            "lang": langs,
        }
    )


def generate_pages(
    spark: SparkSession,
    n_rows: int,
    n_hosts: int = 1000,
    dup_rate: float = 0.2,
    seed: int = 42,
    n_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic pages generator.

    Each partition generates its slice with a partition-derived seed, so
    the table is reproducible at any parallelism and any scale without a
    driver-side materialization (the 100 TB analogue: generation itself
    is embarrassingly parallel).
    """
    n_partitions = n_partitions or max(1, n_rows // 50_000)
    bounds = np.linspace(0, n_rows, n_partitions + 1).astype(np.int64)
    slices = spark.createDataFrame(
        pd.DataFrame(
            {
                "start": bounds[:-1],
                "end": bounds[1:],
                "pseed": [seed + 7919 * i for i in range(n_partitions)],
            }
        )
    ).repartition(n_partitions, "pseed")

    chunk = 50_000  # bounded per-yield memory: Arrow streams small batches

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                start, end = int(row["start"]), int(row["end"])
                pseed = int(row["pseed"])
                for piece, lo in enumerate(range(start, end, chunk)):
                    n = min(chunk, end - lo)
                    out = generate_pages_pdf(
                        n,
                        n_hosts,
                        dup_rate,
                        pseed + 104729 * piece,
                        total_rows=n_rows,
                    )
                    out["warc_ts"] = out["warc_ts"] + pd.to_timedelta(lo, unit="s")
                    yield out

    return slices.mapInPandas(gen, PAGES_SCHEMA)


def write_table(df: DataFrame, path_or_table: str, partition_by: list[str] | None = None):
    """Sink: Iceberg when a catalog is configured, else parquet path."""
    spark = df.sparkSession
    has_iceberg = any(
        k.startswith("spark.sql.catalog.")
        for k, _ in spark.sparkContext.getConf().getAll()
    )
    if "/" not in path_or_table and has_iceberg:
        writer = df.writeTo(path_or_table)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
    else:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path_or_table)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int = 64,
    sort_by: list[str] | None = None,
) -> None:
    """Save as a BUCKETED managed table (hash-bucketed on the join key).

    At 100 TB this is how the big fact-fact joins stop shuffling: two
    tables bucketed (and optionally sorted) on the same key with the
    same bucket count sort-merge-join with NO Exchange on either side —
    the co-location is established once at write time and reused by
    every subsequent join/aggregation on that key (asserted by
    tests/test_bucketed_join.py on the physical plan).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)
