"""Fixture cache owned by the benchmark.

Every workload input lives under ``perfbench/.cache/fixtures/<key>/``,
where the key names the rows, the seed, the generation partitions and a
fingerprint of the generator source. A change to any generator (or to
this file) changes the key, so stale data is regenerated, never reused.
Beside the data sits ``answers.json``: the exact answers the correctness
gates compare against, computed once from the data by DuckDB (or by
``extract_text_batch`` for the extraction workload), never by the code
under test. ``manifest.json`` is written last and records the data file
sizes; a directory without it, or whose files no longer match it, is
treated as missing.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
SF_DIR = os.path.join(HERE, "data", "sf0.1")
SF_TABLES = ["customer", "documents", "embeddings", "events", "lineitem", "orders", "part"]

# pages generator constants, as in hll_spark.sources.tables.generate_pages
_CHUNK = 50_000
_N_HOSTS = 1000
_DUP_RATE = 0.2
# fixtures kept per workload; older seeds are evicted first
KEEP_PER_WORKLOAD = 12


def _source_fingerprint() -> str:
    from hll_spark.operators import extract
    from hll_spark.sources import tables

    h = hashlib.sha256()
    for mod in (tables, extract):
        h.update(inspect.getsource(mod).encode())
    with open(__file__, "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:12]


def fixture_dir(name: str, key: str) -> str:
    return os.path.join(CACHE, "fixtures", f"{name}-{key}-{_source_fingerprint()}")


def _data_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "data", "*.parquet")))


def _manifest(files: list[str]) -> dict:
    return {os.path.basename(f): os.path.getsize(f) for f in files}


def load(path: str) -> dict | None:
    """Answers of a complete fixture, or None when it must be (re)built."""
    try:
        with open(os.path.join(path, "manifest.json")) as fh:
            manifest = json.load(fh)
        with open(os.path.join(path, "answers.json")) as fh:
            answers = json.load(fh)
    except (OSError, ValueError):
        return None
    if manifest != _manifest(_data_files(path)):
        return None
    return answers


def save_answers(path: str, answers: dict) -> None:
    tmp = os.path.join(path, "answers.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(answers, fh, sort_keys=True)
    os.replace(tmp, os.path.join(path, "answers.json"))


def ensure(name: str, key: str, build) -> tuple[str, dict, float]:
    """Return ``(path, answers, fixture_gen_s)``. ``build(data_dir)``
    writes the parquet files and returns the exact answers; it runs only
    when no complete fixture with this key exists (fixture_gen_s = 0)."""
    path = fixture_dir(name, key)
    answers = load(path)
    if answers is not None:
        os.utime(path)
        return path, answers, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "data"))
    answers = build(os.path.join(path, "data"))
    save_answers(path, answers)
    with open(os.path.join(path, "manifest.json"), "w") as fh:
        json.dump(_manifest(_data_files(path)), fh, sort_keys=True)
    _evict(name)
    return path, answers, time.perf_counter() - t0


def _evict(name: str) -> None:
    dirs = glob.glob(os.path.join(CACHE, "fixtures", f"{name}-*"))
    dirs.sort(key=os.path.getmtime, reverse=True)
    for old in dirs[KEEP_PER_WORKLOAD:]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# generators


def page_urls(rows: int, seed: int, parts: int):
    """The ``url`` column of ``generate_pages(spark, rows, seed=seed,
    n_partitions=parts)``, one pyarrow array per generation partition,
    without building the text and html columns the url workload never
    reads. Same random streams, same order (tests/test_perfbench.py
    checks equality against ``generate_pages_pdf``)."""
    bounds = np.linspace(0, rows, parts + 1).astype(np.int64)
    path_space = max(4, int(rows * (1 - _DUP_RATE)) // _N_HOSTS + 1)
    for i in range(parts):
        pseed = seed + 7919 * i
        start, end = int(bounds[i]), int(bounds[i + 1])
        chunks = []
        for piece, lo in enumerate(range(start, end, _CHUNK)):
            n = min(_CHUNK, end - lo)
            rng = np.random.default_rng(pseed + 104729 * piece)
            hosts = (rng.zipf(1.2, size=n) - 1) % _N_HOSTS
            path_no = rng.integers(0, path_space, size=n)
            host = pc.utf8_lpad(pa.array(hosts).cast(pa.string()), 5, "0")
            chunks.append(
                pc.binary_join_element_wise(
                    "https://host", host, ".example.com/page/",
                    pa.array(path_no).cast(pa.string()), "",
                )
            )
        yield pa.concat_arrays(chunks) if chunks else pa.array([], pa.string())


def write_urls(data_dir: str, rows: int, seed: int, parts: int) -> None:
    for i, urls in enumerate(page_urls(rows, seed, parts)):
        pq.write_table(
            pa.table({"url": urls}), os.path.join(data_dir, f"part-{i:05d}.parquet")
        )


def write_pages(spark, data_dir: str, rows: int, seed: int, parts: int, cols: list[str]) -> None:
    """Materialize columns of the library's own distributed generator."""
    from hll_spark.sources.tables import generate_pages

    tmp = data_dir + ".spark"
    generate_pages(spark, rows, seed=seed, n_partitions=parts).select(*cols).write.mode(
        "overwrite"
    ).parquet(tmp)
    for i, f in enumerate(sorted(glob.glob(os.path.join(tmp, "*.parquet")))):
        os.replace(f, os.path.join(data_dir, f"part-{i:05d}.parquet"))
    shutil.rmtree(tmp)


def duckdb_rows(sql: str, **tables: str) -> list[tuple]:
    """Run ``sql`` in DuckDB with each keyword bound to a parquet glob."""
    import duckdb

    con = duckdb.connect()
    try:
        for view, pattern in tables.items():
            con.sql(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{pattern}')")
        return con.sql(sql).fetchall()
    finally:
        con.close()


def sf_connection():
    import duckdb

    con = duckdb.connect()
    for t in SF_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def sf_fingerprint() -> str:
    h = hashlib.sha256()
    for t in SF_TABLES:
        with open(os.path.join(SF_DIR, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:12]
