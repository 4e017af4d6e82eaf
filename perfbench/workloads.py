"""The four workloads. Each is a closed loop with one client: a *unit*
is one pass over the workload's parts (one Spark action each), and the
next unit starts when the previous one has returned.

A workload supplies its fixture, its parts (``name -> build()``, where
``build`` makes the DataFrame through the library's public operators),
an untimed correctness check per part, the L0 probe inputs drawn from
its own data, and the kernel work one unit performs.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import fixtures

LOG2M = 14
SIGMA = 1.04 / math.sqrt(1 << LOG2M)  # published HLL relative standard error
KLL_K = 200
KLL_QS = [0.5, 0.9, 0.99]
CMS_DEPTH, CMS_WIDTH = 5, 2048
PROBE_ROWS = 1_000_000  # rows of a workload's own input the L0 probe uses


class CheckFailed(AssertionError):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _cfg():
    from hll_spark.sketchlib.hll import HllConfig

    return HllConfig(log2m=LOG2M, regwidth=5)


def _with_estimate(sketch_df):
    from pyspark.sql import functions as F

    from hll_spark.operators.agg import hll_estimate_udf

    return sketch_df.withColumn("est", hll_estimate_udf()(F.col("sketch")))


def _sample_html(seed: int, n: int = 2000) -> pa.Array:
    from hll_spark.sources.tables import generate_pages_pdf

    return pa.array(generate_pages_pdf(n, seed=seed)["html"].tolist(), pa.binary())


def _head(data_dir: str, columns: list[str], rows: int = PROBE_ROWS) -> pa.Table:
    """The first ``rows`` rows of a fixture. Like a scan task's sketch,
    the probe's sketch then starts EMPTY and is promoted to FULL."""
    tables, n = [], 0
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        tables.append(pq.read_table(f, columns=columns))
        n += tables[-1].num_rows
        if n >= rows:
            break
    return pa.concat_tables(tables).slice(0, rows)


def _murmur(strings: pa.Array) -> np.ndarray:
    from hll_spark.sketchlib.hashing import murmur3_x64_128_low64

    return murmur3_x64_128_low64(strings.to_pandas()).view(np.int64)


class Workload:
    name = ""
    rows = 0
    parts_gen = 16
    min_units = 1  # measured units per run, however long they take

    def __init__(self, seed: int, rows: int | None = None):
        self.seed = seed
        if rows:
            self.rows = rows
        self.path = ""
        self.answers: dict = {}

    # fixture ------------------------------------------------------------
    def fixture(self, spark) -> float:
        self.path, self.answers, gen_s = fixtures.ensure(
            self.name, f"r{self.rows}-s{self.seed}-p{self.parts_gen}",
            lambda data_dir: self.build_fixture(spark, data_dir),
        )
        return gen_s

    def data(self) -> str:
        return os.path.join(self.path, "data")

    def pin(self, key: str, value) -> None:
        """Record ``value`` the first time it is seen; later runs on the
        same fixture must reproduce it exactly."""
        pinned = self.answers.setdefault("pinned", {})
        if key not in pinned:
            pinned[key] = value
            fixtures.save_answers(self.path, self.answers)
        _require(pinned[key] == value, f"{key}: {value!r} != pinned {pinned[key]!r}")

    # to be provided ---------------------------------------------------------
    def build_fixture(self, spark, data_dir: str) -> dict:
        raise NotImplementedError

    def parts(self, spark) -> list[tuple[str, callable]]:
        raise NotImplementedError

    def check(self, part: str, rows: list) -> None:
        raise NotImplementedError

    def probe_inputs(self) -> dict:
        raise NotImplementedError

    def kernel_work(self) -> dict[str, float]:
        raise NotImplementedError

    def before_unit(self) -> None:
        pass


class UrlHllGlobal(Workload):
    """hll_sketch_agg(url, p=14, rw=5, xxhash64) + estimate: the flagship."""

    name = "url_hll_global"
    rows = 16_000_000
    parts_gen = 64
    # estimates of the pages url column at seed 42, p=14, rw=5, xxhash64
    PINNED = {(16_000_000, 42): 5_278_801}

    def build_fixture(self, spark, data_dir):
        fixtures.write_urls(data_dir, self.rows, self.seed, self.parts_gen)
        (exact, n), = fixtures.duckdb_rows(
            "SELECT count(DISTINCT url), count(*) FROM pages",
            pages=os.path.join(data_dir, "*.parquet"),
        )
        return {"exact": exact, "rows": n}

    def parts(self, spark):
        from hll_spark.operators.agg import hll_sketch_agg

        def build():
            pages = spark.read.parquet(self.data())
            return _with_estimate(
                hll_sketch_agg(pages, "url", cfg=_cfg(), hash_mode="xxhash64")
            ).select("est", "rows_seen")

        return [("url_hll", build)]

    def check(self, part, rows):
        (est, seen), = [tuple(r) for r in rows]
        exact = self.answers["exact"]
        _require(seen == self.rows, f"rows_seen {seen} != {self.rows}")
        _require(abs(est - exact) <= 3 * SIGMA * exact, f"estimate {est} vs exact {exact}")
        pinned = self.PINNED.get((self.rows, self.seed))
        _require(pinned is None or est == pinned, f"estimate {est} != pinned {pinned}")
        self.pin("estimate", est)

    def probe_inputs(self):
        urls = _head(self.data(), ["url"]).column("url").combine_chunks()
        hashes = _murmur(urls)
        return {
            "hashes": hashes, "small_hashes": hashes[:1000],
            "numbers": pc.utf8_length(urls).to_numpy().astype(np.float64),
            "strings": urls, "html": _sample_html(self.seed),
        }

    def kernel_work(self):
        return {"sketchlib.hll.add_hashed.mrows_s": self.rows}


class TextHllFused(Workload):
    """extract_sketch_agg(html) + estimate: extraction-kernel bound."""

    name = "text_hll_fused"
    rows = 100_000

    def build_fixture(self, spark, data_dir):
        from hll_spark.operators.extractkernel import extract_text_batch

        fixtures.write_pages(spark, data_dir, self.rows, self.seed, self.parts_gen, ["html"])
        seen = set()
        for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            for batch in pq.ParquetFile(f).iter_batches(batch_size=10_000, columns=["html"]):
                for text in extract_text_batch(batch.column(0).to_pylist(), as_bytes=True):
                    seen.add(hashlib.blake2b(text, digest_size=16).digest())
        return {"exact": len(seen)}

    def parts(self, spark):
        from hll_spark.operators.extract import extract_sketch_agg

        def build():
            pages = spark.read.parquet(self.data())
            return _with_estimate(extract_sketch_agg(pages, "html", cfg=_cfg())).select(
                "est", "rows_seen", "sketch"
            )

        return [("extract_hll", build)]

    def check(self, part, rows):
        (est, seen, blob), = [tuple(r) for r in rows]
        exact = self.answers["exact"]
        _require(seen == self.rows, f"rows_seen {seen} != {self.rows}")
        _require(abs(est - exact) <= 3 * SIGMA * exact, f"estimate {est} vs exact {exact}")
        self.pin("blob_sha256", hashlib.sha256(bytes(blob)).hexdigest())

    def probe_inputs(self):
        from hll_spark.operators.extractkernel import extract_text_batch

        # about one scan task's documents (5 tasks at the default size)
        html = _head(self.data(), ["html"], self.rows // 5).column("html").combine_chunks()
        texts = pa.array(extract_text_batch(html.to_pylist(), as_bytes=True), pa.binary())
        hashes = _murmur(texts)
        return {
            "hashes": hashes, "small_hashes": hashes[:1000],
            "numbers": pc.binary_length(html).to_numpy().astype(np.float64),
            "strings": texts, "html": html,
        }

    def kernel_work(self):
        return {
            "extractkernel.extract_spans.docs_s": self.rows,
            "sketchlib.hashing.murmur3.mrows_s": self.rows,
            "sketchlib.hll.add_hashed.mrows_s": self.rows,
        }


class PagesProfileGrouped(Workload):
    """The north-star companion questions: grouped HLL, KLL and a CMS."""

    name = "pages_profile_grouped"
    rows = 500_000
    TOP = 100

    def build_fixture(self, spark, data_dir):
        from pyspark.sql import functions as F

        fixtures.write_pages(
            spark, data_dir, self.rows, self.seed, self.parts_gen, ["url", "text", "lang"]
        )
        pages = os.path.join(data_dir, "*.parquet")
        by_host = fixtures.duckdb_rows(
            "SELECT split_part(url, '/', 3), count(DISTINCT url) FROM pages GROUP BY 1",
            pages=pages,
        )
        lengths = fixtures.duckdb_rows(
            "SELECT lang, length(text), count(*) FROM pages GROUP BY 1, 2", pages=pages
        )
        top = fixtures.duckdb_rows(
            f"SELECT url, count(*) c FROM pages GROUP BY url ORDER BY c DESC, url LIMIT {self.TOP}",
            pages=pages,
        )
        # the CMS is keyed by Spark's xxhash64 of the url; hash the
        # checked urls once here so the per-unit check launches no job
        hashed = spark.createDataFrame([(u,) for u, _ in top], "url string").select(
            "url", F.xxhash64("url").alias("h")
        ).collect()
        h_of = {r["url"]: r["h"] for r in hashed}
        return {
            "hosts": dict(by_host),
            "lengths": [list(r) for r in lengths],
            "top": [[u, c, h_of[u]] for u, c in top],
            "rows": sum(c for _, _, c in lengths),
        }

    def parts(self, spark):
        from pyspark.sql import functions as F

        from hll_spark.operators.agg import hll_distinct
        from hll_spark.operators.sketches import cms_sketch_agg, kll_quantiles
        from hll_spark.operators.url import url_host

        def pages():
            return spark.read.parquet(self.data())

        return [
            ("sketches.hll_by_host", lambda: hll_distinct(
                pages().withColumn("host", url_host("url")), "url", by=["host"],
                cfg=_cfg(), alias="distinct_url",
            )),
            ("sketches.kll_by_lang", lambda: kll_quantiles(
                pages().withColumn("text_len", F.length("text")), "text_len",
                KLL_QS, by=["lang"], k=KLL_K,
            )),
            ("sketches.cms_url", lambda: cms_sketch_agg(
                pages(), "url", depth=CMS_DEPTH, width=CMS_WIDTH
            )),
        ]

    def check(self, part, rows):
        if part == "sketches.hll_by_host":
            got = {r["host"]: r["distinct_url"] for r in rows}
            exact = self.answers["hosts"]
            _require(set(got) == set(exact), "host keys differ from DuckDB")
            # 1,000 groups are gated at once, so each gets 4 sigma (a
            # 3-sigma gate would fail some group for most seeds)
            bad = [h for h, e in exact.items() if abs(got[h] - e) > 4 * SIGMA * e]
            _require(not bad, f"host estimates outside 4 sigma: {bad[:5]}")
        elif part == "sketches.kll_by_lang":
            hist: dict[str, dict[int, int]] = {}
            for lang, length, c in self.answers["lengths"]:
                hist.setdefault(lang, {})[length] = c
            _require({r["lang"] for r in rows} == set(hist), "lang keys differ from DuckDB")
            for r in rows:
                lens = np.array(sorted(hist[r["lang"]]))
                cum = np.cumsum([hist[r["lang"]][v] for v in lens])
                n = cum[-1]
                for q in KLL_QS:
                    v = r[f"q{str(q).replace('.', '_')}"]
                    lo = cum[np.searchsorted(lens, v, "left") - 1] / n if v > lens[0] else 0.0
                    hi = cum[np.searchsorted(lens, v, "right") - 1] / n if v >= lens[0] else 0.0
                    err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
                    _require(err <= 5.0 / KLL_K, f"kll {r['lang']} q{q}: rank error {err:.4f}")
        else:
            from hll_spark.sketchlib.cms import CountMinSketch

            (blob, seen), = [(r["sketch"], r["rows_seen"]) for r in rows]
            n = self.answers["rows"]
            _require(seen == n, f"rows_seen {seen} != {n}")
            cms = CountMinSketch.from_bytes(bytes(blob))
            top = self.answers["top"]
            est = cms.query_hashed(np.array([h for _, _, h in top], dtype=np.int64))
            true = np.array([c for _, c, _ in top], dtype=np.int64)
            over = est.astype(np.int64) - true
            _require(bool((over >= 0).all()), "CMS underestimated a count")
            _require(over.mean() <= math.e * n / CMS_WIDTH, f"CMS mean overcount {over.mean()}")

    def probe_inputs(self):
        t = _head(self.data(), ["url", "text"])
        urls = t.column("url").combine_chunks()
        hashes = _murmur(urls)
        return {
            "hashes": hashes, "small_hashes": hashes[:1000],
            "numbers": pc.utf8_length(t.column("text")).to_numpy().astype(np.float64),
            "strings": urls, "html": _sample_html(self.seed),
        }

    def kernel_work(self):
        return {
            "sketchlib.hll.add_hashed.mrows_s": self.rows,
            "sketchlib.kll.update.mrows_s": self.rows,
            "sketchlib.cms.add_hashed.mrows_s": self.rows,
        }


# the original 16-query suite of bench.py, fixed so results stay comparable
BASE_QUERIES = [
    "hll_users_by_event_type",
    "hll_custkey_by_month",
    "hll_flagship_distinct_text",
    "cms_event_type_counts",
    "bloom_fk_prefilter",
    "kll_quantiles_price",
    "tdigest_quantiles_value",
    "exact_dedup_documents",
    "minhash_pairs_documents",
    "simhash_pairs_documents",
    "ann_top3",
    "ivf_ann_top3",
    "token_counts_documents",
    "pricing_summary",
    "join_mktsegment_orders",
    "window_top_order_per_cust",
]


def normalize(pdf):
    """Order-insensitive canonical form, as the oracle contract test uses."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def digest(pdf) -> str:
    """Digest of a normalized result; floats rounded to 9 significant
    digits, the oracle comparison's tolerance."""
    pdf = normalize(pdf)
    h = hashlib.sha256(json.dumps(list(pdf.columns)).encode())
    for col in pdf.columns:
        vals = [
            f"{v:.9g}" if isinstance(v, float) else repr(v) for v in pdf[col].tolist()
        ]
        h.update(json.dumps(vals).encode())
    return h.hexdigest()


class Base16(Workload):
    """bench.py's 16 base queries at sf0.1, once each per unit, in
    bench.py's order. The data and the order are fixed; the seed is
    unused (a seeded order moved the pass time and the peak RSS)."""

    name = "base16_sf01"
    rows = 0
    parts_gen = 1
    # two measured passes give each query a median of two
    min_units = 2

    def fixture(self, spark):
        import __spark_entry__ as entry

        oracle = entry.oracle_sql()
        sql = json.dumps({q: oracle.get(q) for q in BASE_QUERIES}).encode()
        key = f"sf{fixtures.sf_fingerprint()}-o{hashlib.sha256(sql).hexdigest()[:12]}"
        self.path, self.answers, gen_s = fixtures.ensure(
            self.name, key, lambda _: self.build_fixture(oracle)
        )
        self.rows = self.answers["rows"]
        return gen_s

    def build_fixture(self, oracle):
        con = fixtures.sf_connection()
        try:
            answers = {}
            for q in BASE_QUERIES:
                if q in oracle:
                    pdf = normalize(con.sql(oracle[q]).df())
                    answers[q] = {"columns": list(pdf.columns),
                                  "rows": pdf.astype(object).values.tolist()}
            rows = sum(
                con.sql(f"SELECT count(*) FROM {t}").fetchone()[0] for t in fixtures.SF_TABLES
            )
        finally:
            con.close()
        return {"oracle": answers, "rows": rows}

    def before_unit(self):
        from hll_spark.operators import dedup

        dedup.clear_minhash_cache()

    def parts(self, spark):
        import __spark_entry__ as entry

        qs = entry.queries()
        return [(f"query.{q}", lambda q=q: qs[q](spark, fixtures.SF_DIR)) for q in BASE_QUERIES]

    def check(self, part, rows):
        import pandas as pd

        q = part.split(".", 1)[1]
        pdf = pd.DataFrame([r.asDict() for r in rows]) if rows else pd.DataFrame()
        want = self.answers["oracle"].get(q)
        if want is not None:
            _require(sorted(pdf.columns) == want["columns"], f"{q}: columns differ")
            got = normalize(pdf).astype(object).values.tolist()
            _require(len(got) == len(want["rows"]), f"{q}: {len(got)} vs {len(want['rows'])} rows")
            for g, w in zip(got, want["rows"]):
                _require(all(values_equal(a, b) for a, b in zip(g, w)), f"{q}: {g} != {w}")
        self.pin(f"digest.{q}", digest(pdf) if len(pdf.columns) else "empty")

    def probe_inputs(self):
        def col(table, c):
            return pq.read_table(os.path.join(fixtures.SF_DIR, f"{table}.parquet"), columns=[c]).column(c)

        from hll_spark.sketchlib.hashing import hash64_long

        users = col("events", "user_id").to_numpy()
        hashes = hash64_long(users).view(np.int64)
        return {
            "hashes": hashes, "small_hashes": hash64_long(np.unique(users)[:1000]).view(np.int64),
            "numbers": col("lineitem", "l_extendedprice").to_numpy().astype(np.float64),
            "strings": col("documents", "text").combine_chunks(),
            "html": _sample_html(self.seed),
        }

    def kernel_work(self):
        def n(t):
            return pq.ParquetFile(os.path.join(fixtures.SF_DIR, f"{t}.parquet")).metadata.num_rows

        # the sketch kernels of the HLL, CMS and KLL base queries only
        return {
            "sketchlib.hll.add_hashed.mrows_s": n("events") + n("orders"),
            "sketchlib.cms.add_hashed.mrows_s": n("events"),
            "sketchlib.kll.update.mrows_s": n("lineitem"),
        }


WORKLOADS = {w.name: w for w in (UrlHllGlobal, TextHllFused, PagesProfileGrouped, Base16)}
