"""Text-analysis operators for training-data pipelines.

Hot-path philosophy: anything expressible with built-in
``pyspark.sql.functions`` stays JVM-side inside whole-stage codegen
(token counts, quality ratios); only genuinely model-ish logic (n-gram
language ID, shingle fingerprints) crosses into Python, and then as
Arrow-batched pandas UDFs over numpy — never per-row Python.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .textkernels import fingerprint_values

# ---------------------------------------------------------------------------
# JVM-side column expressions (zero Python in the hot path)


def token_count(col: str | Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def char_count(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_ratio(col: str | Column) -> Column:
    """Fraction of characters that are punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        punct.cast("double") / F.length(c)
    )


def digit_ratio(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    digits = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        digits.cast("double") / F.length(c)
    )


def quality_score(col: str | Column) -> Column:
    """Heuristic document quality in [0,1]: long enough, not punctuation/
    digit soup. Weights are arbitrary but
    fixed; the point is a deterministic, fully JVM-side scoring column."""
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0))
    return F.round(
        0.4 * len_score
        + 0.3 * (1.0 - F.least(punct_ratio(c) * 4.0, F.lit(1.0)))
        + 0.3 * (1.0 - F.least(digit_ratio(c) * 4.0, F.lit(1.0))),
        6,
    )


def add_quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    return (
        df.withColumn("n_tokens", token_count(text_col))
        .withColumn("n_chars", char_count(text_col))
        .withColumn("punct_ratio", F.round(punct_ratio(text_col), 6))
        .withColumn("quality", quality_score(text_col))
    )


# ---------------------------------------------------------------------------
# language ID — character-trigram heuristic (pandas UDF, Arrow-batched)

# tiny per-language marker sets: (unicode ranges | frequent trigrams)
_LANG_MARKERS = {
    "zh": (0x4E00, 0x9FFF),
    "ja": (0x3040, 0x30FF),
    "ru": (0x0400, 0x04FF),
}
_LATIN_TRIGRAMS = {
    "en": [" th", "the", "ing", " an", "and", " of", "ion", " to"],
    "de": ["der", "ein", "sch", " un", "und", "ich", "en ", "cht"],
    "fr": [" le", "les", " de", "des", "ent", "que", " la", "ais"],
    "es": [" de", " la", "los", " el", "ción", "ent", "ar ", "que"],
}


def _lang_id_batch(texts: pd.Series) -> pd.Series:
    out = []
    for t in texts:
        if not t:
            out.append("other")
            continue
        sample = t[:400]
        # script detection first (vectorized codepoint histogram)
        cps = np.frombuffer(sample.encode("utf-32-le"), dtype=np.uint32)
        for lang, (lo, hi) in _LANG_MARKERS.items():
            if ((cps >= lo) & (cps <= hi)).mean() > 0.25:
                out.append(lang)
                break
        else:
            low = sample.lower()
            scores = {
                lang: sum(low.count(g) for g in grams)
                for lang, grams in _LATIN_TRIGRAMS.items()
            }
            best = max(scores, key=scores.get)
            out.append(best if scores[best] > 0 else "other")
    return pd.Series(out, index=texts.index)


def lang_id_udf():
    return pandas_udf(_lang_id_batch, StringType())


def detect_language(df: DataFrame, text_col: str = "text", alias: str = "lang_pred") -> DataFrame:
    return df.withColumn(alias, lang_id_udf()(F.col(text_col)))


# ---------------------------------------------------------------------------
# document fingerprinting — shingle rolling-hash (pandas UDF)


def _fingerprint_batch(texts: pd.Series) -> pd.Series:
    """64-bit document fingerprint: min shingle hash over 8-gram windows.

    A deterministic content fingerprint robust to chunk boundaries
    (rolling window), usable as a cheap near-dup pre-key. Batch-
    flattened: one murmur call per Arrow batch + segmented min
    (textkernels) — no per-doc Python loop.
    """
    return pd.Series(fingerprint_values(texts, 8), index=texts.index)


def fingerprint_udf():
    return pandas_udf(_fingerprint_batch, LongType())


def fingerprint_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", fingerprint_udf()(F.col(text_col)))


# ---------------------------------------------------------------------------
# PII scrubbing — JVM-side regexp chains (training-data cleaning step)

# deliberately RE2-compatible patterns (no lookarounds/backrefs): they
# run identically under Java regex (Spark) and RE2 (DuckDB oracle)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "longnum": r"\b[0-9][0-9 \-]{9,}[0-9]\b",  # phone/card-like runs
}
PII_TOKENS = {"email": "<EMAIL>", "ipv4": "<IP>", "longnum": "<NUM>"}


def scrub_pii(col: str | Column) -> Column:
    """Redact emails, IPv4s and long digit runs with typed tokens.

    Order matters (emails first so their digits don't partially match
    the number rule); each rule is a single JVM regexp_replace inside
    whole-stage codegen — no Python.
    """
    c = F.col(col) if isinstance(col, str) else col
    for kind in ("email", "ipv4", "longnum"):
        c = F.regexp_replace(c, PII_PATTERNS[kind], PII_TOKENS[kind])
    return c


def pii_match_count(col: str | Column, kind: str) -> Column:
    """How many spans of one PII kind a document contains."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS[kind]), F.lit(0)))


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality filters (web-corpus cleaning rules)


def duplicate_line_fraction(col: str | Column) -> Column:
    """Fraction of lines that are repeats of an earlier line — the
    classic boilerplate signal. Pure JVM array ops."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")
    n = F.size(lines)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(lines))).cast("double") / n
    )


def symbol_word_ratio(col: str | Column) -> Column:
    """#(hash/ellipsis symbols) / #words (Gopher uses # and ...)."""
    c = F.col(col) if isinstance(col, str) else col
    symbols = F.length(c) - F.length(F.regexp_replace(c, r"#|\.\.\.", ""))
    words = token_count(c)
    return F.when(words <= 0, F.lit(0.0)).otherwise(
        symbols.cast("double") / words
    )


def mean_word_length(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    total = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) <= 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks)
    )


def top_bigram_char_fraction(col: str | Column):
    """Fraction of characters covered by the most frequent word bigram
    (high values = TEMPLATE/repetitive text). Needs a per-doc mode, so
    it runs as an Arrow-batched pandas UDF over the flattened-shingle
    kernel (one murmur call per batch, np.unique per doc)."""
    from .textkernels import flat_shingle_hashes

    def batch(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.float64)
        if not len(texts):
            return pd.Series(out, index=texts.index)
        sh, n_sh = flat_shingle_hashes(texts, 2)
        cuts = np.cumsum(n_sh)[:-1]
        for i, (t, seg) in enumerate(zip(texts, np.split(sh, cuts))):
            toks = (t or "").split()
            if len(toks) < 2 or not seg.size:
                continue
            _, counts = np.unique(seg, return_counts=True)
            top = int(counts.max())
            if top < 2:
                continue
            # approximate char coverage: top bigram repeats * mean
            # bigram char length (Gopher uses exact span lengths; the
            # ranking behavior is the same)
            mean_bigram_chars = 2 * (sum(map(len, toks)) / len(toks)) + 1
            out[i] = min(1.0, top * mean_bigram_chars / max(len(t), 1))
        return pd.Series(out, index=texts.index)

    c = F.col(col) if isinstance(col, str) else col
    return pandas_udf(batch, DoubleType())(c)


def duplicate_paragraph_fraction(col: str | Column) -> Column:
    """Char-weighted duplicate-paragraph fraction (Gopher's
    "fraction of characters in duplicate paragraphs"): characters in
    paragraphs that occur more than once / characters in all
    paragraphs.  Paragraphs split on blank lines (``\\n{2,}``);
    empty paragraphs ignored.  Pure JVM higher-order array ops —
    O(p^2) per document in the paragraph count, which is small, and
    zero shuffle.
    """
    c = F.col(col) if isinstance(col, str) else col
    paras = F.filter(F.split(c, r"\n{2,}"), lambda x: x != F.lit(""))
    dup = F.filter(
        paras,
        lambda x: F.size(F.filter(paras, lambda y: y == x)) > 1,
    )
    chars = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    total = chars(paras)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        chars(dup).cast("double") / total
    )


def duplicate_ngram_fraction(col: str | Column, n: int = 3) -> Column:
    """Fraction of word n-grams that are repeats of an earlier one
    (``1 - distinct/total``) — the count-based member of the Gopher
    duplicate-n-gram family (the paper's char-position-union variant
    differs only in weighting; the ranking behavior matches).  Pure
    JVM: split -> slice-window transform -> array_distinct.  Zero
    shuffle, zero Python.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    m = F.size(toks) - F.lit(n - 1)
    # n-grams as a pairwise zip_with fold over n shifted views of the
    # token array — O(n*L) work per document. (The obvious
    # transform(sequence(1,m), i -> array_join(slice(toks,i,n)))
    # formulation is O(L^2): Catalyst evaluates the positional slice
    # per element, interpreted — measured ~2 ms/doc on 50-token docs.)
    gram = F.slice(toks, 1, m)
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, m)
        gram = F.zip_with(
            gram, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    # total gram count IS m — derive it from the token count instead of
    # size(grams) so the (interpreted) zip_with fold is evaluated once
    # per row, not once per reference; the m<1 guard also keeps slice
    # from seeing a negative length
    return F.when(m < 1, F.lit(0.0)).otherwise(
        (m - F.size(F.array_distinct(gram))).cast("double") / m
    )


def gopher_quality_filters(
    df: DataFrame,
    text_col: str = "text",
    max_dup_line_fraction: float = 0.30,
    max_symbol_word_ratio: float = 0.10,
    word_len_bounds: tuple = (3.0, 10.0),
    max_top_bigram_fraction: float = 0.20,
) -> DataFrame:
    """Add the Gopher-rule metric columns + a ``gopher_pass`` verdict.

    Thresholds default to the published Gopher paper settings where the
    metric definitions coincide; all metrics are per-document and
    embarrassingly parallel — no shuffle is introduced.
    """
    lo, hi = word_len_bounds
    out = (
        df.withColumn("dup_line_frac", F.round(duplicate_line_fraction(text_col), 6))
        .withColumn("symbol_word_ratio", F.round(symbol_word_ratio(text_col), 6))
        .withColumn("mean_word_len", F.round(mean_word_length(text_col), 6))
        .withColumn(
            "top_bigram_frac", F.round(top_bigram_char_fraction(text_col), 6)
        )
    )
    return out.withColumn(
        "gopher_pass",
        (F.col("dup_line_frac") <= max_dup_line_fraction)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & F.col("mean_word_len").between(lo, hi)
        & (F.col("top_bigram_frac") <= max_top_bigram_fraction),
    )


# ---------------------------------------------------------------------------
# corpus-wide boilerplate line removal


def strip_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_line_df: int = 100,
    delim: str = "\n",
) -> DataFrame:
    """Remove corpus-ubiquitous lines (nav bars, cookie banners, footer
    chrome) from every document: a line is boilerplate iff it appears in
    MORE than ``max_line_df`` distinct documents. Returns (id, text)
    with the surviving lines re-joined in original order.

    Plan (all JVM built-ins, three shuffles, every one key-bounded):
    split -> posexplode (lines) -> per-line distinct-doc count (map-side
    partial agg) -> semi-ish join keeps rare lines -> groupBy(id) with
    array_agg sorted by position -> array_join. At 100 TB the line
    table is the corpus itself re-keyed — the aggregates stream with
    partial combine, and no stage ever holds a whole document group
    beyond its own lines.

    Blank lines are preserved verbatim (they carry formatting, and
    counting them as 'boilerplate' would strip every paragraph break).
    Every input document stays in the output: a document whose every
    line was boilerplate comes back with empty text rather than
    silently vanishing (the caller decides whether to filter those).
    """
    # F.split takes a Java regex but the rejoin is literal — \Q...\E
    # quotes the delimiter so metacharacter delims ('|', '.') split
    # literally instead of between every character
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + delim + "\\E")
        ).alias("pos", "line"),
    )
    line_df = (
        lines.where(F.length(F.trim("line")) > 0)
        .groupBy("line")
        .agg(F.count_distinct(id_col).alias("__docs"))
        .where(F.col("__docs") > max_line_df)
        .select("line")
    )
    kept = lines.join(line_df, "line", "left_anti")
    cleaned = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            delim,
        ).alias(text_col)
    )
    return (
        df.select(id_col)
        .join(cleaned, id_col, "left")
        .select(id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


# ---------------------------------------------------------------------------
# Unicode normalization


def normalize_unicode(col: str | Column, form: str = "NFC") -> Column:
    """Unicode-normalize a string column (``form`` in NFC / NFKC / NFD
    / NFKD). Web text mixes precomposed and combining-mark encodings
    of the same glyphs (e.g. U+00E9 vs e + U+0301), which silently
    breaks exact dedup, token counting, and gram joins — normalizing
    FIRST makes those byte-comparisons mean what they look like.

    Spark has no builtin normalizer, so this is an Arrow-batched
    pandas UDF over ``unicodedata.normalize`` (CPython's normalizer is
    a C loop; already-normalized strings — the overwhelming majority —
    are detected via the quick-check path and returned unchanged).
    NULLs pass through as NULL. The NFC form is mirrored by DuckDB's
    ``nfc_normalize`` for the driver value oracle.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    c = F.col(col) if isinstance(col, str) else col

    import unicodedata

    @pandas_udf(StringType())
    def _norm(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    return _norm(c)


# ---------------------------------------------------------------------------
# Character-entropy quality signal


def char_entropy(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document character-distribution entropy — the
    compression-ratio family of quality filters (low entropy = highly
    repetitive keyboard-mash / template spam; natural prose sits in a
    narrow band). Returns (id_col, n_chars, entropy_micro, entropy_bits):

    - ``n_chars``   = codepoint count (BIGINT)
    - ``entropy_micro`` = -sum over distinct codepoints c of
      count(c) * floor(log10(count(c)/n_chars) * 1e6) — an exact
      BIGINT, bitwise reproducible in any engine (same integer
      micro-log contract as operators/lm.py), mirrored verbatim by the
      DuckDB driver oracle
    - ``entropy_bits`` = entropy_micro / (n_chars * 1e6 * log10(2)),
      the Shannon bits/char convenience (NULL for empty docs)

    One Arrow pass; per batch the codepoints come from a utf-32 view
    (no per-char Python objects) and the histogram from np.unique.
    """
    out_schema = StructType(
        [
            StructField("n_chars", LongType()),
            StructField("entropy_micro", LongType()),
        ]
    )

    @pandas_udf(out_schema)
    def _ent(texts: pd.Series) -> pd.DataFrame:
        ns, ents = [], []
        for t in texts:
            if not t:
                ns.append(0)
                ents.append(0)
                continue
            cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            _, counts = np.unique(cps, return_counts=True)
            n = int(cps.size)
            micro = np.floor(
                np.log10(counts / n) * 1e6
            ).astype(np.int64)
            ns.append(n)
            ents.append(int(-(counts * micro).sum()))
        return pd.DataFrame({"n_chars": ns, "entropy_micro": ents})

    c = F.coalesce(F.col(text_col), F.lit(""))
    out = df.select(id_col, _ent(c).alias("e")).select(
        id_col,
        F.col("e.n_chars").alias("n_chars"),
        F.col("e.entropy_micro").alias("entropy_micro"),
    )
    return out.withColumn(
        "entropy_bits",
        F.when(
            F.col("n_chars") > 0,
            F.col("entropy_micro")
            / (F.col("n_chars") * F.lit(1e6) * F.lit(math.log10(2.0))),
        ),
    )


# -- sentence segmentation ---------------------------------------------------

# One pinned RE2-AND-Java-compatible rule (no lookbehind, which RE2
# lacks): a sentence is a maximal run of non-terminators followed by a
# run of terminators, or a trailing unterminated run. '...' glues to
# the preceding run; whitespace is trimmed (space chars — both engines'
# default trim set); empty pieces are dropped.
_SENTENCE_RE = r"[^.!?]+[.!?]+|[^.!?]+"


def split_sentences(df, text_col: str, id_col: str):
    """(id, sentence_no, sentence) — rule-based sentence segmentation
    as ONE JVM regexp_extract_all + posexplode: zero shuffles, rows
    inherit the input partitioning (the chunking/packing front end for
    sentence-level dedup and quality scoring). The rule is pinned to
    an RE2-compatible pattern so the DuckDB oracle replays it
    verbatim; abbreviation handling is deliberately out of scope (a
    documented trade of recall for engine-exact portability)."""
    pieces = F.regexp_extract_all(
        F.col(text_col), F.lit(_SENTENCE_RE), F.lit(0)
    )
    trimmed = F.filter(
        F.transform(pieces, lambda s: F.trim(s)), lambda s: s != ""
    )
    return df.select(
        F.col(id_col),
        F.posexplode(trimmed).alias("sentence_no", "sentence"),
    )


# -- mojibake repair ---------------------------------------------------------


def _fix_mojibake_one(s: str, max_passes: int = 2) -> str:
    """Reverse utf-8-bytes-read-as-cp1252/latin-1 (the dominant web
    mojibake): re-encode the chars to their byte values and try a
    utf-8 decode; keep the result only if the whole string decodes.
    Up to ``max_passes`` rounds unwind double-encoding. Clean text is
    a fixed point: correctly-decoded 'é' encodes to one byte that is
    not a valid utf-8 sequence, so the decode fails and the input
    survives untouched."""
    for _ in range(max_passes):
        try:
            b = s.encode("cp1252")
        except UnicodeEncodeError:
            try:
                b = s.encode("latin-1")
            except UnicodeEncodeError:
                return s
        try:
            fixed = b.decode("utf-8")
        except UnicodeDecodeError:
            return s
        if fixed == s:
            return s
        s = fixed
    return s


def fix_mojibake(df, text_col: str, out_col: str | None = None):
    """Repair utf-8-as-cp1252 mojibake in ``text_col`` (in place by
    default). Arrow-batched Python — the codec tables are CPython C
    code, and the common case (no mojibake) costs one failed decode
    probe per row. Deterministic pure function; NULLs pass through.
    Pairs with ``normalize_unicode``: repair bytes first, then
    normalize forms."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def fix(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda s: _fix_mojibake_one(s) if s is not None else None
        )

    return df.withColumn(out_col or text_col, fix(F.col(text_col)))
