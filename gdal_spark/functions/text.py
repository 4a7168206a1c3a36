"""Text-analysis column functions for training-data pipelines.

All JVM-side column expressions (split/regexp/array ops — no Python in the
hot path): language-ID by stopword scoring + CJK detection, quality scoring
from length/punct/stopword ratios, token counting, and document
fingerprinting. These extend the engine beyond the reference's surface (GDAL
has no text ops) per the training-data mandate; the SQL-dialect precedent is
the reference's scalar function registry
(/root/reference/ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, LongType

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans", "que"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "que", "por", "con"],
}


def tokens(col) -> Column:
    """Whitespace tokenization (empty input -> empty array)."""
    t = F.trim(F.col(col) if isinstance(col, str) else col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col) -> Column:
    return F.size(tokens(col))


def stopword_hits(col, lang: str) -> Column:
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    return F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in STOPWORDS[lang]]),
        )
    )


def cjk_char_count(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, r"[一-鿿]", ""))


def lang_id(col) -> Column:
    """Best-scoring language among en/de/fr/es/zh (n-gram/stopword heuristic).
    CJK characters dominate when present; otherwise max stopword hits, ties
    broken by fixed language order; 'und' (undetermined) when no signal."""
    scores = F.array(
        *[
            F.struct(stopword_hits(col, lg).alias("s"), F.lit(lg).alias("lg"))
            for lg in ("en", "de", "fr", "es")
        ]
    )
    best = F.array_max(scores)
    return (
        F.when(cjk_char_count(col) > 0, F.lit("zh"))
        .when(best["s"] > 0, best["lg"])
        .otherwise(F.lit("und"))
    )


def punct_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return punct / F.greatest(F.length(c), F.lit(1))


def mean_token_len(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"\s+", "")) / F.greatest(
        token_count(col), F.lit(1)
    )


def quality_score(col) -> Column:
    """[0,1] heuristic quality: enough tokens, sane word lengths, sane
    punctuation — the standard cheap pre-filter for web-scale corpora."""
    ntok = token_count(col)
    mtl = mean_token_len(col)
    pr = punct_ratio(col)
    return F.round(
        F.least(ntok / F.lit(20.0), F.lit(1.0)) * 0.4
        + F.when((mtl >= 3) & (mtl <= 12), 0.4).otherwise(0.0)
        + F.when(pr <= 0.2, 0.2).otherwise(0.0),
        4,
    )


# ---------------------------------------------------------------------------
# Gopher quality/repetition rules (Rae et al. 2021, arXiv:2112.11446 §A1.1 —
# public filter set): duplicate-line fractions, symbol-to-word ratio,
# bullet/ellipsis line fractions, alphabetic-word fraction, the 8-stopword
# presence test, and the top word-2-gram character fraction. Everything per
# document is pure JVM column math (split/filter/aggregate higher-order
# functions, zero Python); ratios are emitted as micro-unit BIGINTs so the
# DuckDB oracle compares exact integers.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
BULLET_CHARS = ["-", "*", "•", "‣", "▪"]


def doc_lines(col) -> Column:
    """Non-blank lines (split on newline, drop whitespace-only)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")


def _char_sum(arr: Column) -> Column:
    """Total characters over a string array (0 for empty)."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x))


def _micro(ratio: Column) -> Column:
    return F.round(ratio * 1_000_000.0).cast("long")


def gopher_metrics(col) -> dict[str, Column]:
    """Named Gopher filter signals as micro-unit (1e6) BIGINT columns.

    dup_line_frac: duplicate lines beyond first occurrence / lines;
    dup_line_char_frac: characters in those repeats / line characters;
    symbol_word_ratio: ('#' + '...' + '…') occurrences / words;
    bullet/ellipsis_line_frac: lines starting with a bullet / ending with
    an ellipsis; alpha_word_frac: words containing an alphabetic char;
    mean_word_len; stop_hits: how many of the 8 Gopher stopwords appear.
    """
    c = F.col(col) if isinstance(col, str) else col
    lns = doc_lines(c)
    w = tokens(c)
    dist = F.array_distinct(lns)
    n_lines = F.size(lns)
    n_words = F.size(w)
    line_chars = _char_sum(lns)
    dist_chars = _char_sum(dist)
    word_chars = _char_sum(w)
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell3 = ((F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
              ).cast("long")
    n_ell1 = F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit("")))
    bullets = F.array(*[F.lit(b) for b in BULLET_CHARS])
    n_bullet = F.size(F.filter(
        lns, lambda x: F.array_contains(bullets, F.substring(F.ltrim(x), 1, 1))))
    n_endell = F.size(F.filter(
        lns, lambda x: F.rtrim(x).endswith("...") | F.rtrim(x).endswith("…")))
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(F.transform(w, F.lower)),
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])))
    g, one = F.greatest, F.lit(1)
    return {
        "n_lines": n_lines.cast("long"),
        "dup_line_frac_u": _micro((n_lines - F.size(dist)) / g(n_lines, one)),
        "dup_line_char_frac_u": _micro(
            (line_chars - dist_chars) / g(line_chars, one.cast("long"))),
        "bullet_line_frac_u": _micro(n_bullet / g(n_lines, one)),
        "ellipsis_line_frac_u": _micro(n_endell / g(n_lines, one)),
        "symbol_word_ratio_u": _micro((n_hash + n_ell3 + n_ell1) / g(n_words, one)),
        "alpha_word_frac_u": _micro(n_alpha / g(n_words, one)),
        "mean_word_len_u": _micro(word_chars / g(n_words, one)),
        "stop_hits": stop_hits.cast("long"),
    }


def top_bigram_frac(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document fraction of word characters covered by the most frequent
    word 2-gram (micro-units), the Gopher top-2-gram repetition rule.

    One partial-aggregated shuffle keyed (id, bigram) + a per-doc top-1
    window; ties break on the lexicographically largest bigram. Documents
    with <2 words are absent (callers left-join and fill 0).
    """
    from pyspark.sql import Window

    w = tokens(text_col)
    base = docs.select(F.col(id_col), w.alias("w")).where(F.size("w") >= 2)
    bg = base.select(
        id_col,
        _char_sum(F.col("w")).alias("word_chars"),
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat(F.get("w", i - 1), F.lit(" "), F.get("w", i)),
        )).alias("bigram"),
    )
    cnt = bg.groupBy(id_col, "word_chars", "bigram").agg(F.count("*").alias("c"))
    win = Window.partitionBy(id_col).orderBy(F.desc("c"), F.desc("bigram"))
    return (
        cnt.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select(
            F.col(id_col),
            _micro((F.col("c") * (F.length("bigram") - 1))
                   / F.greatest(F.col("word_chars"), F.lit(1).cast("long"))
                   ).alias("top_bigram_frac_u"),
        )
    )


# Thresholds from the Gopher paper's quality-filter table (§A1.1).
GOPHER_RULES = {
    "min_words": 50, "max_words": 100_000,
    "mean_word_len_u": (3_000_000, 10_000_000),
    "symbol_word_ratio_u": 100_000,
    "bullet_line_frac_u": 900_000,
    "ellipsis_line_frac_u": 300_000,
    "alpha_word_frac_u": 800_000,
    "min_stop_hits": 2,
    "dup_line_frac_u": 300_000,
    "dup_line_char_frac_u": 200_000,
    "top_bigram_frac_u": 200_000,
}


def gopher_keep(n_words: Column, overrides: dict | None = None) -> Column:
    """Boolean keep decision over the micro-unit metric COLUMNS (expects the
    gopher_metrics + top_bigram_frac_u columns already in scope).
    ``overrides`` replaces individual GOPHER_RULES thresholds (the public
    implementations — datatrove, NeMo Curator — expose exactly these
    knobs; e.g. min_stop_hits=1 for synthetic/non-English corpora)."""
    r = dict(GOPHER_RULES, **(overrides or {}))
    c = F.col
    return (
        n_words.between(r["min_words"], r["max_words"])
        & c("mean_word_len_u").between(*r["mean_word_len_u"])
        & (c("symbol_word_ratio_u") <= r["symbol_word_ratio_u"])
        & (c("bullet_line_frac_u") <= r["bullet_line_frac_u"])
        & (c("ellipsis_line_frac_u") <= r["ellipsis_line_frac_u"])
        & (c("alpha_word_frac_u") >= r["alpha_word_frac_u"])
        & (c("stop_hits") >= r["min_stop_hits"])
        & (c("dup_line_frac_u") <= r["dup_line_frac_u"])
        & (c("dup_line_char_frac_u") <= r["dup_line_char_frac_u"])
        & (c("top_bigram_frac_u") <= r["top_bigram_frac_u"])
    ).cast("int")


def gopher_dup_ngram_fracs(col, ns: tuple = (5, 6, 7, 8, 9, 10)) -> Column:
    """Gopher §A1.1 duplicate word-n-gram character fractions for each n
    in ``ns``: the fraction of characters (in the whitespace-joined word
    stream) covered by ANY occurrence of an n-gram that appears more than
    once in the document. Position-exact (overlapping duplicate n-grams
    are not double-counted), returned as micro-unit longs in ``ns`` order.

    One Arrow batch pass per row — per-document repetition needs position
    sets, which is genuinely per-row work; it stays a map-only stage at
    any corpus size."""

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for text in s:
            counts, total = _dup_ngram_counts(text, ns)
            if total == 0:
                out.append([0] * len(ns))
            else:
                out.append([int(round(c / total * 1_000_000)) for c in counts])
        return pd.Series(out)

    return _udf(F.col(col) if isinstance(col, str) else col)


def _dup_ngram_counts(text, ns: tuple) -> tuple[list, int]:
    """Shared kernel: per-n covered-char counts + stream length for one doc
    (the position-exact mask union over duplicated word n-grams)."""
    words = str(text).split() if text is not None else []
    if not words:
        return [0] * len(ns), 0
    lens = np.fromiter((len(w) for w in words), dtype=np.int64)
    ends = np.cumsum(lens + 1)  # word i spans [ends[i]-lens[i]-1, ends[i]-1)
    starts = ends - lens - 1
    total = int(ends[-1] - 1)
    counts = []
    for n in ns:
        if len(words) < n:
            counts.append(0)
            continue
        grams: dict = {}
        for i in range(len(words) - n + 1):
            grams.setdefault(tuple(words[i:i + n]), []).append(i)
        mask = np.zeros(total, dtype=bool)
        for pos in grams.values():
            if len(pos) > 1:
                for i in pos:
                    mask[starts[i]:ends[i + n - 1] - 1] = True
        counts.append(int(mask.sum()))
    return counts, total


def gopher_dup_ngram_counts(col, ns: tuple = (5, 6, 7, 8, 9, 10)) -> Column:
    """Integer form of :func:`gopher_dup_ngram_fracs` for exact value
    gates: returns ``[covered_chars(n) for n in ns] + [stream_chars]`` as
    longs — no rounding anywhere, so a SQL oracle can replay it exactly
    (the fraction is covered/stream, derived trivially downstream)."""

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for text in s:
            counts, total = _dup_ngram_counts(text, ns)
            out.append([int(c) for c in counts] + [total])
        return pd.Series(out)

    return _udf(F.col(col) if isinstance(col, str) else col)


# ---------------------------------------------------------------------------
# C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2 — public):
# line-level keep rules + page-level discard rules. The cross-corpus
# three-sentence-span dedup lives in operators/dedup.c4_span_dedup (it
# shuffles); everything here is per-row JVM column math.
# ---------------------------------------------------------------------------

_SENTENCE_SPLIT = r"(?<=[.!?])\s+"


def sentences(col) -> Column:
    """Sentence array: split on whitespace following terminal punctuation,
    blank pieces dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, _SENTENCE_SPLIT), lambda s: F.trim(s) != "")


def c4_line_clean(col) -> dict[str, Column]:
    """C4 line + page rules: keep lines ending in terminal punctuation
    ([.!?\"]) with >= 5 words and no 'javascript'; a page survives when the
    cleaned text has >= 3 sentences, no 'lorem ipsum', and no '{'.

    Returns named columns: text_clean, n_kept_lines, n_sentences, page_ok.
    """
    lns = doc_lines(col)
    kept = F.filter(
        lns,
        lambda x: F.rtrim(x).rlike(r'[.!?"]$')
        & (F.size(F.split(F.trim(x), r"\s+")) >= 5)
        & ~F.lower(x).contains("javascript"),
    )
    cleaned = F.array_join(kept, "\n")
    n_sent = F.size(sentences(cleaned))
    low = F.lower(cleaned)
    page_ok = (
        (n_sent >= 3)
        & ~low.contains("lorem ipsum")
        & ~cleaned.contains("{")
    )
    return {
        "text_clean": cleaned,
        "n_kept_lines": F.size(kept).cast("long"),
        "n_sentences": n_sent.cast("long"),
        "page_ok": page_ok.cast("int"),
    }


def vocab_stats(docs, text_col: str = "text", id_col: str = "doc_id",
                top_k: int | None = None, lowercase: bool = True):
    """Corpus vocabulary statistics: one row per distinct token with term
    frequency (total occurrences) and document frequency (docs containing
    it) — the vocabulary-building / BPE-seeding pass of a training-data
    pipeline.

    Shape at scale: explode(tokens) -> ONE groupBy(token) computing both
    counts (df via count_distinct of the doc id), all map-side
    partial-aggregated; ``top_k`` returns the head by (tf desc, token) as
    a TakeOrdered top-k, not a full sort."""
    t = tokens(text_col)
    if lowercase:
        t = F.transform(t, F.lower)
    ex = docs.select(F.col(id_col), F.explode(t).alias("token"))
    agg = (ex.groupBy("token")
           .agg(F.count("*").alias("tf"),
                F.count_distinct(id_col).alias("df")))
    if top_k is not None:
        return agg.orderBy(F.desc("tf"), "token").limit(top_k)
    return agg


def bm25_search(docs, query_terms: list[str], text_col: str = "text",
                id_col: str = "doc_id", k1: float = 1.2, b: float = 0.75,
                top_k: int = 10):
    """Okapi BM25 ranking (Robertson & Walker, public formula) of the
    corpus against ``query_terms``:

        score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1-b+b*len/avglen))
        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))

    Shape at scale: one explode -> per-doc term counts filtered to the
    (broadcast-small) query terms, document frequencies from the same
    aggregate, doc lengths map-side, score join partial-aggregated; the
    final top-k is a TakeOrdered. Fully deterministic — the test replays
    it exactly in DuckDB."""
    terms = [t.lower() for t in query_terms]
    t = F.transform(tokens(text_col), F.lower)
    base = docs.select(F.col(id_col), t.alias("toks"))
    lens = base.select(id_col, F.size("toks").alias("dl"))
    stats = lens.agg(F.count("*").alias("n"),
                     F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = stats["n"], stats["avgdl"] or 1.0
    ex = (base.select(id_col, F.explode("toks").alias("token"))
          .where(F.col("token").isin(terms)))
    tf = ex.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    scored = (tf.join(F.broadcast(df_tbl), "token")
              .join(lens, id_col)
              .withColumn("idf", idf)
              .withColumn(
                  "s",
                  F.col("idf") * F.col("tf") * (k1 + 1.0)
                  / (F.col("tf")
                     + k1 * (1.0 - b + b * F.col("dl") / float(avgdl))))
              .groupBy(id_col)
              .agg(F.round(F.sum("s"), 9).alias("score"),
                   F.count("*").alias("n_terms_hit")))
    return scored.orderBy(F.desc("score"), id_col).limit(top_k)


def fingerprint(col) -> Column:
    """64-bit document fingerprint over whitespace-normalized lowercase text
    (the exact-dedup key; xxhash64 = JVM-side, zero Python)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def shingles(col, n: int = 5) -> Column:
    """Character n-gram shingle array (distinct), JVM-side via
    sequence+substring — the MinHash input. NOTE: prefer
    :func:`shingle_hashes` in hot paths — this JVM expression costs tens of
    seconds per call on this Spark build (substr/array_distinct overhead);
    kept for tests needing the actual shingle strings."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
            lambda i: norm.substr(i, F.lit(n)),
        )
    )


def shingle_hashes(col, n: int = 5) -> Column:
    """Distinct 63-bit hashes of the character n-gram shingles, computed as
    a vectorized numpy rolling hash inside an Arrow batch (O(len) per doc).
    Used by the MinHash/Jaccard pipeline — shingle identity via 63-bit hash
    (collision odds negligible, and consistent across all consumers)."""
    @F.pandas_udf(ArrayType(LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        mult = np.uint64(0x9E3779B97F4A7C15)
        with np.errstate(over="ignore"):
            for text in s:
                if text is None:
                    out.append([])
                    continue
                norm = " ".join(str(text).split()).lower().encode("utf-8")
                if not norm:
                    # empty/whitespace-only doc -> empty shingle set (NOT a
                    # padded space-shingle: all such docs would share it and
                    # melt into one quadratic LSH bucket; exact dedup owns them)
                    out.append([])
                    continue
                if len(norm) < n:
                    norm = norm + b" " * (n - len(norm))
                a = np.frombuffer(norm, dtype=np.uint8).astype(np.uint64)
                win = np.lib.stride_tricks.sliding_window_view(a, n)
                weights = mult ** np.arange(n, dtype=np.uint64)
                h = (win * weights[None, :]).sum(axis=1)
                h = (h ^ (h >> np.uint64(31))) * np.uint64(0xBF58476D1CE4E5B9)
                h = (h >> np.uint64(1)).astype(np.int64)  # non-negative
                out.append(np.unique(h))
        return pd.Series(out)

    return _udf(F.col(col) if isinstance(col, str) else col)
