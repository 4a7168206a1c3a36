"""Deduplication operators for web-scale corpora.

Four families, all shaped for 100 TB inputs:

* **exact**: one hash-groupBy on a 64-bit fingerprint — one shuffle keyed by
  fingerprint, partial-aggregated map-side.
* **MinHash + LSH**: shingle -> k minhash values -> b bands; candidate pairs
  only form inside identical (band, band_hash) buckets, so the shuffle is a
  bucket-key groupBy instead of an O(n^2) cross join; exact Jaccard refine
  on the candidate pairs only.
* **SimHash**: 64-bit signature whose Hamming distance tracks cosine/token
  overlap; banded into ``max_hamming + 1`` bit-slices so any pair within the
  Hamming radius is *guaranteed* (pigeonhole) to collide in at least one band.
* **embedding cosine**: random-hyperplane LSH over `array<float>` columns +
  exact cosine refine inside buckets.

MinHash/SimHash signatures are computed in a vectorized Arrow UDF (numpy over
all shingle hashes of a batch); everything before/after is JVM column math.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from ..functions.text import fingerprint, shingle_hashes

_EMPTY_SENTINEL = (1 << 61) - 1


def _minhash_params(k: int, seed: int = 42):
    """k multiplicative-universal hash params over Z/2^64 (odd multipliers);
    wraparound uint64 math vectorizes in numpy with no object/bignum cost."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 1 << 62, size=k, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 1 << 63, size=k, dtype=np.uint64)
    return a, b


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
                ) -> DataFrame:
    """Groups of byte-equal (whitespace/case-normalized) documents:
    (fingerprint, keep_id = min id, n_dups). One shuffle."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            (F.count("*") - 1).alias("n_dups"),
        )
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_n: int = 5,
                       shingle_hashes_col=None) -> DataFrame:
    """(id, sig: array<long>[num_hashes], shingles) via k universal hashes
    min-folded over xxhash64 shingle hashes.

    ``shingle_hashes_col``: optional pre-hashed array<long> Column to
    min-fold instead of the default rolling xxhash64 shingles — the value
    gate passes md5-derived shingle hashes so DuckDB can replay the same
    base hashes; the (a, b) universal-hash params and the numpy min-fold
    kernel are shared either way."""
    a, b = _minhash_params(num_hashes)

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(hashes: pd.Series) -> pd.Series:
        # batch-vectorized: concatenate every doc's shingle hashes once,
        # then loop over the k hash FUNCTIONS (k=64 numpy passes over the
        # whole batch + segment-min via minimum.reduceat) instead of over
        # the documents (10^4+ small matrix ops per batch).  Peak temp is
        # one flat (total_shingles,) array per pass, not a (k, n) matrix.
        n_docs = len(hashes)
        sig = np.full((n_docs, num_hashes), _EMPTY_SENTINEL, dtype=np.int64)
        if n_docs:
            arrs = [np.asarray(hs, dtype=np.int64) for hs in hashes]
            lens = np.fromiter((x.size for x in arrs), dtype=np.int64,
                               count=n_docs)
            valid = lens > 0
            if valid.any():
                h_all = np.concatenate(
                    [x for x in arrs if x.size]).view(np.uint64)
                vl = lens[valid]
                starts = np.zeros(vl.size, dtype=np.int64)
                np.cumsum(vl[:-1], out=starts[1:])
                vsig = np.empty((vl.size, num_hashes), dtype=np.int64)
                with np.errstate(over="ignore"):
                    for i in range(num_hashes):
                        # (a*h + b) mod 2^64 (wraparound); shift right 1 so
                        # the int64 view stays non-negative/ordered
                        vals = (a[i] * h_all + b[i]) >> np.uint64(1)
                        vsig[:, i] = np.minimum.reduceat(
                            vals, starts).astype(np.int64)
                sig[valid] = vsig
        return pd.Series(list(sig))

    sh = (shingle_hashes(text_col, shingle_n)
          if shingle_hashes_col is None else shingle_hashes_col)
    return df.select(F.col(id_col), sh.alias("sh")).select(
        F.col(id_col), "sh", sig_udf(F.col("sh")).alias("sig")
    )


def _cap_buckets(banded: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Keep only bucket rows whose (band, hash) bucket holds 2..cap members.

    Dropping singletons shrinks the self-join input (a singleton can never
    form a pair); capping oversized buckets bounds the quadratic blow-up from
    degenerate keys (empty docs, constant regions) at corpus scale — the
    100 TB guard the round-1 review asked for. Implemented as one window
    count over the bucket key (a single shuffle the self-join needed anyway
    — the groupBy+join formulation cost an extra join stage)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    cond = F.col("_bn") >= 2
    if cap is not None:
        cond = cond & (F.col("_bn") <= cap)
    return (
        banded.withColumn("_bn", F.count("*").over(w))
        .where(cond)
        .drop("_bn")
    )


def lsh_band_keys(df: DataFrame, text_col: str, id_col: str,
                  num_hashes: int, bands: int, shingle_n: int) -> DataFrame:
    """(id_col, band, bh) rows: one per LSH band of each doc's MinHash
    signature, ``bh`` hashing the band's ``num_hashes // bands`` values.
    Zero-shingle (empty/whitespace) docs get no rows — they all share the
    sentinel signature and would form one quadratic bucket."""
    rows = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    return sigs.where(F.size("sh") > 0).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.slice(F.col("sig"), i * rows + 1, rows))
                    ).alias("bh"),
                ),
            )
        ).alias("bk"),
    ).select(F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


def candidate_docs(pair_ids: DataFrame, texts: DataFrame,
                   id_col: str) -> DataFrame:
    """The rows of ``texts`` whose id is in a candidate pair (id_a, id_b).
    Shingles are then recomputed on these docs only (candidates <<
    corpus): a semi-join prune beats persisting every shingle set of the
    corpus across the whole job."""
    cand_ids = (
        pair_ids.select(F.col("id_a").alias(id_col))
        .union(pair_ids.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return texts.join(cand_ids, id_col, "left_semi")


def jaccard_refine(pair_ids: DataFrame, docs: DataFrame, id_col: str,
                   text_col: str, shingle_n: int,
                   jaccard_threshold: float) -> DataFrame:
    """Candidate pairs (id_a, id_b) -> (id_a, id_b, jaccard) with exact
    Jaccard >= threshold on shingle sets (JVM array_intersect/array_union).
    ``docs`` holds each candidate doc once (see ``candidate_docs``)."""
    sh = docs.select(F.col(id_col), shingle_hashes(text_col, shingle_n).alias("sh"))
    cand = (
        pair_ids.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 5,
                      jaccard_threshold: float = 0.5,
                      bucket_cap: int | None = 100_000) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Candidates from LSH band-bucket self-join; exact Jaccard on shingle sets
    (JVM array_intersect/array_union) refines. Only bucket-mates shuffle.
    Zero-shingle (empty/whitespace) docs are excluded before banding — they
    all share the sentinel signature and would form one quadratic bucket;
    exact_dedup already pairs them. ``bucket_cap`` drops pathologically hot
    buckets entirely (recall loss only for keys duplicated > cap times)."""
    # band join carries ids only — the (large) shingle arrays are recomputed
    # later for just the candidate docs, so the banded explode and the
    # self-join never ship shingle sets
    banded = lsh_band_keys(df, text_col, id_col, num_hashes, bands, shingle_n)
    banded = _cap_buckets(banded, ["band", "bh"], bucket_cap)
    # ids-only banded rows are O(n * bands) longs — persisting them keeps
    # the shingle+signature subtree from re-running for BOTH sides of the
    # self-join and the cap window (3x at demo scale; disk-spillable at
    # corpus scale, unlike the round-1 full-shingle persist)
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)

    left = banded.alias("l")
    right = banded.alias("r")
    pair_ids = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # pair_ids feeds three consumers (two cand_ids legs + the refine join)
    pair_ids = pair_ids.persist(StorageLevel.MEMORY_AND_DISK)
    return jaccard_refine(pair_ids, candidate_docs(pair_ids, df, id_col),
                          id_col, text_col, shingle_n, jaccard_threshold)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard over all pairs — the small-data oracle the LSH
    path approximates (use only on bounded inputs / within partitions)."""
    s = df.select(F.col(id_col), shingle_hashes(text_col, shingle_n).alias("sh"))
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.greatest(F.size(F.array_union("a.sh", "b.sh")), F.lit(1))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       token_hash=None) -> DataFrame:
    """64-bit SimHash over token hashes (sign-sum per bit, numpy).

    ``token_hash``: optional per-token Column->Column hash (default
    xxhash64).  The value gate passes an md5-derived int64 so DuckDB can
    replay the same hashes; the sign-sum kernel below is shared either
    way, so the gate exercises the production majority-vote path."""

    @F.pandas_udf(LongType())
    def sim_udf(hashes: pd.Series) -> pd.Series:
        # batch-vectorized like minhash's sig_udf: one concat, then 64
        # numpy passes (one per bit) with per-doc sums via add.reduceat —
        # no per-document Python loop
        n_docs = len(hashes)
        out = np.zeros(n_docs, dtype=np.uint64)
        if n_docs:
            arrs = [np.asarray(hs, dtype=np.int64) for hs in hashes]
            lens = np.fromiter((x.size for x in arrs), dtype=np.int64,
                               count=n_docs)
            valid = lens > 0
            if valid.any():
                h_all = np.concatenate(
                    [x for x in arrs if x.size]).view(np.uint64)
                vl = lens[valid]
                starts = np.zeros(vl.size, dtype=np.int64)
                np.cumsum(vl[:-1], out=starts[1:])
                vout = np.zeros(vl.size, dtype=np.uint64)
                for b in range(64):
                    ones = np.add.reduceat(
                        ((h_all >> np.uint64(b)) & np.uint64(1)).astype(
                            np.int64), starts)
                    # sign-sum > 0  <=>  ones > len/2
                    vout |= (2 * ones > vl).astype(np.uint64) << np.uint64(b)
                out[valid] = vout
        return pd.Series(out.view(np.int64))

    toks = F.split(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")), " ")
    hfn = token_hash if token_hash is not None else F.xxhash64
    return df.select(
        F.col(id_col),
        sim_udf(F.transform(toks, lambda t: hfn(t))).alias("simhash"),
    )


def hamming_near_pairs(df: DataFrame, hash_col: str, id_col: str,
                       max_hamming: int = 3,
                       bucket_cap: int | None = 100_000) -> DataFrame:
    """Pairs of rows whose int64 ``hash_col`` values differ in
    <= max_hamming bits — banded LSH over ``max_hamming + 1`` bit slices
    (pigeonhole: <= max_hamming differing bits cannot touch every one of
    max_hamming + 1 bands, so a near pair must agree on at least one band).
    Works for simhash columns and for perceptual-hash (phash) columns alike."""
    sigs = df.select(F.col(id_col), F.col(hash_col).alias("simhash"))
    return _hamming_banded(sigs, id_col, max_hamming, bucket_cap)


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       bucket_cap: int | None = 100_000) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming, candidate-generated by
    (max_hamming + 1)-band bit-slice collisions — exact recall within the
    radius by the pigeonhole principle, verified by exact bit_count refine."""
    sigs = simhash_signatures(df, text_col, id_col)
    return _hamming_banded(sigs, id_col, max_hamming, bucket_cap)


def _band_layout(max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) per band: max_hamming + 1 contiguous slices covering
    all 64 bits, widths as equal as possible (wide bands first)."""
    bands = min(max_hamming + 1, 64)
    base, extra = divmod(64, bands)
    layout, shift = [], 0
    for b in range(bands):
        width = base + (1 if b < extra else 0)
        layout.append((shift, width))
        shift += width
    return layout


def _band_combos(max_hamming: int) -> list[list[tuple[int, int]]]:
    """Band keys for exact-recall Hamming LSH; each entry is the list of
    (shift, width) block slices concatenated into one key.

    radius <= 4: one block per key, (r + 1) contiguous slices (keys >= 12
    bits — the round-2 scheme, fine at these radii).

    radius > 4: Manku-style combinatorial blocks (Detecting Near-Duplicates
    for Web Crawling, WWW'07 §3): split 64 bits into B = r + m blocks and
    emit one key per m-subset (all C(B, m)).  <= r differing bits touch
    <= r blocks, leaving >= m blocks intact, so some m-subset agrees —
    exact recall by pigeonhole.  m = 2 keeps keys ~2*(64/B) bits wide
    (~10-11 bits at r=10) instead of 64/(r+1) (~6 bits): ~2^5 x more
    distinct buckets per key for C(12,2)=66 vs 11 candidate rows — the
    r=10 self-join stops being quadratic in corpus size."""
    if max_hamming <= 4:
        return [[sw] for sw in _band_layout(max_hamming)]
    from itertools import combinations

    m = 2
    nblocks = min(max_hamming + m, 64)
    base, extra = divmod(64, nblocks)
    blocks, shift = [], 0
    for b in range(nblocks):
        width = base + (1 if b < extra else 0)
        blocks.append((shift, width))
        shift += width
    return [list(c) for c in combinations(blocks, m)]


def _hamming_banded(sigs: DataFrame, id_col: str, max_hamming: int,
                    bucket_cap: int | None = 100_000) -> DataFrame:
    def _combo_key(combo):
        key = None
        for shift, width in combo:
            piece = (
                F.col("simhash") if width == 64
                else F.shiftrightunsigned("simhash", shift)
                .bitwiseAND(F.lit((1 << width) - 1))
            )
            key = piece if key is None else \
                F.shiftleft(key, width).bitwiseOR(piece)
        return key

    banded = sigs.select(
        F.col(id_col), "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), _combo_key(combo).alias("bh"))
                for b, combo in enumerate(_band_combos(max_hamming))
            ])
        ).alias("bk"),
    ).select(F.col(id_col), "simhash", "bk.band", "bk.bh")
    banded = _cap_buckets(banded, ["band", "bh"], bucket_cap)
    l, r = banded.alias("l"), banded.alias("r")
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band")) & (F.col("l.bh") == F.col("r.bh"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_pairs(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id", threshold: float = 0.95,
                         planes: int = 8, tables: int = 6, seed: int = 42,
                         bucket_cap: int | None = 100_000) -> DataFrame:
    """Near-duplicate embedding pairs (cosine >= threshold): multi-table
    random-hyperplane LSH candidates + exact cosine refine (JVM array math).

    L independent tables of p planes: a cosine-0.95 pair (angle ~0.32 rad)
    collides in >=1 of 6 8-plane tables w.p. ~0.96; a single 16-plane table
    would recall only ~0.18 — the standard (L, p) trade.

    Hyperplane components are derived JVM-side per element index via
    Box-Muller over two xxhash64 streams — dimension-agnostic (no driver
    probe of the vector size) and no planes*tables*dim literal arrays in
    the plan (24k literals at dim 512).  ``bucket_cap`` drops (table,
    bucket) groups larger than the cap before the self-join — the same
    guard the MinHash/SimHash paths have; without it a degenerate bucket
    (e.g. all-zero embeddings) makes the join quadratic at corpus scale."""

    def _gauss(i, t, p, salt):
        # uniform in (0,1] from the top 52 bits of xxhash64(i, stream)
        def u(s):
            h = F.xxhash64(i, F.lit(t * 131071 + p), F.lit(seed * 2 + s))
            return (F.shiftrightunsigned(h, 12).cast("double") + 1.0) / float(1 << 52)
        return F.sqrt(-2.0 * F.log(u(salt))) * F.cos(
            F.lit(2.0 * float(np.pi)) * u(salt + 2))

    def _bucket(c, t):
        bits = [
            F.when(
                F.aggregate(
                    F.transform(c, lambda x, i: x * _gauss(i, t, p, 0)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ) >= 0, F.lit(1 << p)
            ).otherwise(F.lit(0))
            for p in range(planes)
        ]
        out = bits[0]
        for x in bits[1:]:
            out = out + x
        return out

    norm = F.sqrt(
        F.aggregate(F.transform(F.col(vec_col), lambda x: x * x), F.lit(0.0),
                    lambda a, x: a + x)
    )
    sigs = df.select(
        F.col(id_col), F.col(vec_col), norm.alias("nrm"),
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("tbl"), _bucket(F.col(vec_col), t).alias("bk"))
                for t in range(tables)
            ])
        ).alias("tb"),
    ).select(F.col(id_col), F.col(vec_col), "nrm", "tb.tbl", "tb.bk")
    sigs = _cap_buckets(sigs, ["tbl", "bk"], bucket_cap)
    l, r = sigs.alias("l"), sigs.alias("r")
    dot = F.aggregate(
        F.zip_with(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"), lambda x, y: x * y),
        F.lit(0.0), lambda a, x: a + x,
    )
    return (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl")) & (F.col("l.bk") == F.col("r.bk"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            (dot / (F.col("l.nrm") * F.col("r.nrm"))).alias("cosine"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def pair_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                    max_iter: int = 25) -> DataFrame:
    """Connected components over the near-duplicate pair graph — the step
    that turns pairwise matches into dedup clusters.  Iterative min-label
    propagation (the hash-to-min pattern): every node repeatedly adopts
    the smallest label in its neighborhood; converges in O(diameter)
    rounds, and near-dup graphs are unions of tiny cliques/chains, so a
    handful of rounds closes them.  Each round is one join + one
    aggregate on (node, label) pairs — no driver-side graph, no
    quadratic state.  Returns (node, component) with component = the
    minimum node id in the cluster."""
    edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
             .union(pairs.select(F.col(id_b).alias("u"),
                                 F.col(id_a).alias("v")))
             .distinct()
             .persist())
    labels = (edges.select(F.col("u").alias("node"))
              .distinct()
              .withColumn("component", F.col("node")))
    for _ in range(max_iter):
        # candidate labels: own + the label of every neighbor
        nbr = (edges.join(labels.withColumnsRenamed(
                   {"node": "v", "component": "nbr_comp"}), "v")
               .select(F.col("u").alias("node"), "nbr_comp"))
        new = (labels.join(nbr, "node", "left")
               .groupBy("node")
               .agg(F.least(F.min("component"),
                            F.min("nbr_comp")).alias("component")))
        changed = (new.alias("n").join(labels.alias("o"), "node")
                   .where(F.col("n.component") != F.col("o.component"))
                   .limit(1).count())
        labels = new.persist()
        if changed == 0:
            break
    edges.unpersist()
    return labels


def dedup_keep_list(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
                    ) -> DataFrame:
    """(node, component, keep) from the pair graph: one representative
    (the minimum id) per near-duplicate cluster — the drop list a
    training pipeline applies with an anti-join."""
    comps = pair_components(pairs, id_a, id_b)
    return comps.withColumn("keep", F.col("node") == F.col("component"))


def ngram_contamination(corpus: DataFrame, eval_df: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 13, min_hits: int = 1) -> DataFrame:
    """Train/eval decontamination (the GPT-3/Pile 13-gram filter shape):
    flag evaluation documents whose ``shingle_n``-gram set intersects the
    training corpus.  Both sides explode to (doc, shingle-hash) rows; the
    corpus side keeps DISTINCT hashes only (its documents never ship),
    the join is a hash-keyed semi-ish inner join, and the per-eval-doc
    hit count aggregates map-side.  Returns (doc_id, n_grams, n_hits,
    contaminated) for EVERY eval doc."""
    ev = eval_df.select(
        F.col(id_col), shingle_hashes(text_col, shingle_n).alias("sh"))
    ev_ex = ev.select(id_col, F.explode("sh").alias("h"))
    corpus_h = (corpus
                .select(F.explode(
                    shingle_hashes(text_col, shingle_n)).alias("h"))
                .distinct())
    hits = (ev_ex.join(corpus_h, "h")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_hits")))
    return (ev.select(id_col, F.size("sh").alias("n_grams"))
            .join(hits, id_col, "left")
            .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
            .withColumn("contaminated", F.col("n_hits") >= min_hits))


def c4_span_dedup(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", span: int = 3) -> DataFrame:
    """C4 three-sentence-span dedup (Raffel et al. 2020 §2.2): any
    ``span``-sentence window occurring more than once in the corpus is
    removed from every document except the first occurrence (global order
    = (doc id, position)).

    Shape at scale: spans explode to (doc, pos, xxhash64-of-span) rows;
    the keeper per hash is a partial-aggregated ``min(struct(doc, pos))``
    groupBy (no window sort), duplicates join back on the 64-bit hash, and
    removed sentence indices aggregate per doc. Only ids/positions/hashes
    shuffle — never sentence text.

    Returns (id, text_dedup, n_sentences, n_removed_sentences).
    """
    from ..functions.text import sentences

    base = docs.select(F.col(id_col), sentences(text_col).alias("sent"))
    n = F.size("sent")
    norm = lambda c: F.xxhash64(
        F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))
    spans = (
        base.where(n >= span)
        .select(
            id_col,
            F.explode(F.transform(
                F.sequence(F.lit(0), n - span),
                lambda i: F.struct(
                    i.alias("pos"),
                    norm(F.concat_ws(" ", F.slice("sent", i + 1, span)))
                    .alias("h")),
            )).alias("sp"))
        .select(id_col, F.col("sp.pos").alias("pos"), F.col("sp.h").alias("h"))
    )
    keepers = (spans.groupBy("h")
               .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("keep"),
                    F.count("*").alias("c"))
               .where(F.col("c") > 1))
    dup_occ = (spans.join(keepers, "h")
               .where(~((F.col(id_col) == F.col(f"keep.{id_col}"))
                        & (F.col("pos") == F.col("keep.pos")))))
    removed = (dup_occ
               .select(id_col, F.explode(
                   F.sequence(F.col("pos"), F.col("pos") + span - 1))
                   .alias("idx"))
               .groupBy(id_col)
               .agg(F.collect_set("idx").alias("rm")))
    empty = F.array().cast("array<int>")
    rm = F.coalesce(F.col("rm"), empty)
    return (base.join(removed, id_col, "left")
            .select(
                id_col,
                F.array_join(
                    F.filter("sent",
                             lambda s, i: ~F.array_contains(rm, i)),
                    " ").alias("text_dedup"),
                F.size("sent").cast("long").alias("n_sentences"),
                F.size(rm).cast("long").alias("n_removed_sentences")))
