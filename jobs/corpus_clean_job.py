"""spark-submit entrypoint for the training-corpus cleaning pipeline.

The text-side sibling of ``tile_pipeline_job.py`` and the same ship
shape: ``spark-submit --py-files dist/gdal_spark.zip
jobs/corpus_clean_job.py`` — module-level imports are stdlib-only, the
package resolves from the zip on driver and executors alike.

Pipeline (every stage a documented public filter set):
  1. Gopher quality rules (Rae et al. 2021 §A1.1): repetition fractions,
     symbol/bullet/ellipsis ratios, stopword presence, top-2-gram —
     drops documents failing the composite keep flag;
  2. C4 line/page rules (Raffel et al. 2020 §2.2) + the corpus-wide
     three-sentence-span dedup on the survivors;
  3. exact dedup on the normalized fingerprint (first doc id wins);
  4. optional MinHash near-dup keep list (--near-dup).

Writes the cleaned corpus as parquet and prints ONE JSON line with the
per-stage counts, wall seconds, and docs/sec. ``--resume`` anti-joins
against doc ids already in the sink and appends only the new ones —
a restarted job never rewrites or double-counts.
"""

from __future__ import annotations

import argparse
import json
import time


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="parquet documents table (doc_id, text, ...)")
    p.add_argument("--out", required=True, help="cleaned-corpus parquet dir")
    p.add_argument("--near-dup", action="store_true",
                   help="also drop MinHash near-duplicates (keep min id)")
    p.add_argument("--sentenceize", action="store_true",
                   help="deterministically add a period every 8th word "
                        "(for punctuation-free synthetic corpora, so the "
                        "C4 sentence stages are exercised)")
    p.add_argument("--jaccard", type=float, default=0.5)
    p.add_argument("--gopher-min-stop-hits", type=int, default=None,
                   help="override the Gopher >=2-stopword rule (synthetic "
                        "or non-English corpora)")
    p.add_argument("--gopher-min-words", type=int, default=None)
    p.add_argument("--resume", action="store_true",
                   help="append only docs absent from --out")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = SparkSession.builder.appName("gdal-spark-corpus-clean")
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    # master/deploy come from spark-submit; AQE/Arrow tuning from
    # ensure_runtime
    spark = builder.getOrCreate()

    from gdal_spark.runtime import ensure_runtime

    ensure_runtime(spark)
    spark.sparkContext.setLogLevel("WARN")

    from gdal_spark.functions.text import (
        c4_line_clean, fingerprint, gopher_keep, gopher_metrics,
        token_count, top_bigram_frac)
    from gdal_spark.operators.dedup import c4_span_dedup, minhash_lsh_pairs

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    if args.sentenceize:
        from gdal_spark.functions.text import tokens

        docs = docs.withColumn(
            "text",
            F.concat(
                F.array_join(
                    F.transform(
                        tokens("text"),
                        lambda x, i: F.when(i % 8 == 7,
                                            F.concat(x, F.lit(".")))
                        .otherwise(x)),
                    " "),
                F.lit("."),
            ))
    n_in = docs.count()

    # 1. Gopher keep flag
    gm = gopher_metrics("text")
    scored = docs.select(
        "doc_id", "text",
        token_count("text").cast("long").alias("n_tokens"),
        *[v.alias(k) for k, v in gm.items()],
    ).join(top_bigram_frac(docs), "doc_id", "left") \
     .fillna({"top_bigram_frac_u": 0}) \
     .withColumn("keep", gopher_keep(F.col("n_tokens"), {
         k: v for k, v in (("min_stop_hits", args.gopher_min_stop_hits),
                           ("min_words", args.gopher_min_words))
         if v is not None}))
    gopher_pass = scored.where(F.col("keep") == 1).select("doc_id", "text")
    n_gopher = gopher_pass.count()

    # 2. C4 line/page rules + 3-sentence-span dedup
    lc = c4_line_clean("text")
    c4 = gopher_pass.select("doc_id",
                            *[v.alias(k) for k, v in lc.items()])
    c4_pass = c4.where(F.col("page_ok") == 1)
    dd = c4_span_dedup(c4_pass, text_col="text_clean")
    cleaned = (c4_pass.select("doc_id", "n_sentences")
               .join(dd.select("doc_id", "text_dedup",
                               "n_removed_sentences"), "doc_id"))
    n_c4 = cleaned.count()

    # 3. exact dedup on the normalized fingerprint (min doc id wins)
    fp = cleaned.withColumn("fp", fingerprint("text_dedup"))
    winners = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    exact = fp.join(winners, ["fp", "doc_id"], "left_semi")
    n_exact = exact.count()

    # 4. optional near-dup keep list
    out = exact
    if args.near_dup:
        from gdal_spark.operators.dedup import dedup_keep_list

        pairs = minhash_lsh_pairs(
            exact.select("doc_id", F.col("text_dedup").alias("text")),
            jaccard_threshold=args.jaccard)
        keep = dedup_keep_list(pairs)
        drop = keep.where(~F.col("keep")).select(
            F.col("node").alias("doc_id"))
        out = exact.join(drop, "doc_id", "left_anti")
    n_out = out.count()

    skipped = 0
    result = out.select("doc_id", "text_dedup", "n_sentences",
                        "n_removed_sentences", "fp")
    if args.resume:
        try:
            existing = spark.read.parquet(args.out).select("doc_id")
            skipped = existing.count()
            result = result.join(existing, "doc_id", "left_anti")
        except Exception:
            pass  # empty/absent sink: full write
        n_new = result.count()
        if n_new:
            result.write.mode("append").parquet(args.out)
    else:
        n_new = n_out
        result.write.mode("overwrite").parquet(args.out)

    dt = time.time() - t0
    print(json.dumps({
        "job": "corpus_clean", "n_in": n_in, "n_gopher_pass": n_gopher,
        "n_c4_pass": n_c4, "n_exact_unique": n_exact, "n_out": n_out,
        "n_written": n_new, "n_resume_skipped": skipped,
        "wall_s": round(dt, 3),
        "docs_per_sec": round(n_in / dt, 1) if dt > 0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
