"""Incremental / resumable pipelines.

The reference's analogues (SURVEY §2.8): gdal2tiles ``--resume``
skip-if-exists (gdal2tiles.py:1492-1495) and streamed GDALG pipelines
(apps/gdalalg_abstract_pipeline.cpp:801-813). Here:

* ``incremental_tiles``: Structured Streaming over the image table
  (``readStream`` + ``availableNow`` trigger) rendering base tiles via
  foreachBatch — new parquet files landing in the source dir are tiled on
  the next run, with exactly-once progress tracked in the checkpoint dir.
* ``resume_tiles``: the batch resume path — anti-join the rendered tile
  keys against the already-written sink, so only new tiles come out
  (every image is still decoded and rendered; see ``resume_tiles``).
* ``windowed_event_counts``: watermarked tumbling-window streaming agg over
  the events table (the Spark-native semantics GDAL lacks, included for
  engine completeness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..fixtures.images import IMAGES_SCHEMA_DDL
from ..operators.tiling import render_base_tiles


def incremental_tiles(spark: SparkSession, source_dir: str, sink_dir: str,
                      checkpoint_dir: str, method: str = "nearest") -> None:
    """Process-available-and-stop tiling over a growing parquet directory.
    Re-running after new files arrive tiles only the new images (source
    progress lives in the checkpoint)."""
    stream = (
        spark.readStream.schema(IMAGES_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        tiles = render_base_tiles(batch_df, method)
        tiles.write.mode("append").partitionBy("z").parquet(sink_dir)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def resume_tiles(spark: SparkSession, images: DataFrame, sink_dir: str,
                 method: str = "nearest") -> DataFrame:
    """Batch resume (--resume semantics): return only tiles whose
    (image_id, z, x, y) key is absent from the sink. The anti-join reads
    the cheap key projection of the sink (column pruning: tile bytes are
    never read), but it applies to the output of ``render_base_tiles``, a
    ``mapInPandas`` that Spark cannot push the join below: every image is
    decoded and rendered, and existing tiles are dropped afterwards."""
    try:
        existing = spark.read.parquet(sink_dir).select("image_id", "z", "x", "y")
    except Exception:
        existing = None
    tiles = render_base_tiles(images, method)
    if existing is not None:
        tiles = tiles.join(existing, ["image_id", "z", "x", "y"], "left_anti")
    return tiles


def streaming_dedup(spark: SparkSession, source_dir: str, checkpoint_dir: str,
                    sink_dir: str, key: str = "image_id",
                    watermark: str = "1 hour") -> None:
    """Streaming exact-dedup: keep the first row per ``key`` across
    micro-batches (state bounded by the event-time watermark) — the
    streaming twin of exact_dedup for continuously arriving corpora."""
    stream = (
        spark.readStream.schema(IMAGES_SCHEMA_DDL)
        .parquet(source_dir)
        .withColumn("_ingest_ts", F.current_timestamp())
        .withWatermark("_ingest_ts", watermark)
        .dropDuplicatesWithinWatermark([key])
        .drop("_ingest_ts", "bytes")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sessionize_events(spark: SparkSession, source_dir: str,
                      checkpoint_dir: str, sink_dir: str,
                      gap_minutes: int = 10,
                      watermark: str = "30 minutes") -> None:
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState):
    per-user session windows over the events stream — a session closes when
    no event arrives within ``gap_minutes`` of the last one (event time),
    enforced by an event-time timeout so state is bounded by the watermark.
    The output rows (one per closed session) carry start/end/count/sum.

    This is the Structured-Streaming shape the engine offers beyond the
    reference's pull-based iterators (SURVEY §2.8): arbitrary per-key state
    with timeouts, exactly-once via the checkpoint."""
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout,
    )

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    out_schema = ("user_id long, session_start timestamp, "
                  "session_end timestamp, n_events long, sum_value double")
    state_schema = "start long, last long, n long, s double"
    gap_ms = gap_minutes * 60 * 1000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, s = state.get
            state.remove()
            yield pd.DataFrame([{
                "user_id": user_id,
                "session_start": pd.Timestamp(start, unit="ms"),
                "session_end": pd.Timestamp(last, unit="ms"),
                "n_events": n, "sum_value": s,
            }])
            return
        import numpy as np

        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        batch = pd.concat(parts, ignore_index=True).sort_values("ts")
        ts = (batch["ts"].astype("int64") // 1_000_000).to_numpy()  # ms
        vals = batch["value"].to_numpy(dtype=np.float64)
        # walk events in order, splitting whenever the gap is exceeded —
        # a whole burst sequence can arrive inside one micro-batch
        if state.exists:
            start, last, n, s = state.get
        else:
            start, last, n, s = int(ts[0]), int(ts[0]) - 1, 0, 0.0
        closed = []
        for t, v in zip(ts, vals):
            t = int(t)
            if n > 0 and t - last > gap_ms:
                closed.append((start, last, n, s))
                start, n, s = t, 0, 0.0
            elif n == 0:
                start = t
            last = max(last, t)
            n += 1
            s += float(v)
        state.update((start, last, n, s))
        state.setTimeoutTimestamp(last + gap_ms)
        if closed:
            yield pd.DataFrame([{
                "user_id": user_id,
                "session_start": pd.Timestamp(a, unit="ms"),
                "session_end": pd.Timestamp(b, unit="ms"),
                "n_events": cn, "sum_value": cs,
            } for a, b, cn, cs in closed])

    stream = (
        spark.readStream.schema(schema).parquet(source_dir)
        .withWatermark("ts", watermark)
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(spark: SparkSession, source_dir: str,
                          checkpoint_dir: str, sink_dir: str,
                          window: str = "5 minutes",
                          watermark: str = "10 minutes") -> None:
    """Watermarked tumbling-window count/sum over a growing events table —
    late rows beyond the watermark are dropped, state is bounded."""
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    stream = spark.readStream.schema(schema).parquet(source_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n", "sum_value",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sessionize_batch(events, gap_minutes: int = 10):
    """Batch twin of the streaming sessionizer: gap-based session windows
    per user via LAG + running sum (all-JVM window functions, one shuffle
    on user_id) — the classic sessionization shape, byte-replayable in
    SQL.  Emits one row per session with start/end/count/value sum (exact
    integer cents)."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = int(gap_minutes) * 60 * 1_000_000
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(mic).over(w)
    flagged = events.select(
        "user_id", "ts", "event_id", "value",
        F.when(prev.isNull() | ((mic - prev) > gap_us), 1)
        .otherwise(0).alias("new_s"),
    )
    sid = F.sum("new_s").over(w)
    return (
        flagged.select("user_id", "ts", "event_id", "value",
                       sid.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(F.round(F.col("value") * 100.0).cast("bigint"))
            .alias("value_cents"),
        )
    )


DOCS_SCHEMA_DDL = ("doc_id long, text string, lang string, source string, "
                   "n_chars long")


def streaming_near_dup_filter(spark: SparkSession, source_dir: str,
                              checkpoint_dir: str, sink_dir: str,
                              num_hashes: int = 64, shingle_n: int = 5,
                              watermark: str = "1 hour") -> None:
    """Streaming near-duplicate FILTER: keep one representative per full
    MinHash signature (state bounded by the watermark).  Signature
    equality at 64 hashes is the high-threshold operating point of the
    batch LSH (two docs agreeing on every minimum almost surely share
    ~all shingles) — the firehose-side prefilter; lower-threshold pair
    mining stays with incremental_near_dup_pairs / minhash_lsh_pairs."""
    from ..operators.dedup import minhash_signatures

    docs = spark.readStream.schema(DOCS_SCHEMA_DDL).parquet(source_dir)
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes, shingle_n)
    keyed = (
        docs.join(sigs.select("doc_id", "sig"), "doc_id")
        .withColumn("sig_hash", F.xxhash64(F.concat_ws(",", "sig")))
        .withColumn("_ingest_ts", F.current_timestamp())
        .withWatermark("_ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["sig_hash"])
        .drop("_ingest_ts", "sig")
    )
    q = (
        keyed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_near_dup_pairs(spark: SparkSession, source_dir: str,
                               checkpoint_dir: str, corpus_dir: str,
                               bands_dir: str, pairs_dir: str,
                               num_hashes: int = 64, bands: int = 16,
                               shingle_n: int = 5,
                               jaccard_threshold: float = 0.5) -> None:
    """Incremental MinHash-LSH pair mining (foreachBatch): each
    micro-batch's band keys join against the ACCUMULATED band store (ids
    only — the corpus's shingle sets are recomputed just for the
    candidate ids by the batch operator's own `candidate_docs` and
    `jaccard_refine`),
    so per-batch cost scales with the batch and its colliding buckets,
    never with corpus size.  Emits (id_a, id_b, jaccard) pairs touching
    the batch to ``pairs_dir`` and appends the batch to ``corpus_dir`` +
    its bands to ``bands_dir``.  Exactly-once note: foreachBatch is
    at-least-once on retry; the id-ordered pair key makes downstream
    dedup trivial (dropDuplicates on (id_a, id_b))."""
    from ..operators.dedup import (candidate_docs, jaccard_refine,
                                   lsh_band_keys)

    def process(batch_df, batch_id):
        batch_df = batch_df.persist()
        bands_b = lsh_band_keys(batch_df, "text", "doc_id", num_hashes,
                                bands, shingle_n).persist()
        try:
            prior = spark.read.parquet(bands_dir)
        except Exception:
            prior = None
        allb = bands_b if prior is None else bands_b.unionByName(prior)
        # candidates: batch band rows vs (batch + prior) band rows
        l, r = bands_b.alias("l"), allb.alias("r")
        pair_ids = (
            l.join(r, (F.col("l.band") == F.col("r.band"))
                   & (F.col("l.bh") == F.col("r.bh"))
                   & (F.col("l.doc_id") != F.col("r.doc_id")))
            .select(F.least("l.doc_id", "r.doc_id").alias("id_a"),
                    F.greatest("l.doc_id", "r.doc_id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .persist()
        )
        try:
            corpus = spark.read.parquet(corpus_dir)
            texts = batch_df.select("doc_id", "text").unionByName(
                corpus.select("doc_id", "text"))
        except Exception:
            texts = batch_df.select("doc_id", "text")
        # a re-read micro-batch can hold an id the corpus already has
        docs = candidate_docs(pair_ids, texts, "doc_id").dropDuplicates(["doc_id"])
        pairs = jaccard_refine(pair_ids, docs, "doc_id", "text", shingle_n,
                               jaccard_threshold)
        pairs.write.mode("append").parquet(pairs_dir)
        bands_b.write.mode("append").parquet(bands_dir)
        batch_df.write.mode("append").parquet(corpus_dir)
        pair_ids.unpersist()
        bands_b.unpersist()
        batch_df.unpersist()

    docs = spark.readStream.schema(DOCS_SCHEMA_DDL).parquet(source_dir)
    q = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
