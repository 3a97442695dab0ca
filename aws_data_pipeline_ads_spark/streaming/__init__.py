"""Structured Streaming twins of the batch event queries (SURVEY.md §2C).

The reference's only "stream" is a daily EventBridge micro-batch
(/root/reference/scripts/setup_schedule.py:13) — exactly what
Trigger.AvailableNow models: drain whatever files arrived, checkpoint,
stop. These jobs run the real streaming operators (watermarks, windowed
state, streaming dedup) against the parquet events table; the
oracle-checked batch formulations live in queries/events_q.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.functions import dec_sum


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    readStream needs a declared schema; we reuse the batch reader's
    (incl. the layout-adaptive ts normalization from catalog).
    """
    from aws_data_pipeline_ads_spark.catalog import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream)


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours",
                    slide: str | None = None) -> DataFrame:
    """Watermarked tumbling-window aggregation (late data beyond the
    watermark is dropped; state is bounded — the 100 TB requirement).
    Pass `slide` for overlapping (sliding) windows — each event then
    updates window/slide concurrent window states."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", "total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """Native streaming sessionization: session_window merges rows whose
    gaps are below the threshold; watermark bounds session state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup with bounded state: duplicates arriving within the
    watermark horizon are dropped; older state is evicted."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def sink_to_lake(stream_df: DataFrame, path: str, checkpoint_dir: str,
                 partition_by: tuple[str, ...] = ("event_type",)) -> None:
    """Incremental lake ingestion: drain new files into Hive-partitioned
    parquet under `path`, exactly-once per micro-batch via checkpoint.

    This is the reference's daily batch (EventBridge → extract → S3)
    as a restartable stream: rerunning after a crash resumes from the
    checkpoint instead of re-ingesting (the reference would duplicate).
    """
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(*partition_by)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(stream_df: DataFrame, name: str, checkpoint_dir: str) -> None:
    """Drain-everything-then-stop execution (the daily-batch trigger).
    Results land in the in-memory table `name` for inspection/tests."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_complete_now(stream_df: DataFrame, name: str, checkpoint_dir: str) -> None:
    """Same, but complete output mode (for aggregations read back fully)."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def documents_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a documents landing directory (the
    corpus-ingest edge: new crawl shards land as parquet files — or
    per-shard subdirectories, hence recursiveFileLookup — and drain per
    batch)."""
    schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(path).schema
    )
    reader = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def curation_ingest(docs_stream: DataFrame, out_path: str, seen_path: str,
                    checkpoint_dir: str) -> None:
    """Streaming corpus ingestion with incremental dedup — the
    production loop a training-data pipeline runs as crawl shards
    arrive, composed from the verified batch operators:

      per micro-batch:
        1. quality-gate the batch (textstats.quality_stats gate),
        2. flag it against the ACCUMULATED fingerprint manifest
           (dedup.incremental_exact_dedup — known_dup/batch_dup/keep),
        3. append kept docs to {out_path}/batch_id=N and their
           fingerprints to {seen_path}/batch_id=N.

    Exactly-once: the checkpoint makes batch ids stable across restarts
    and each batch writes ONLY into its own batch_id=N directory with
    overwrite — a replayed batch rewrites the same files instead of
    duplicating (the idempotent-foreachBatch pattern, same contract as
    operators/upsert.py's streaming snapshot). The manifest read is a
    plain parquet scan, so dedup state lives in the lake, not in
    executor memory — restart-safe and unbounded-corpus-safe.
    """
    from pyspark.sql import functions as SF

    from aws_data_pipeline_ads_spark.operators import textstats
    from aws_data_pipeline_ads_spark.operators.dedup import incremental_exact_dedup

    def one_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        q = textstats.quality_stats(batch_df)
        ok = batch_df.join(
            q.filter(SF.col("quality_ok")).select("doc_id"), "doc_id"
        )
        from pyspark.errors import AnalysisException

        try:
            # Exclude THIS batch id from the manifest read: on a
            # post-crash replay the batch's own previously-written
            # fingerprints would otherwise flag every row known_dup and
            # the rewrite would drop the data (replay must reproduce,
            # not erase).
            seen = (
                spark.read.parquet(seen_path)
                .filter(SF.col("batch_id") != SF.lit(int(batch_id)))
                .select("content_hash")
            )
        except AnalysisException as e:
            # ONLY a missing manifest means "first batch". Any other
            # read failure (I/O blip, corrupt footer, permissions) must
            # FAIL the batch — treating it as first-batch would silently
            # disable dedup and append duplicates to the corpus.
            if "PATH_NOT_FOUND" not in str(e) and "UNABLE_TO_INFER_SCHEMA" not in str(e):
                raise
            seen = spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                         "content_hash string")
        flags = incremental_exact_dedup(ok, seen)
        kept = ok.join(flags.filter(SF.col("keep")), "doc_id").select(
            batch_df.columns + ["content_hash"]
        )
        kept.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
        kept.select("content_hash").distinct().write.mode("overwrite").parquet(
            f"{seen_path}/batch_id={batch_id}"
        )

    q = (
        docs_stream.writeStream.foreachBatch(one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def attribution_join(clicks: DataFrame, purchases: DataFrame,
                     horizon: str = "30 minutes",
                     watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream interval join: every (purchase, click)
    pair for the same user where the click precedes the purchase by at
    most `horizon` — the classic attribution join.

    Streaming semantics: both sides are watermarked and the join
    condition carries a two-sided time bound, so Spark can evict click
    state older than watermark+horizon and purchase state older than
    watermark — bounded state, the stream-stream requirement at scale.
    In BATCH mode withWatermark is a no-op and the identical plan is an
    interval equi-join on user_id — the same function IS the
    oracle-checked batch twin (q_attribution_join).
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id", "user_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        "click_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        "purchase_value",
    )


def cms_merge_batch(batch_df: DataFrame, batch_id: int, sketch_path: str,
                    col: str = "text") -> None:
    """One micro-batch of the streaming heavy-hitter tracker: tokenize,
    build the batch's Count-Min partial grid (≤ depth·width rows —
    bounded regardless of batch size), write it to its OWN batch_id=N
    directory with overwrite. A replayed batch rewrites the same
    directory instead of double-counting (the idempotent-foreachBatch
    contract shared with curation_ingest)."""
    from pyspark.sql import functions as SF

    from aws_data_pipeline_ads_spark.operators.sketches import cms_build

    tok = batch_df.select(
        SF.explode(SF.split(SF.trim(SF.lower(SF.col(col))), r"\s+")).alias("tok")
    )
    cms_build(tok, "tok").write.mode("overwrite").parquet(
        f"{sketch_path}/batch_id={batch_id}"
    )


def streaming_cms_sink(docs_stream: DataFrame, sketch_path: str,
                       checkpoint_dir: str, col: str = "text") -> None:
    """Heavy-hitter frequency state over an unbounded document stream
    with FIXED per-batch footprint: each micro-batch appends its
    ≤ depth·width-row CMS partial under batch_id=N; serving sums cells
    across partials (cms_served). State lives in the lake, merging is
    cell-wise addition (pinned mergeable by the batch-operator test),
    and the total answer equals one batch build over all data drained
    so far — the stream==batch twin contract."""
    q = (
        docs_stream.writeStream.foreachBatch(
            lambda df, bid: cms_merge_batch(df, bid, sketch_path, col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def cms_served(spark, sketch_path: str) -> DataFrame:
    """The accumulated sketch: cell-wise sum over every batch partial —
    exactly cms_build over the union of all drained batches."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy("seed", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def kmv_merge_batch(batch_df: DataFrame, batch_id: int, sketch_path: str,
                    k: int = 256) -> None:
    """One micro-batch of the streaming distinct-vocabulary tracker:
    shingle the batch (k=3, the q_kmv_distinct feature), build its
    per-source KMV bottom-k partial (≤ k rows per source — bounded
    regardless of batch size), write it to its OWN batch_id=N directory
    with overwrite. A replayed batch rewrites the same directory
    instead of polluting the union (the idempotent-foreachBatch
    contract shared with cms_merge_batch)."""
    from aws_data_pipeline_ads_spark.operators.dedup import (
        source_shingle_stream,
    )
    from aws_data_pipeline_ads_spark.operators.sketches import kmv_sketch

    sh = source_shingle_stream(batch_df, k=3)
    kmv_sketch(sh, ["source"], "tok", k=k).select("source", "h").write.mode(
        "overwrite"
    ).parquet(f"{sketch_path}/batch_id={batch_id}")


def streaming_kmv_sink(docs_stream: DataFrame, sketch_path: str,
                       checkpoint_dir: str, k: int = 256) -> None:
    """Distinct-vocabulary state over an unbounded document stream with
    FIXED per-batch footprint: each micro-batch appends its ≤ k-rows-
    per-source KMV partial under batch_id=N; serving merges bottom-k
    across partials (kmv_served). Union closure makes the served sketch
    IDENTICAL to one batch build over all drained data — bottom-k of a
    union of bottom-k sets is the bottom-k of the union — so the served
    estimates hash-match the batch oracle, not just approximate it."""
    q = (
        docs_stream.writeStream.foreachBatch(
            lambda df, bid: kmv_merge_batch(df, bid, sketch_path, k)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def kmv_served(spark, sketch_path: str, k: int = 256) -> DataFrame:
    """The accumulated sketch: bottom-k merge over every batch partial —
    exactly kmv_sketch over the union of all drained batches (minus the
    exact-count column, which does not survive merging; serve estimates
    through sketches.kmv_distinct_estimate).

    refreshByPath first: a batch REPLAY overwrites its partial under an
    already-read path, and Spark's shared file-status cache would
    otherwise serve the pre-replay listing (FAILED_READ_FILE on the
    deleted part files)."""
    from aws_data_pipeline_ads_spark.operators.sketches import kmv_merge

    spark.catalog.refreshByPath(sketch_path)
    return kmv_merge(
        spark.read.parquet(sketch_path).select("source", "h"),
        ["source"], k=k,
    )
