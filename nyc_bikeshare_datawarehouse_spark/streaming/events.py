"""Structured Streaming surface for the events stream (SURVEY §2.9, M5).

The batch queries q_tumbling_hour / q_sessionize have exact streaming
twins here: the SAME `window()` / `session_window()` expressions run
incrementally with watermark-bounded state. Batch/stream equivalence is
asserted in tests (the Kappa-style guarantee: one logic, two runtimes).

Scale posture:
- Watermarks bound state: an aggregation over `window(ts, '1 hour')` with
  a 2-hour watermark keeps at most ~3 hours of open windows per key
  regardless of input volume.
- File source streams a directory incrementally (`maxFilesPerTrigger`);
  in production this is the landing zone written by `sinks.write_parquet`
  partitioned by arrival time.
- `availableNow` trigger = batch-sized catch-up with streaming semantics
  (used by the tests; also the right backfill mode in production).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.sources.readers import TABLE_SCHEMAS


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over the events parquet, read with the declared
    corpus schema (streaming readers require one) and the same ts
    normalization as the batch reader (sources/readers.py)."""
    raw = (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_ts(raw)


def _normalize_ts(raw: DataFrame) -> DataFrame:
    """TIMESTAMP_NTZ → TIMESTAMP under the pinned UTC session, identical to
    the batch reader's normalization."""
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of q_tumbling_hour — identical window expression,
    plus a watermark to bound state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "n_events", "sum_value")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window counts (each event lands in window/slide buckets)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization via the built-in session_window — the
    incremental twin of operators.sessionize (same 30-min gap semantics;
    state per open session, closed by the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def enrich_stream(events: DataFrame, dim: DataFrame, on: str = "event_type") -> DataFrame:
    """Stream-static join: enrich a stream with a (small) batch dimension.
    The static side is broadcast per micro-batch; no stream state is
    created, so this is the cheapest streaming join and the right shape
    for lookup enrichment (severity codes, geo tables, model versions)."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM inner join with a time-interval condition — the
    funnel primitive (left event followed by a right event from the same
    key within `within`). Both sides carry watermarks AND the join
    condition bounds right.ts to [left.ts, left.ts + within]: that pair is
    what lets Spark expire join state — without the interval bound the
    state grows forever. Inner interval joins emit in append mode, so
    results land exactly once as the watermark closes each window.

    Batch twin: the identical join condition over two static frames
    (tested equivalent in tests/test_streaming.py)."""
    l = left.withWatermark("ts", watermark).select(
        F.col(key),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("__rkey"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    cond = (
        (F.col(key) == F.col("__rkey"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").drop("__rkey")


def drop_late_rows(
    events: DataFrame,
    delay: str = "2 hours",
    ts_col: str = "ts",
    key: str | None = None,
) -> DataFrame:
    """Batch expression of watermark late-row dropping: keep a row iff
    `ts >= max(ts) - delay` — exactly the rows a fully-caught-up
    streaming watermark (`withWatermark(ts, delay)`) would still accept
    into open state. Keyed form (`key=...`) scopes the high-water mark
    per key (the per-source/per-partition watermark generalization);
    global form matches Spark's single global watermark.

    Scale: the global max is a 1-row aggregate broadcast back over the
    stream (no window, no single-partition sort); the keyed max is a
    groupBy on the key joined back on the key — Catalyst/AQE picks
    broadcast vs sort-merge by the key-side size (a billion-key watermark
    table must NOT be forced broadcast).
    """
    if key is None:
        mx = events.agg(F.max(ts_col).alias("__mx"))
        out = events.crossJoin(F.broadcast(mx))
    else:
        mx = events.groupBy(key).agg(F.max(ts_col).alias("__mx"))
        out = events.join(mx, key)
    return (
        out.filter(F.col(ts_col) >= F.col("__mx") - F.expr(f"INTERVAL {delay}"))
        .drop("__mx")
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps each key's state only until the
    watermark passes it, so state size is O(keys-per-watermark-window) —
    the streaming twin of functions.dedup.exact_dedup. Default key:
    event_id (at-least-once source -> exactly-once downstream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Append-mode parquet sink with checkpointed exactly-once progress —
    the production landing path for streamed aggregates (watermarked
    append emits each window once, when it closes)."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    checkpoint_path: str,
    available_now: bool = True,
):
    """foreachBatch sink: each micro-batch arrives as a normal DataFrame,
    so arbitrary batch logic (merge-into, multi-table writes, quality
    gates) runs with streaming progress tracking. `batch_fn(df, batch_id)`."""
    writer = stream_df.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_available_now(stream_df: DataFrame, table_name: str, output_mode: str = "complete") -> None:
    """Drain the stream with the availableNow trigger into an in-memory
    table (tests / backfills), blocking until done."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_to_snapshots(
    stream_df: DataFrame,
    base_dir: str,
    checkpoint_path: str,
    available_now: bool = True,
    compact_every: int | None = None,
    keep_last: int | None = None,
    cluster_by: list[str] | None = None,
):
    """Stream → versioned-table sink: every micro-batch COMMITS one
    append snapshot of the manifest table format (sources/versioned.py)
    via foreachBatch — the streaming CDC feed whose whole history stays
    time-travelable (reprocess any training run against the snapshot it
    actually saw).

    Exactly-once story: foreachBatch is at-least-once (a crash between
    the manifest publish and Spark's checkpoint commit re-delivers the
    batch), so the source batch id is committed IN the manifest,
    atomically with the snapshot, and replayed ids are skipped — the
    same guard the streaming sketch folds use (streaming/sketches.py). The batch frame is
    persisted across the emptiness probe + parquet write so the source
    plan executes once per batch, and empty final batches (availableNow
    drains often emit one) do not commit spurious no-delta versions.

    `compact_every=N` enables the maintenance policy a long-lived
    append sink needs: every N-th committed stream batch is followed by
    a `versioned.compact_snapshot` (file count in the live manifest
    stays bounded instead of one file set per micro-batch). The
    compaction commit CARRIES the batch id forward in its own metadata
    (versioned.compact_snapshot), so it can never reset the replay
    guard — and, crucially, a retention sweep that expires the original
    data commits cannot either.

    `keep_last=N` is that retention sweep: after each commit (and
    compaction, if due) snapshots older than the newest N are expired —
    dead files reclaimed, history bounded. Safe with replays because
    the surviving newest manifest always carries the max committed
    batch id (directly or via compaction carry-forward).

    `cluster_by` upgrades the periodic compaction to a CLUSTERED one
    (versioned.compact_snapshot cluster_by): micro-batch files each
    span the keyspace, so the live table's zone maps are inert between
    compactions — the clustered rewrite re-sorts into disjoint ranges
    and records fresh per-file min/max in the same commit, so a
    long-running streamed table keeps earning `where_range` skipping
    back every N batches."""
    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        commit_stream_batch(
            batch_df,
            batch_id,
            base_dir,
            compact_every=compact_every,
            keep_last=keep_last,
            cluster_by=cluster_by,
        )

    return stream_foreach_batch(
        stream_df, _commit, checkpoint_path, available_now
    )


def commit_stream_batch(
    batch_df: DataFrame,
    batch_id: int,
    base_dir: str,
    compact_every: int | None = None,
    keep_last: int | None = None,
    cluster_by: list[str] | None = None,
) -> int | None:
    """The snapshot sink's per-batch commit, factored out so the replay
    guard is directly testable: returns the committed version, or None
    when the batch was a replay / empty. See stream_to_snapshots for
    the exactly-once argument and the compact_every policy. Crash
    safety of the maintenance step: a crash between the data commit
    and the compaction just skips one compaction — the NEXT eligible
    batch compacts; a replayed batch never re-compacts because it
    never re-commits."""
    from nyc_bikeshare_datawarehouse_spark.sources import versioned

    # scan-back, not latest-manifest: an interleaved non-stream snapshot
    # (no batch_id metadata) must not reset the guard (versioned.
    # last_metadata_value docstring)
    last = versioned.last_metadata_value(base_dir, "batch_id", -1)
    if batch_id <= last:
        return None  # at-least-once replay of an already-committed batch
    batch_df.persist()
    try:
        if batch_df.isEmpty():
            return None
        version = versioned.write_snapshot(
            batch_df,
            base_dir,
            mode="append",
            metadata={"batch_id": batch_id},
        )
        if compact_every and batch_id % compact_every == compact_every - 1:
            spark = batch_df.sparkSession
            # carry the batch id onto the compaction manifest: retention
            # may expire the data commit, and the guard must survive that
            versioned.compact_snapshot(
                spark,
                base_dir,
                target_files=spark.sparkContext.defaultParallelism,
                metadata={"batch_id": batch_id},
                cluster_by=cluster_by,
            )
        if keep_last:
            last = versioned.latest_version(base_dir)
            keep_from = last - keep_last + 1
            if keep_from > 1:
                versioned.expire_snapshots(base_dir, keep_from=keep_from)
        return version
    finally:
        batch_df.unpersist()
