"""Streaming/batch equivalence tests (SURVEY §7.2 M5).

The streaming pipelines must produce the SAME results as their batch
twins when drained over the same static data — that equivalence is the
whole design (one window expression, two runtimes).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.plans.queries import QUERIES
from nyc_bikeshare_datawarehouse_spark.sources import versioned
from nyc_bikeshare_datawarehouse_spark.sources.readers import TABLE_SCHEMAS
from nyc_bikeshare_datawarehouse_spark.streaming import events as se

from conftest import rows_set


def test_tumbling_counts_matches_batch(spark, sf_dir):
    stream = se.stream_events(spark, sf_dir)
    assert stream.isStreaming
    se.run_available_now(se.tumbling_counts(stream), "t_tumbling", "complete")
    got = rows_set(spark.table("t_tumbling"))
    want = rows_set(QUERIES["q_tumbling_hour"](spark, sf_dir))
    assert got == want


def test_session_window_matches_batch_sessionize(spark, sf_dir):
    stream = se.stream_events(spark, sf_dir)
    se.run_available_now(se.session_window_stats(stream, gap="30 minutes"), "t_sessions", "complete")
    got = spark.table("t_sessions")
    want = QUERIES["q_sessionize"](spark, sf_dir)
    # session_window end = last_event + gap; compare (user, start, n_events)
    got_set = rows_set(got.select("user_id", "session_start", "n_events"))
    want_set = rows_set(want.select("user_id", "session_start", "n_events"))
    assert got_set == want_set


def test_stream_to_parquet_checkpointed(spark, sf_dir, tmp_path):
    # watermarked tumbling agg -> append-mode parquet with checkpoint;
    # availableNow drains everything, closing all windows
    stream = se.stream_events(spark, sf_dir)
    agg = se.tumbling_counts(stream, "1 hour", "0 seconds")
    q = se.stream_to_parquet(agg, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out"))
    want = QUERIES["q_tumbling_hour"](spark, sf_dir)
    # append mode holds back windows not yet past the watermark; with the
    # final event's hour still open, exactly that window may be missing
    assert want.count() - 1 <= got.count() <= want.count()
    joined = got.join(want.withColumnRenamed("n_events", "want_n"), "hour_start")
    assert joined.filter("n_events <> want_n").count() == 0


def test_foreach_batch_sink(spark, sf_dir, tmp_path):
    stream = se.stream_events(spark, sf_dir, max_files_per_trigger=1)
    seen = []

    def handle(df, batch_id):
        seen.append((batch_id, df.count()))

    q = se.stream_foreach_batch(stream, handle, str(tmp_path / "ckpt2"))
    q.awaitTermination()
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    assert sum(n for _, n in seen) == load_table(spark, sf_dir, "events").count()


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    from nyc_bikeshare_datawarehouse_spark.streaming.stateful import running_user_totals
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    stream = se.stream_events(spark, sf_dir)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in spark.table("t_state").collect()}
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    }
    assert got == want


def test_tws_running_totals_matches_batch(spark, sf_dir, tmp_path):
    # Spark 4 transformWithStateInPandas twin; needs protobuf + the
    # RocksDB state store. Where the container lacks protobuf the
    # import gate itself is the contract under test: it must fail fast
    # at CALL time with ImportError (not crash mid-stream in a worker),
    # so this test always runs — equivalence with protobuf, loud gate
    # without it.
    import pytest

    from nyc_bikeshare_datawarehouse_spark.streaming.stateful import running_user_totals_tws
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError):
            running_user_totals_tws(se.stream_events(spark, sf_dir))
        return

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = se.stream_events(spark, sf_dir)
        q = (
            running_user_totals_tws(stream)
            .writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in spark.table("t_tws").collect()}
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    }
    assert got == want


def test_dedup_stream_keyed_matches_batch_twin(spark, sf_dir, tmp_path):
    # keyed streaming dedup keeps the FIRST ARRIVAL per key; on an
    # in-(ts, event_id)-order replay that is exactly q_stream_dedup_batch's
    # rank-1 row per (user_id, event_type)
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    landing = tmp_path / "ordered"
    load_table(spark, sf_dir, "events").orderBy("ts", "event_id").coalesce(
        1
    ).write.parquet(str(landing))

    raw = (
        spark.readStream.schema(spark.read.parquet(str(landing)).schema)
        .parquet(str(landing))
    )
    q = (
        se.dedup_stream(raw, ["user_id", "event_type"], "10 minutes")
        .writeStream.format("memory")
        .queryName("t_keyed_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = rows_set(
        spark.table("t_keyed_dedup").select("user_id", "event_type", "event_id", "ts")
    )
    want = rows_set(QUERIES["q_stream_dedup_batch"](spark, sf_dir))
    assert got == want


def test_dedup_stream_removes_replays(spark, sf_dir, tmp_path):
    # duplicate the events file in a landing dir -> an at-least-once
    # replay; streaming dedup on event_id must restore exactly-once counts
    import shutil

    landing = tmp_path / "landing"
    landing.mkdir()
    src = f"{sf_dir}/events.parquet"
    shutil.copy(src, landing / "events_a.parquet")
    shutil.copy(src, landing / "events_b.parquet")

    raw = se._normalize_ts(
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing))
    )
    q = (
        se.dedup_stream(raw, ["event_id"], "10 minutes")
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    n_unique = load_table(spark, sf_dir, "events").count()
    assert spark.table("t_dedup").count() == n_unique


def test_stream_static_enrichment(spark, sf_dir):
    dim = spark.createDataFrame(
        [("error", 3), ("purchase", 1), ("signup", 1), ("click", 0), ("view", 0)],
        "event_type string, severity int",
    )
    stream = se.stream_events(spark, sf_dir)
    enriched = se.enrich_stream(stream, dim).groupBy("severity").count()
    se.run_available_now(enriched, "t_enrich", "complete")
    got = {r["severity"]: r["count"] for r in spark.table("t_enrich").collect()}
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    want = {
        r["severity"]: r["count"]
        for r in load_table(spark, sf_dir, "events")
        .join(dim, "event_type")
        .groupBy("severity")
        .count()
        .collect()
    }
    assert got == want


def test_sliding_counts_total(spark, sf_dir):
    stream = se.stream_events(spark, sf_dir)
    se.run_available_now(se.sliding_counts(stream, "1 hour", "15 minutes"), "t_sliding", "complete")
    total = spark.table("t_sliding").agg(F.sum("n_events")).first()[0]
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    n = load_table(spark, sf_dir, "events").count()
    assert total == n * 4  # every event lands in exactly window/slide = 4 buckets


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    # click followed by a same-user purchase within 1 hour: run the SAME
    # interval join as stream-stream (append mode) and as a static join
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    stream = se.stream_events(spark, sf_dir)
    joined = se.stream_stream_interval_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    assert joined.isStreaming
    se.run_available_now(joined, "t_ssj", "append")
    got = rows_set(spark.table("t_ssj"))

    ev = load_table(spark, sf_dir, "events")
    want = rows_set(
        se.stream_stream_interval_join(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        )
    )
    assert len(want) > 0
    assert got == want


def test_drop_late_rows_matches_streaming_watermark(spark, tmp_path):
    # drop_late_rows' contract: it keeps exactly the rows a fully
    # caught-up streaming watermark would still ACCEPT into state.
    # Prove it: batch 1 drains the corpus, batch 2 is a single on-time row
    # at the corpus max (the watermark Spark applies during batch N is
    # computed from batches 0..N-1, i.e. it lags the progress report by
    # one batch), batch 3 replays every row under a fresh probe id — the
    # probes the watermarked stateful agg accepts must equal
    # drop_late_rows' kept set over the same corpus.
    import datetime as dt
    import os

    base = dt.datetime(2024, 1, 1)
    orig = [
        (i, base + dt.timedelta(minutes=m))
        for i, m in [(1, 0), (2, 30), (3, 75), (4, 110), (5, 180)]
    ]
    mid = [(50, base + dt.timedelta(minutes=180))]  # ties corpus max: cutoff unchanged
    probes = [(100 + i, ts) for i, ts in orig]
    schema = "event_id long, ts timestamp"
    landing = tmp_path / "landing"
    landing.mkdir()
    for name, rows, mtime in [("b1", orig, 1_000), ("b2", mid, 2_000), ("b3", probes, 3_000)]:
        stage = tmp_path / f"w_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        dest = landing / f"{name}.parquet"
        part.rename(dest)
        os.utime(dest, (mtime, mtime))  # file mtime orders the micro-batches

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing))
    )
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "30 minutes").alias("win"), "event_id")
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late_probe")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    accepted = {
        r["event_id"] - 100
        for r in spark.table("t_late_probe").filter("event_id >= 100").collect()
    }
    kept = {
        r["event_id"]
        for r in se.drop_late_rows(
            spark.createDataFrame(orig, schema), "2 hours", ts_col="ts"
        ).collect()
    }
    # watermark = 3:00 - 2h = 1:00 -> rows at 0:00 and 0:30 are late
    assert accepted == kept == {3, 4, 5}
    assert dropped == 2


def test_drop_late_rows_keyed_per_key_cutoff(spark):
    # keyed form: each key's high-water mark is its OWN max(ts), so a row
    # late for one key can be on time for another
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("a", 1, base + dt.timedelta(hours=0)),
        ("a", 2, base + dt.timedelta(hours=5)),   # key a cutoff: 3:00
        ("b", 3, base + dt.timedelta(hours=0)),
        ("b", 4, base + dt.timedelta(hours=1)),   # key b cutoff: -1:00 -> all kept
    ]
    df = spark.createDataFrame(rows, "user_id string, event_id long, ts timestamp")
    kept = {
        r["event_id"]
        for r in se.drop_late_rows(df, "2 hours", key="user_id").collect()
    }
    assert kept == {2, 3, 4}


def test_countmin_stream_state_equals_batch_sketch(spark, sf_dir, tmp_path):
    from nyc_bikeshare_datawarehouse_spark.functions.sketches import countmin_build
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import countmin_stream

    batch = load_table(spark, sf_dir, "events").select("user_id")
    src = str(tmp_path / "src")
    batch.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = countmin_stream(
        stream, "user_id", str(tmp_path / "cm_state"), str(tmp_path / "cm_ckpt")
    )
    q.awaitTermination()
    got = versioned.read_snapshot(spark, str(tmp_path / "cm_state"))
    want = countmin_build(spark.read.parquet(src), "user_id")
    assert rows_set(got) == rows_set(want)


def test_hll_stream_state_equals_batch_sketch(spark, sf_dir, tmp_path):
    from nyc_bikeshare_datawarehouse_spark.functions.sketches import hll_registers
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import hll_stream

    batch = load_table(spark, sf_dir, "events").select("user_id")
    src = str(tmp_path / "src")
    batch.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = hll_stream(
        stream, "user_id", str(tmp_path / "hll_state"), str(tmp_path / "hll_ckpt")
    )
    q.awaitTermination()
    got = versioned.read_snapshot(spark, str(tmp_path / "hll_state"))
    want = hll_registers(spark.read.parquet(src), "user_id")
    assert rows_set(got) == rows_set(want)


def test_sketch_merge_replay_is_idempotent(spark, sf_dir, tmp_path):
    # foreachBatch is at-least-once: re-delivering a batch id must not
    # cell-add the same counts twice (count-min merge is not idempotent)
    from nyc_bikeshare_datawarehouse_spark.functions.sketches import (
        countmin_build,
        countmin_merge,
    )
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import _sketch_merge_fn

    batch = load_table(spark, sf_dir, "events").select("user_id").limit(200)
    state = str(tmp_path / "cm_state")
    merge = _sketch_merge_fn(
        state, lambda df: countmin_build(df, "user_id"), countmin_merge
    )
    merge(batch, 0)
    once = rows_set(versioned.read_snapshot(spark, state))
    merge(batch, 0)  # replay of the same micro-batch
    assert rows_set(versioned.read_snapshot(spark, state)) == once
    merge(batch, 1)  # a genuinely new batch still folds in
    assert rows_set(versioned.read_snapshot(spark, state)) != once


def test_sketch_fold_dying_before_publish_leaves_head(
    spark, sf_dir, tmp_path, monkeypatch
):
    # a fold that dies after staging its grid but before the manifest
    # publish must leave the head untouched; the replayed batch then
    # folds exactly once
    import pytest

    from nyc_bikeshare_datawarehouse_spark.functions.sketches import (
        countmin_build,
        countmin_merge,
    )
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import _sketch_merge_fn

    batch = load_table(spark, sf_dir, "events").select("user_id").limit(200)
    state = str(tmp_path / "cm_state")
    merge = _sketch_merge_fn(
        state, lambda df: countmin_build(df, "user_id"), countmin_merge
    )
    merge(batch, 0)
    published = rows_set(versioned.read_snapshot(spark, state))

    def crash(*_args, **_kwargs):
        raise RuntimeError("writer died before the publish")

    with monkeypatch.context() as m:
        m.setattr(versioned, "_commit", crash)
        with pytest.raises(RuntimeError, match="before the publish"):
            merge(batch, 1)
    assert versioned.latest_version(state) == 1
    assert rows_set(versioned.read_snapshot(spark, state)) == published
    merge(batch, 1)  # replayed delivery after restart
    merge(batch, 1)  # and a second replay is skipped
    want = rows_set(
        countmin_merge(
            countmin_build(batch, "user_id"), countmin_build(batch, "user_id")
        )
    )
    assert rows_set(versioned.read_snapshot(spark, state)) == want


def test_sketch_state_retains_two_versions(spark, tmp_path):
    # retention is a constant: after each fold only the new head and the
    # previous one stay, so state space is bounded like a single copy
    import os

    from nyc_bikeshare_datawarehouse_spark.functions.sketches import (
        countmin_build,
        countmin_merge,
    )
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import _sketch_merge_fn

    state = str(tmp_path / "cm_state")
    merge = _sketch_merge_fn(
        state, lambda df: countmin_build(df, "id"), countmin_merge
    )
    for i in range(4):
        merge(spark.range(10 * i, 10 * i + 10), i)
    manifests = sorted(f for f in os.listdir(state) if f.startswith("_manifest_v"))
    assert manifests == ["_manifest_v3.json", "_manifest_v4.json"]
    assert rows_set(versioned.read_snapshot(spark, state)) == rows_set(
        countmin_build(spark.range(0, 40), "id")
    )


def test_concurrent_sketch_folds_publish_only_returned_batches(
    spark, sf_dir, tmp_path
):
    # four folds race into one count-min state: each either returns or
    # raises CommitConflict, and the published grid is the sketch of
    # exactly the batches whose fold returned — never a grid merged from
    # a head the winner did not read
    import sys
    import threading

    from nyc_bikeshare_datawarehouse_spark.functions.sketches import (
        countmin_build,
        countmin_merge,
    )
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import _sketch_merge_fn

    # disjoint batches of 100/200/300/400 events
    ev = load_table(spark, sf_dir, "events")
    bounds = [0, 100, 300, 600, 1000]
    batches = {
        i: ev.filter(
            (F.col("event_id") >= bounds[i]) & (F.col("event_id") < bounds[i + 1])
        ).select("user_id")
        for i in range(4)
    }
    state = str(tmp_path / "cm_state")
    merge = _sketch_merge_fn(
        state, lambda df: countmin_build(df, "user_id"), countmin_merge
    )
    start = threading.Barrier(len(batches))
    outcome: dict[int, Exception | None] = {}

    def fold(i):
        start.wait(timeout=60)
        try:
            merge(batches[i], i)
            outcome[i] = None
        except Exception as e:  # recorded, asserted below
            outcome[i] = e

    threads = [threading.Thread(target=fold, args=(i,)) for i in batches]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert sorted(outcome) == sorted(batches)
    returned = sorted(i for i, e in outcome.items() if e is None)
    assert returned
    for i, e in outcome.items():
        assert e is None or isinstance(e, versioned.CommitConflict), repr(e)
    folded = batches[returned[0]]
    for i in returned[1:]:
        folded = folded.unionAll(batches[i])
    assert rows_set(versioned.read_snapshot(spark, state)) == rows_set(
        countmin_build(folded, "user_id")
    )


def test_histogram_stream_state_equals_batch_sketch(spark, sf_dir, tmp_path):
    from nyc_bikeshare_datawarehouse_spark.functions.sketches import histogram_sketch
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import histogram_stream

    batch = load_table(spark, sf_dir, "events").select("value")
    src = str(tmp_path / "src")
    batch.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = histogram_stream(
        stream, "value", str(tmp_path / "h_state"), str(tmp_path / "h_ckpt"),
        lo=0, hi=500, n_bins=125,
    )
    q.awaitTermination()
    got = versioned.read_snapshot(spark, str(tmp_path / "h_state"))
    want = histogram_sketch(spark.read.parquet(src), "value", 0, 500, 125)
    assert rows_set(got) == rows_set(want)


def test_kmv_stream_state_equals_batch_sketch(spark, sf_dir, tmp_path):
    from nyc_bikeshare_datawarehouse_spark.functions.sketches import kmv_sketch
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import kmv_stream

    batch = load_table(spark, sf_dir, "events").select("user_id")
    src = str(tmp_path / "src")
    batch.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = kmv_stream(
        stream, "user_id", str(tmp_path / "kmv_state"), str(tmp_path / "kmv_ckpt"), k=32
    )
    q.awaitTermination()
    got = versioned.read_snapshot(spark, str(tmp_path / "kmv_state"))
    want = kmv_sketch(spark.read.parquet(src), "user_id", 32)
    assert rows_set(got) == rows_set(want)


def test_streaming_drift_monitor_end_to_end(spark, sf_dir, tmp_path):
    # the full streaming drift story: a stream-MAINTAINED histogram state
    # is directly consumable by drift.psi_from_histograms — PSI against a
    # current slice equals the all-batch computation bin for bin
    from nyc_bikeshare_datawarehouse_spark.functions.drift import psi_from_histograms
    from nyc_bikeshare_datawarehouse_spark.functions.sketches import histogram_sketch
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import histogram_stream

    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0).select("value")
    cur = ev.filter(F.col("event_id") % 2 == 1).select("value")
    src = str(tmp_path / "ref_src")
    ref.repartition(3).write.parquet(src)
    q = histogram_stream(
        spark.readStream.schema(ref.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src),
        "value", str(tmp_path / "state"), str(tmp_path / "ckpt"),
        lo=0, hi=500, n_bins=125,
    )
    q.awaitTermination()
    streamed_state = versioned.read_snapshot(spark, str(tmp_path / "state"))
    cur_sketch = histogram_sketch(cur, "value", 0, 500, 125)
    got = {r["bin"]: (r["ref_n"], r["cur_n"], r["psi_contrib"])
           for r in psi_from_histograms(streamed_state, cur_sketch, 125).collect()}
    want_ref = histogram_sketch(ref, "value", 0, 500, 125)
    want = {r["bin"]: (r["ref_n"], r["cur_n"], r["psi_contrib"])
            for r in psi_from_histograms(want_ref, cur_sketch, 125).collect()}
    assert got == want
    assert len(got) == 125


def test_checksum_stream_state_equals_batch_checksum(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import checksum_stream
    from nyc_bikeshare_datawarehouse_spark.warehouse.quality import checksum_state

    batch = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    src = str(tmp_path / "src")
    batch.repartition(3).write.parquet(src)
    cols = [
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderpriority"),
    ]
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = checksum_stream(
        stream, cols, str(tmp_path / "ck_state"), str(tmp_path / "ck_ckpt")
    )
    q.awaitTermination()
    got = versioned.read_snapshot(spark, str(tmp_path / "ck_state"))
    want = checksum_state(spark.read.parquet(src), cols)
    # micro-batch-folded state == one-shot batch state, field for field
    assert rows_set(got) == rows_set(want)
    assert got.head()["n_rows"] == batch.count()


def test_confusion_stream_state_equals_batch_metrics(spark, sf_dir, tmp_path):
    # the streamed confusion state, read back through confusion_report,
    # must equal the one-shot q_threshold_metrics computation over the
    # same corpus — counts are an additive algebra, so micro-batch
    # folding is exact, not approximate
    from pyspark.sql import functions as F

    from nyc_bikeshare_datawarehouse_spark.functions.metrics import (
        confusion_report,
        threshold_metrics,
    )
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table
    from nyc_bikeshare_datawarehouse_spark.streaming.sketches import confusion_stream

    thresholds = (8150, 8250)
    base = load_table(spark, sf_dir, "documents").select(
        F.floor(
            F.lit(10000)
            * F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
            / F.length("text")
        ).cast("long").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    src = str(tmp_path / "src")
    base.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = confusion_stream(
        stream, "score", "label", thresholds,
        str(tmp_path / "cf_state"), str(tmp_path / "cf_ckpt"),
    )
    q.awaitTermination()
    got = confusion_report(versioned.read_snapshot(spark, str(tmp_path / "cf_state")))
    want = threshold_metrics(
        spark.read.parquet(src), F.col("score"), F.col("label"), thresholds
    )
    assert rows_set(got) == rows_set(want)


def test_stream_to_snapshots_time_travelable(spark, sf_dir, tmp_path):
    """Streamed micro-batches land as versioned-table commits: the final
    snapshot's content equals the batch table, every intermediate
    snapshot is a strict prefix (append reuses prior files), and each
    historical version stays readable after the stream ends."""
    from nyc_bikeshare_datawarehouse_spark.sources import versioned

    stream = se.stream_events(spark, sf_dir, max_files_per_trigger=1)
    rows = stream.select("event_id", "event_type")
    base = str(tmp_path / "snap_tbl")
    q = se.stream_to_snapshots(rows, base, str(tmp_path / "ckpt"))
    q.awaitTermination()
    last = versioned.latest_version(base)
    assert last >= 1
    from nyc_bikeshare_datawarehouse_spark.sources.readers import load_table

    want = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    final = versioned.read_snapshot(spark, base, last)
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    # history: counts strictly increase and every version reads
    prev = 0
    for v in range(1, last + 1):
        n = versioned.read_snapshot(spark, base, v).count()
        assert n > prev
        prev = n


def test_snapshot_sink_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a re-delivered batch id must NOT
    append a duplicate snapshot (the batch id commits atomically inside
    the manifest), while the next id commits normally."""
    from nyc_bikeshare_datawarehouse_spark.sources import versioned
    from nyc_bikeshare_datawarehouse_spark.streaming.events import (
        commit_stream_batch,
    )

    base = str(tmp_path / "tbl")
    df5 = spark.range(0, 4)
    assert commit_stream_batch(df5, 5, base) == 1
    assert commit_stream_batch(df5, 5, base) is None  # replay: no-op
    assert versioned.latest_version(base) == 1
    assert commit_stream_batch(spark.range(4, 6), 6, base) == 2
    assert versioned.read_snapshot(spark, base, 2).count() == 6
    # empty batches never commit spurious versions
    assert commit_stream_batch(spark.range(0, 0), 7, base) is None
    assert versioned.latest_version(base) == 2
    # an interleaved NON-stream snapshot (no batch_id metadata) must not
    # reset the replay guard: the guard scans back to the newest manifest
    # carrying a batch_id (r11 advice), so a replay of id 6 stays a no-op
    versioned.write_snapshot(spark.range(90, 93), base)
    assert versioned.latest_version(base) == 3
    assert commit_stream_batch(spark.range(4, 6), 6, base) is None
    assert versioned.latest_version(base) == 3
    assert commit_stream_batch(spark.range(6, 8), 8, base) == 4


def test_snapshot_sink_compaction_policy(spark, tmp_path):
    """compact_every=N: every N-th committed batch triggers a compaction
    commit (no batch_id metadata) — the replay guard must survive it and
    a replayed batch must never re-compact."""
    import json
    import os

    from nyc_bikeshare_datawarehouse_spark.sources import versioned
    from nyc_bikeshare_datawarehouse_spark.streaming.events import (
        commit_stream_batch,
    )

    base = str(tmp_path / "tbl")
    assert commit_stream_batch(
        spark.range(0, 3).repartition(3), 0, base, compact_every=2
    ) == 1
    assert versioned.latest_version(base) == 1
    # batch 1 commits (v2) AND compacts (v3)
    assert commit_stream_batch(
        spark.range(3, 6).repartition(3), 1, base, compact_every=2
    ) == 2
    assert versioned.latest_version(base) == 3
    files = json.load(
        open(os.path.join(base, "_manifest_v3.json"))
    )["files"]
    assert versioned.read_snapshot(spark, base, 3).count() == 6
    assert len(files) <= spark.sparkContext.defaultParallelism
    # replay of batch 1: guard scans back past the compaction manifest,
    # skips the commit, and does NOT compact again
    assert commit_stream_batch(
        spark.range(3, 6), 1, base, compact_every=2
    ) is None
    assert versioned.latest_version(base) == 3
    # next batch commits normally on top of the compacted table
    assert commit_stream_batch(spark.range(6, 8), 2, base, compact_every=2) == 4
    assert versioned.read_snapshot(spark, base).count() == 8
    # the compaction manifest carries the batch id forward: its metadata
    # must report the max committed id even though v3 is not a data commit
    assert versioned.manifest_metadata(base, 3).get("batch_id") == 1


def test_snapshot_sink_retention_survives_replay(spark, tmp_path):
    """keep_last expires old snapshots after each commit; because the
    compaction carries the batch id forward, a replay arriving AFTER the
    data commit was expired must still be skipped."""
    from nyc_bikeshare_datawarehouse_spark.sources import versioned
    from nyc_bikeshare_datawarehouse_spark.streaming.events import (
        commit_stream_batch,
    )

    base = str(tmp_path / "tbl")
    # batch 0 commits v1; batch 1 commits v2 + compacts v3 + retention
    # (keep_last=1) expires v1..v2 — including batch 1's own data commit
    assert commit_stream_batch(
        spark.range(0, 3), 0, base, compact_every=2, keep_last=1
    ) == 1
    assert commit_stream_batch(
        spark.range(3, 6), 1, base, compact_every=2, keep_last=1
    ) == 2
    assert versioned.latest_version(base) == 3
    import os

    assert not os.path.exists(os.path.join(base, "_manifest_v1.json"))
    assert not os.path.exists(os.path.join(base, "_manifest_v2.json"))
    # replays of already-reflected ids stay no-ops even though their data
    # commits are gone — the surviving compaction manifest carries id 1
    assert commit_stream_batch(spark.range(0, 3), 0, base, keep_last=1) is None
    assert commit_stream_batch(spark.range(3, 6), 1, base, keep_last=1) is None
    assert versioned.read_snapshot(spark, base).count() == 6
    # a genuinely new batch still commits
    assert commit_stream_batch(spark.range(6, 9), 2, base, keep_last=1) == 4
    # MERGE over a streamed table carries the batch id too: even after
    # the merge (v5) and a retention sweep, the replay of id 2 is a no-op
    upd = spark.createDataFrame([(100,)], "id long")
    assert versioned.merge_into_snapshot(spark, base, upd, "id") == 5
    versioned.expire_snapshots(base, keep_from=5)
    assert commit_stream_batch(spark.range(6, 9), 2, base) is None
    assert versioned.read_snapshot(spark, base).count() == 10


def test_snapshot_sink_clustered_compaction_earns_skipping(spark, tmp_path):
    """cluster_by on the sink's periodic compaction: micro-batch files
    span the keyspace (zone maps inert), the every-2nd-batch clustered
    compaction re-sorts into disjoint ranges + fresh stats, so the live
    manifest prunes where_range reads — and the batch-id replay guard
    still rides the compaction manifest."""
    import json
    import os

    from nyc_bikeshare_datawarehouse_spark.sources import versioned
    from nyc_bikeshare_datawarehouse_spark.streaming.events import (
        commit_stream_batch,
    )

    base = str(tmp_path / "tbl")
    kw = dict(compact_every=2, cluster_by=["id"])
    # each batch spans [0, 100): interleaved ids
    commit_stream_batch(spark.range(0, 100).filter("id % 2 = 0"), 0, base, **kw)
    commit_stream_batch(spark.range(0, 100).filter("id % 2 = 1"), 1, base, **kw)
    last = versioned.latest_version(base)
    m = json.load(open(os.path.join(base, f"_manifest_v{last}.json")))
    # batch 1 triggered the clustered compaction (batch_id % 2 == 1)
    assert m["metadata"]["batch_id"] == 1
    kept = versioned.prune_files(m, where_range={"id": (10, 15)})
    assert 0 < len(kept) < len(m["files"])
    got = sorted(
        r["id"]
        for r in versioned.read_snapshot(
            spark, base, where_range={"id": (10, 15)}
        ).collect()
    )
    assert got == list(range(10, 16))
    # replay of a compacted batch still a no-op
    assert commit_stream_batch(spark.range(0, 5), 1, base, **kw) is None
