"""Structured Streaming: replay the events table through a file-source
stream and assert streaming output == the oracle-checked batch twin."""

from __future__ import annotations

import pytest

from map_reduce485_spark.catalog import load_table
from map_reduce485_spark.streaming import (
    read_events_stream,
    stream_dedup_exact,
    stream_sessionize,
    stream_tumbling_counts,
    stream_user_running_totals,
)
from map_reduce485_spark.streaming.jobs import run_to_memory_sink
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_landing(tmp_path_factory):
    """Materialize events into a landing-zone dir (micros timestamps) the
    file stream can ingest — several files so the source has real listing
    work to do."""
    from map_reduce485_spark import get_spark

    spark = get_spark("tests", cpus=8, shuffle_partitions=8)
    d = tmp_path_factory.mktemp("events_landing")
    load_table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(str(d))
    return str(d)


def test_stream_tumbling_equals_batch(spark, events_landing):
    stream = stream_tumbling_counts(read_events_stream(spark, events_landing))
    run_to_memory_sink(stream, "tumbling_t", mode="complete")
    got = {
        r.window_start: (r.n_events, r.sum_value)
        for r in spark.table("tumbling_t").collect()
    }
    exp = {
        r.window_start: (r.n_events, r.sum_value)
        for r in stream_tumbling_counts(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert got == exp and len(got) > 0


def test_stream_sessionize_equals_batch(spark, events_landing):
    stream = stream_sessionize(read_events_stream(spark, events_landing))
    run_to_memory_sink(stream, "sessions_t", mode="complete")
    got = {
        (r.user_id, r.session_start): (r.n_events, r.session_last)
        for r in spark.table("sessions_t").collect()
    }
    exp = {
        (r.user_id, r.session_start): (r.n_events, r.session_last)
        for r in stream_sessionize(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert got == exp and len(got) > 0


def test_stream_dedup(spark, events_landing, tmp_path):
    """Duplicate every event into the landing zone twice → streaming dedup
    emits each exactly once."""
    dup_dir = tmp_path / "dup"
    base = spark.read.parquet(events_landing)
    base.union(base).repartition(3).write.mode("overwrite").parquet(str(dup_dir))
    stream = stream_dedup_exact(read_events_stream(spark, str(dup_dir)))
    run_to_memory_sink(stream, "dedup_t", mode="append")
    assert spark.table("dedup_t").count() == base.count()


def test_stream_stateful_running_totals(spark, events_landing):
    """applyInPandasWithState custom operator: totals after draining the
    stream equal the batch per-user aggregates."""
    from pyspark.sql import functions as F

    stream = stream_user_running_totals(read_events_stream(spark, events_landing))
    run_to_memory_sink(stream, "totals_t", mode="update")
    # update-mode memory sink may hold multiple rows per user (one per
    # batch); the final state is the row with the highest per-user
    # emission counter — final by construction, no data monotonicity needed
    got = {
        r.user_id: (r.total_events, r.total_value_cents)
        for r in spark.table("totals_t")
        .groupBy("user_id")
        .agg(
            F.expr("max_by(total_events, n_updates)").alias("total_events"),
            F.expr("max_by(total_value_cents, n_updates)").alias(
                "total_value_cents"
            ),
        )
        .collect()
    }
    exp = {
        r.user_id: (r.n, r.cents)
        for r in spark.read.parquet(events_landing)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == exp and len(got) > 0


def test_stream_sliding_equals_batch(spark, events_landing):
    from map_reduce485_spark.streaming import stream_sliding_counts

    stream = stream_sliding_counts(read_events_stream(spark, events_landing))
    run_to_memory_sink(stream, "sliding_t", mode="complete")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("sliding_t").collect()
    }
    exp = {
        (r.window_start, r.event_type): r.n_events
        for r in stream_sliding_counts(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert got == exp and len(got) > 0


def test_stream_stream_interval_join_equals_batch(spark, events_landing):
    """Stream-stream attribution join (watermarked interval condition) must
    equal the same join run as a batch query."""
    import pyspark.sql.functions as F

    from map_reduce485_spark.streaming import stream_view_purchase_join

    src = read_events_stream(spark, events_landing)
    stream = stream_view_purchase_join(
        src.filter(F.col("event_type") == "view"),
        src.filter(F.col("event_type") == "purchase"),
    )
    run_to_memory_sink(stream, "vp_join_t", mode="append")
    got = {(r.view_id, r.purchase_id) for r in spark.table("vp_join_t").collect()}

    ev = load_table(spark, SF_SMOKE, "events")
    batch = stream_view_purchase_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    exp = {(r.view_id, r.purchase_id) for r in batch.collect()}
    assert got == exp and len(got) > 0


def test_stream_checkpoint_recovery_exactly_once(spark, events_landing, tmp_path):
    """Interrupt a checkpointed file-sink query mid-stream, restart it, and
    the sink must hold each event exactly once — no loss, no duplicates.
    The streaming analog of the reference's failed-task re-execution
    (manager/__main__.py:426-438): offsets live in the checkpoint WAL and
    the parquet sink commits atomically per micro-batch, so a restart
    resumes instead of reprocessing.

    Uses the streaming-dedup job (emits rows immediately) rather than a
    windowed agg: append-mode windows can't flush past the final watermark
    on a finite stream, which would conflate emission lag with loss."""
    import time as _time

    from map_reduce485_spark.streaming import stream_dedup_exact
    from map_reduce485_spark.streaming.jobs import EVENTS_SCHEMA

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def start(max_files):
        src = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .parquet(events_landing)
        )
        return (
            # watermark wider than the dataset's time span: the fixture's
            # landing files are randomly time-bucketed, so any tighter
            # horizon would (correctly) drop cross-file late rows and
            # conflate late-data semantics with the recovery property
            stream_dedup_exact(src, watermark="90 days")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # run 1: one file per micro-batch; kill as soon as >=1 batch committed
    q = start(max_files=1)
    deadline = _time.monotonic() + 60
    while _time.monotonic() < deadline and not q.recentProgress:
        _time.sleep(0.2)
    q.stop()
    # run 2: resume from the checkpoint and drain the rest
    q2 = start(max_files=100)
    q2.awaitTermination()

    got = spark.read.parquet(sink)
    n_rows = got.count()
    n_ids = got.select("event_id").distinct().count()
    exp = load_table(spark, SF_SMOKE, "events").dropDuplicates(["event_id", "ts"]).count()
    assert n_rows == n_ids == exp  # every event exactly once across the restart


def test_foreach_batch_upsert_converges_to_latest_state(spark, events_landing, tmp_path):
    """foreachBatch upsert sink: after draining the stream in single-file
    micro-batches, the parquet state table holds exactly the latest record
    per user — same result as the batch cdc_latest_state compaction."""
    from pyspark.sql import functions as F

    from map_reduce485_spark.streaming import run_foreach_batch_upsert
    from map_reduce485_spark.streaming.jobs import EVENTS_SCHEMA

    state = str(tmp_path / "state")
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_landing)
    )
    q = run_foreach_batch_upsert(src, state, str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {
        r.user_id: (r.event_id, r.ts)
        for r in spark.read.parquet(state).collect()
    }
    from pyspark.sql import Window as W

    ev = spark.read.parquet(events_landing)
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    exp = {
        r.user_id: (r.event_id, r.ts)
        for r in ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).collect()
    }
    assert got == exp and len(got) > 0


def test_foreach_batch_upsert_recovers_mid_swap_crash(spark, events_landing, tmp_path):
    """Crash-window recovery: if a previous batch died BETWEEN the two swap
    renames (state dir gone, .old still present), the next batch must roll
    the old state back and merge into it — not mistake the moment for a
    first batch and silently drop all accumulated state (the failure mode
    the r1 advisor flagged in the bare-except version)."""
    import os

    from pyspark.sql import functions as F

    from map_reduce485_spark.streaming import run_foreach_batch_upsert
    from map_reduce485_spark.streaming.jobs import EVENTS_SCHEMA

    state = str(tmp_path / "state")

    # run the stream once to build real state
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_landing)
    )
    run_foreach_batch_upsert(src, state, str(tmp_path / "ckpt1")).awaitTermination()
    full_state = {
        r.user_id: (r.event_id, r.ts) for r in spark.read.parquet(state).collect()
    }
    assert full_state

    # simulate dying between rename(state -> old) and rename(tmp -> state)
    os.rename(state, state + ".old")
    assert not os.path.exists(state)

    # replay the same input against a FRESH checkpoint (a re-delivered batch)
    src2 = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_landing)
    )
    run_foreach_batch_upsert(src2, state, str(tmp_path / "ckpt2")).awaitTermination()

    got = {r.user_id: (r.event_id, r.ts) for r in spark.read.parquet(state).collect()}
    assert got == full_state  # rolled back + re-merged, nothing lost
    assert not os.path.exists(state + ".old")  # swap debris cleaned up


def test_stream_static_enrichment_join(spark, events_landing):
    """Stream-static join: the streaming side enriches against a static
    (broadcastable) dimension — the standard streaming-ETL shape (facts
    arrive, dims sit in the lakehouse).  Output must equal the batch twin
    of the same join + aggregation."""
    from pyspark.sql import functions as F

    from map_reduce485_spark.streaming.jobs import EVENTS_SCHEMA

    segments = spark.createDataFrame(
        [(i, f"seg_{i % 3}") for i in range(200)], "user_id bigint, segment string"
    )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(events_landing)
        .join(F.broadcast(segments), "user_id")  # stream-static equi-join
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    run_to_memory_sink(stream, "seg_enrich_t", mode="complete")
    got = {
        r.segment: (r.n_events, r.cents)
        for r in spark.table("seg_enrich_t").collect()
    }

    batch = (
        spark.read.parquet(events_landing)
        .join(F.broadcast(segments), "user_id")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    exp = {r.segment: (r.n_events, r.cents) for r in batch.collect()}
    assert got == exp and len(got) == 3


def test_stream_session_ttl_equals_sessionize(spark, events_landing, tmp_path):
    """Timeout-eviction sessions (`stream_session_ttl`) must equal the
    engine-native `session_window` sessions: same gap, same events,
    opposite mechanism.  A far-future sentinel in a LAST file advances the
    watermark so every session flushes through the TTL eviction path."""
    import shutil
    import time

    from pyspark.sql import functions as F

    from map_reduce485_spark.streaming.jobs import stream_session_ttl

    d = tmp_path / "ttl"
    d.mkdir()
    for f in __import__("pathlib").Path(events_landing).glob("*.parquet"):
        shutil.copy(f, d / f.name)
    time.sleep(0.05)  # sentinel file must sort after the real files by mtime
    events = spark.read.parquet(events_landing)
    sentinel = events.agg(
        F.lit(-1).cast("bigint").alias("event_id"),
        (F.max("ts") + F.expr("INTERVAL 3700 DAYS")).alias("ts"),
        F.lit(-1).cast("bigint").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(str(d))

    stream = stream_session_ttl(
        read_events_stream(spark, str(d), max_files_per_trigger=2),
        watermark="3650 days",
    )
    run_to_memory_sink(stream, "ttl_sessions_t", mode="append")
    got = {
        (r.user_id, r.session_start): (r.n_events, r.session_last)
        for r in spark.table("ttl_sessions_t").filter("user_id >= 0").collect()
    }
    exp = {
        (r.user_id, r.session_start): (r.n_events, r.session_last)
        for r in stream_sessionize(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_outer_join_emits_unmatched_views(spark):
    """LEFT OUTER stream-stream join: every view appears exactly once-or-
    more (matched rows) or exactly once with NULL purchase columns; the
    matched subset equals the INNER interval join; and unmatched views
    exist at this SF (the eviction-emission path actually ran)."""
    from map_reduce485_spark.catalog import load_table
    from map_reduce485_spark.queries.events_batch import (
        streaming_outer_join_gate,
    )
    from map_reduce485_spark.queries.events_batch import (
        interval_join_attribution,
    )

    out = streaming_outer_join_gate(spark, SF_SMOKE)
    rows = out.collect()
    matched = {(r.view_id, r.purchase_id) for r in rows if r.purchase_id is not None}
    null_views = {r.view_id for r in rows if r.purchase_id is None}
    assert null_views, "no unmatched views — null emission never fired"
    assert not ({r.view_id for r in rows if r.purchase_id is not None} & null_views)

    events = load_table(spark, SF_SMOKE, "events")
    views = {r.event_id for r in events.filter("event_type = 'view'").collect()}
    assert {v for v, _ in matched} | null_views == views

    inner = {
        (r.view_id, r.purchase_id)
        for r in interval_join_attribution(spark, SF_SMOKE).collect()
    }
    assert matched == inner


def test_dedup_gate_rebuilds_broken_dup2_leftover(spark):
    """A `<landing>.dup2` dir without _SUCCESS (a crash leftover holding one
    part file) is rebuilt, not streamed: the dedup gate still matches its
    oracle."""
    import shutil
    from pathlib import Path

    from map_reduce485_spark.queries import REGISTRY, _load_all
    from map_reduce485_spark.queries._util import land_parquet
    from tools.verify_local import check_query, open_oracle

    _load_all()
    events = load_table(spark, SF_SMOKE, "events")
    landing = Path(land_parquet(events, SF_SMOKE, "events"))
    dup = landing.with_name(f"{landing.name}.dup2")
    shutil.rmtree(dup, ignore_errors=True)
    dup.mkdir()
    part = next(landing.glob("part-*"))
    shutil.copyfile(part, dup / part.name)
    try:
        status, detail = check_query(
            spark, open_oracle(SF_SMOKE), REGISTRY["streaming_dedup_gate"], SF_SMOKE
        )
        assert status == "PASS", detail
        assert (dup / "_SUCCESS").exists()
    finally:
        shutil.rmtree(dup, ignore_errors=True)
