"""Event-time windowed analytics over the `events` table (batch mode).

`F.window` / `F.session_window` work identically in batch and Structured
Streaming — these queries are the batch twins of the streaming jobs in
`map_reduce485_spark.streaming`, and double as their oracles (same operator,
DuckDB-checked here, reused with `readStream` + watermark there).

The reference is batch-only with no event-time notion (SURVEY.md §1.3);
streaming is north-star surface.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce485_spark.queries import query
from map_reduce485_spark.queries._util import (
    T,
    distributed_prefix_sum,
    fmt_ts,
    land_parquet,
    published_dir,
    scratch_dir_scoped,
)


@query(
    "events_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events GROUP BY date_trunc('hour', ts)
    """,
    tags=("events", "window"),
    bench=True,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows: count, distinct users, exact sum."""
    (events,) = T(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
        )
        .select(fmt_ts(F.col("w.start"), "window_start"), "n_events", "n_users", "sum_value")
    )


@query(
    "events_sliding_window",
    """
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events
    FROM (
      SELECT UNNEST([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR])
               AS window_start,
             event_type, ts
      FROM events
    )
    WHERE ts >= window_start AND ts < window_start + INTERVAL 2 HOUR
    GROUP BY window_start, event_type
    """,
    tags=("events", "window"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2 h length, 1 h slide) per event type.  Each event
    lands in exactly 2 windows; Spark's F.window does the fan-out natively
    (the oracle unnests the two candidate window starts explicitly)."""
    (events,) = T(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            fmt_ts(F.col("w.start"), "window_start"),
            "event_type",
            "n_events",
        )
    )


@query(
    "events_sessionize",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM ordered
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_last,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
    tags=("events", "window"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user via
    `F.session_window` — Spark's native stateful sessionization, identical
    in batch and streaming.  The oracle derives the same sessions with the
    classic gaps-and-islands SQL (lag + running flag-sum)."""
    (events,) = T(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("_first"),
            F.max("ts").alias("_last"),
        )
        .select(
            "user_id",
            fmt_ts(F.col("_first"), "session_start"),
            fmt_ts(F.col("_last"), "session_last"),
            "n_events",
        )
    )


@query(
    "events_daily_type_stats",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events GROUP BY date_trunc('day', ts), event_type
    """,
    tags=("events",),
)
def events_daily_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type rollup — the standard event-stream reporting shape."""
    (events,) = T(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    )


_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e
  JOIN v ON v.user_id = e.user_id AND e.event_type = 'click' AND e.ts >= v.t
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e
  JOIN c ON c.user_id = e.user_id AND e.event_type = 'purchase' AND e.ts >= c.t
  GROUP BY e.user_id
)
SELECT 'viewed' AS stage, (SELECT COUNT(*) FROM v) AS n_users
UNION ALL SELECT 'clicked_after_view', (SELECT COUNT(*) FROM c)
UNION ALL SELECT 'purchased_after_click', (SELECT COUNT(*) FROM p)
"""


@query("funnel_conversion", _FUNNEL_ORACLE, tags=("events",))
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users who viewed, then clicked at or after
    their first view, then purchased at or after that click.

    Plan shape is ONE partition-by-user shuffle with three chained window
    minimums (each stage's anchor timestamp is a window column the next
    stage conditions on) — the scale-right funnel: no self-joins, no
    per-stage re-shuffles.  The oracle computes the same anchors with
    successive grouped joins, so agreeing counts prove the window
    formulation equals the relational one."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    staged = (
        events.select("user_id", "event_type", "ts")
        .withColumn(
            "v", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "c",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("v")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "p",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("c")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.col("v").isNotNull().cast("int")).alias("viewed"),
        F.max(F.col("c").isNotNull().cast("int")).alias("clicked"),
        F.max(F.col("p").isNotNull().cast("int")).alias("purchased"),
    )
    totals = per_user.agg(
        F.sum("viewed").alias("n_viewed"),
        F.sum("clicked").alias("n_clicked"),
        F.sum("purchased").alias("n_purchased"),
    )
    return totals.select(
        F.expr(
            "stack(3, 'viewed', n_viewed, 'clicked_after_view', n_clicked,"
            " 'purchased_after_click', n_purchased) AS (stage, n_users)"
        )
    )


_STREAM_GATE_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY date_trunc('hour', ts)
"""


def _land_events_with_sentinel(events: DataFrame, landing: str) -> str:
    """Landing dir variant with a single far-future SENTINEL event in its
    own LAST file (strictly later mtime → the file source orders it after
    every real file).  Shared by the gates whose output only flushes when
    the watermark passes every deadline (session-TTL timeouts, outer-join
    null emission): processing the sentinel jumps the watermark beyond
    every real event's horizon, so availableNow's trailing no-data batches
    drain all pending state."""

    def build(tmp: str) -> None:
        events.repartition(4).write.parquet(tmp)
        sentinel = events.agg(
            F.lit(-1).cast("bigint").alias("event_id"),
            (F.max("ts") + F.expr("INTERVAL 3700 DAYS")).alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        # second write → strictly later mtimes → the file source processes
        # the sentinel file after every real file
        sentinel.coalesce(1).write.mode("append").parquet(tmp)

    return published_dir(f"{Path(landing).name}.ttl", build)


def _land_events_twice(events: DataFrame, landing: str) -> str:
    """The landing dir's events delivered twice (two appends of the whole
    table, two files each), so every key arrives twice: the input of the
    dedup gates."""

    def build(tmp: str) -> None:
        events.repartition(2).write.parquet(tmp)
        events.repartition(2).write.mode("append").parquet(tmp)

    return published_dir(f"{Path(landing).name}.dup2", build)


@query("streaming_tumbling_gate", _STREAM_GATE_ORACLE, tags=("events", "streaming"))
def streaming_tumbling_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming under the HASH gate: events land as parquet
    files, a real file-source STREAM (`readStream` + 1 h watermark +
    tumbling event-time windows, `streaming/jobs.stream_tumbling_counts`)
    drains them via an availableNow trigger into a memory sink, and the
    sink table is hash-compared against the batch SQL oracle.  Until this
    query, streaming correctness lived only in pytest twins
    (`tests/test_streaming.py`); this puts the streaming subsystem itself
    behind the driver's value-level check — the same move
    `mapreduce_wordcount_pipe` made for Layer A.

    At scale the identical pipeline swaps the directory source for Kafka
    and the memory sink for a parquet/foreachBatch sink; watermarked window
    state is bounded regardless of throughput."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
        stream_tumbling_counts,
    )

    (events,) = T(spark, sf_dir, "events")  # also tunes the session (UTC)
    landing = land_parquet(events, sf_dir, "events")  # shared with the sessionize gate

    agg = stream_tumbling_counts(read_events_stream(spark, landing))
    name = f"stream_gate_tumbling_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(agg, name, mode="complete")
    return spark.table(name)


_STREAM_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         SUM(is_new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM ordered
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_last,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


@query("streaming_sessionize_gate", _STREAM_SESSION_ORACLE, tags=("events", "streaming"))
def streaming_sessionize_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL streaming under the hash gate: per-user `session_window`
    sessionization (30-min gap, sessions merge as files arrive) drained
    through an availableNow memory sink and hash-compared against the
    gaps-and-islands batch oracle.  Complements `streaming_tumbling_gate`:
    that witnesses windowed aggregation state, this witnesses Spark's
    merge-on-arrival session state machine — the op whose semantics are
    hardest to eyeball."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
        stream_sessionize,
    )

    (events,) = T(spark, sf_dir, "events")
    landing = land_parquet(events, sf_dir, "events")  # shared with the tumbling gate

    sess = stream_sessionize(read_events_stream(spark, landing))
    name = f"stream_gate_sessions_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(sess, name, mode="complete")
    return spark.table(name)


@query(
    "streaming_session_ttl_gate", _STREAM_SESSION_ORACLE, tags=("events", "streaming")
)
def streaming_session_ttl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMEOUT-DRIVEN state eviction under the hash gate: sessions built in
    CUSTOM state (`streaming/jobs.stream_session_ttl`,
    `applyInPandasWithState` + ``EventTimeTimeout``) are emitted ONLY when
    the event-time watermark passes ``last_event + gap`` and the state
    times out — the session-TTL lifecycle `session_window` implements
    internally, here witnessed through user-controlled state (the shape
    needed for custom session payloads).

    Deterministic gate encoding: a single SENTINEL event far past the
    stream's horizon lands in its own LAST file (later mtime, so the
    file source orders it after every real batch); once it is processed
    the watermark jumps beyond every real deadline, the final no-data
    micro-batches fire each user's timeout, and every session flushes
    through the eviction path.  Output rows are a pure function of each
    user's event multiset, so they hash-match the same gaps-and-islands
    oracle as `streaming_sessionize_gate` — same answer, opposite
    mechanism (engine-managed merge state there, user-state TTL eviction
    here)."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
        stream_session_ttl,
    )

    (events,) = T(spark, sf_dir, "events")
    landing = land_parquet(events, sf_dir, "events")
    ttl_dir = _land_events_with_sentinel(events, landing)

    sessions = stream_session_ttl(
        read_events_stream(spark, ttl_dir, max_files_per_trigger=2),
        watermark="3650 days",
    )
    name = f"stream_gate_session_ttl_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(sessions, name, mode="append")
    return spark.table(name).filter(F.col("user_id") >= 0)


_STREAM_CUSTOM_STATE_ORACLE = """
SELECT user_id, COUNT(*) AS total_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
FROM events GROUP BY user_id
"""


@query(
    "streaming_custom_state_gate",
    _STREAM_CUSTOM_STATE_ORACLE,
    tags=("events", "streaming"),
)
def streaming_custom_state_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming (`applyInPandasWithState`) under the hash
    gate: per-user lifetime counters maintained in user-defined state
    (`streaming/jobs.stream_user_running_totals`), drained through an
    update-mode memory sink and compared against the batch groupBy oracle.

    The update-mode sink holds one row per (user, micro-batch-appearance) —
    each carrying that user's running totals at that point plus a per-user
    STRICTLY increasing emission counter maintained in the state itself.
    `max_by(counter)` per user is therefore exactly the final state no
    matter how the file source batches the input — with no assumption
    about the data columns (a max over total_value_cents would only be
    final if values never went negative); that is what makes a custom
    state machine hash-checkable rather than rows-only.
    Completes the streaming verification set: windowed aggregation state
    (`streaming_tumbling_gate`), session-merge state
    (`streaming_sessionize_gate`), and now arbitrary user-defined state."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
        stream_user_running_totals,
    )

    (events,) = T(spark, sf_dir, "events")
    landing = land_parquet(events, sf_dir, "events")  # shared with the other gates

    totals = stream_user_running_totals(read_events_stream(spark, landing))
    name = f"stream_gate_custom_state_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(totals, name, mode="update")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.expr("max_by(total_events, n_updates)").alias("total_events"),
            F.expr("max_by(total_value_cents, n_updates)").alias(
                "total_value_cents"
            ),
        )
    )


_STREAM_DEDUP_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY event_type
"""


@query("streaming_dedup_gate", _STREAM_DEDUP_ORACLE, tags=("events", "streaming"))
def streaming_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup state under the hash gate: the landing dir
    holds TWO copies of every event in DIFFERENT files, the stream drains
    one file per micro-batch, and `dropDuplicates` must suppress each
    event's second arrival from state built in an EARLIER batch — the
    cross-batch seen-key memory that makes streaming dedup a stateful op
    rather than a per-batch distinct.  The deduped append-mode output,
    re-aggregated per event type, must equal the batch aggregate over the
    ORIGINAL (unduplicated) table: any state miss doubles a count and
    breaks the hash.

    Test watermark is effectively infinite for the same reason as the
    continuous-aggregate gate (randomly-partitioned files); production
    bounds the seen-key state with a real horizon."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
        stream_dedup_exact,
    )

    (events,) = T(spark, sf_dir, "events")
    landing = land_parquet(events, sf_dir, "events")
    dup = _land_events_twice(events, landing)

    deduped = stream_dedup_exact(
        read_events_stream(spark, dup, max_files_per_trigger=1),
        watermark="3650 days",
    )
    name = f"stream_gate_dedup_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(deduped, name, mode="append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )


_CONT_AGG_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY date_trunc('hour', ts)
"""


@query(
    "streaming_continuous_aggregate_gate",
    _CONT_AGG_ORACLE,
    tags=("events", "streaming"),
)
def streaming_continuous_aggregate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (incrementally-maintained materialized rollup)
    under the hash gate: the landing files are drained ONE PER MICRO-BATCH
    (`maxFilesPerTrigger=1`, 4 files -> 4 genuine incremental refreshes),
    each batch's changed hour-buckets are merged into the parquet rollup by
    `streaming/jobs.run_continuous_aggregate`, and the FINAL MATERIALIZED
    TABLE — not a memory sink — is compared against the batch SQL rollup.
    Witnesses the whole maintenance loop: update-mode emission of only
    changed buckets, replace-by-key merge, atomic swap publication.

    The test watermark is effectively infinite because the landing files
    are randomly partitioned (a file's events can be arbitrarily older than
    a previously-drained file's max ts — real backfills are time-ordered);
    with time-ordered arrival the production default ('1 hour') bounds
    state exactly as in `stream_tumbling_counts`."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_continuous_aggregate,
    )

    (events,) = T(spark, sf_dir, "events")
    landing = land_parquet(events, sf_dir, "events")  # shared with the other gates

    work = scratch_dir_scoped("mr485_cont_agg_")
    q = run_continuous_aggregate(
        read_events_stream(spark, landing, max_files_per_trigger=1),
        agg_dir=f"{work}/rollup",
        checkpoint_dir=f"{work}/ckpt",
        watermark="3650 days",
    )
    q.awaitTermination()
    return spark.read.parquet(f"{work}/rollup")


_RETENTION_ORACLE = """
WITH first_seen AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', f.cohort_day, a.day) AS day_offset,
       COUNT(*) AS n_active_users
FROM first_seen f JOIN activity a ON a.user_id = f.user_id
GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.day)
"""


@query("retention_cohorts", _RETENTION_ORACLE, tags=("events",))
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, counted
    on each subsequent active day as an offset from their cohort — the
    standard product-analytics retention matrix.

    Plan: one groupBy(user) for first-seen, one distinct over (user, day)
    for activity, one equi-join on user_id (both sides already hash-
    partitioned on it, so AQE can reuse the exchange), and a final tiny
    (cohort, offset) aggregate.  No window functions, no self-join over
    raw events — at 100 TB both intermediate tables are user-cardinality,
    not event-cardinality."""
    (events,) = T(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    activity = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active_users"))
    )


_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type AS from_type, event_type AS to_type,
       COUNT(*) AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


@query("event_transition_matrix", _TRANSITION_ORACLE, tags=("events", "window"))
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    sequence: lag the event type within (user, time) order and count
    (from, to) pairs — the behavioral-model input and the sequence twin of
    `vocab_top_bigrams`.  One partition-by-user window shuffle, then a
    tiny |types|^2 aggregate; the (ts, event_id) ordering makes ties
    deterministic on both engines."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )


_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
numbered AS (
  SELECT user_id, day,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS rn
  FROM days
),
islands AS (
  SELECT user_id, day - rn AS grp, COUNT(*) AS len
  FROM numbered GROUP BY user_id, day - rn
)
SELECT user_id, MAX(len) AS longest_streak,
       COUNT(*) AS n_streaks,
       CAST(SUM(len) AS BIGINT) AS n_active_days
FROM islands GROUP BY user_id
"""


@query("user_activity_streaks", _STREAKS_ORACLE, tags=("events", "window"))
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — gaps-and-islands
    by the classic day-minus-row-number trick: within a user's ordered
    distinct days, consecutive days share (day - rn), so islands fall out
    of one groupBy.  One user-partitioned window over user-cardinality
    distinct days (never raw events), then two cheap aggregates."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    numbered = days.withColumn(
        "rn", F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    )
    islands = numbered.groupBy(
        "user_id", F.date_sub("day", F.col("rn")).alias("grp")
    ).agg(F.count("*").alias("len"))
    return islands.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.sum("len").alias("n_active_days"),
    )


_TIME_ROLLUP_ORACLE = """
SELECT 'hour' AS grain,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type, COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY date_trunc('hour', ts), event_type
UNION ALL
SELECT 'day', strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S'),
       event_type, COUNT(*),
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0
FROM events GROUP BY date_trunc('day', ts), event_type
UNION ALL
SELECT 'week', strftime(date_trunc('week', ts), '%Y-%m-%d %H:%M:%S'),
       event_type, COUNT(*),
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0
FROM events GROUP BY date_trunc('week', ts), event_type
"""


@query("time_multi_rollup", _TIME_ROLLUP_ORACLE, tags=("events", "agg"))
def time_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hour, day, AND week
    aggregates of the same measures in ONE pass via GROUPING SETS — the
    batch form of maintaining several continuous-aggregate granularities
    (`run_continuous_aggregate` is the incremental form of one level).
    Spark's partial aggregation expands each row into its three grouping
    sets map-side and combines before the single shuffle, vs three
    separate scans for the UNION ALL formulation the oracle uses —
    3x less scan at 100 TB for k granularities."""
    (events,) = T(spark, sf_dir, "events")
    base = events.select(
        fmt_ts(F.date_trunc("hour", "ts"), "h"),
        fmt_ts(F.date_trunc("day", "ts"), "d"),
        fmt_ts(F.date_trunc("week", "ts"), "w"),
        "event_type",
        "value",
    )
    base.createOrReplaceTempView("_time_rollup_base")
    return spark.sql(
        """
        SELECT CASE WHEN h IS NOT NULL THEN 'hour'
                    WHEN d IS NOT NULL THEN 'day'
                    ELSE 'week' END AS grain,
               coalesce(h, d, w) AS bucket,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
                 AS sum_value
        FROM _time_rollup_base
        GROUP BY event_type, GROUPING SETS ((h, event_type), (d, event_type),
                                            (w, event_type))
        """
    )


_DEBOUNCE_ORACLE = """
WITH seq AS (
  SELECT event_id, user_id, event_type, ts,
         LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
FROM seq
WHERE prev_ts IS NULL OR ts - prev_ts > INTERVAL 5 MINUTE
"""


@query("events_debounce", _DEBOUNCE_ORACLE, tags=("events", "window"))
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce repeated signals: keep an event only if the same user's
    previous event OF THE SAME TYPE is more than 5 minutes older — the
    standard cleaning pass for double-clicks, retry storms, and sensor
    chatter.  NOTE this is lag-based (gap to the PREVIOUS KEPT-OR-DROPPED
    event), the formulation that is one window pass; strict
    leader-election debounce (gap to the previous KEPT event) is the
    sessionize operator with first-per-session.  One (user, type)
    partitioned window, deterministic (ts, event_id) order."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(
            F.col("prev_ts").isNull()
            | (F.col("ts").cast("long") - F.col("prev_ts").cast("long") > 300)
        )
        .select("event_id", "user_id", "event_type", fmt_ts(F.col("ts"), "ts"))
    )


_ATTRIBUTION_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@query("interval_join_attribution", _ATTRIBUTION_ORACLE, tags=("events", "join"))
def interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (time-bounded) join: every view matched to the same user's
    purchases within the following hour — the attribution join, and the
    BATCH twin of the stream-stream interval join
    (`streaming/jobs.stream_view_purchase_join`, pytest-pinned): same
    join expression, so this gate row witnesses the semantics the
    streaming version relies on.  The equi-key (user_id) carries the
    shuffle; the time bounds only filter within each key's partition —
    never a cartesian stage (the audit would flag it)."""
    (events,) = T(spark, sf_dir, "events")
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            fmt_ts("view_ts", "view_ts"),
            fmt_ts("purchase_ts", "purchase_ts"),
        )
    )


_BITMAP_DISTINCT_ORACLE = """
WITH pos AS (
  SELECT event_type, user_id // 32 AS block,
         BIT_OR(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS bits
  FROM events GROUP BY event_type, user_id // 32
)
SELECT event_type,
       CAST(SUM(BIT_COUNT(bits)) AS BIGINT) AS n_distinct_users,
       COUNT(*) AS n_blocks
FROM pos GROUP BY event_type
"""


@query("bitmap_distinct_users", _BITMAP_DISTINCT_ORACLE, tags=("events", "agg"))
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through bitmap indexes (the Druid/ClickHouse
    groupBitmap pattern): each (group, id-block) folds to one long via an
    associative `bit_or`, distinct count = popcount sum.  Unlike
    `countDistinct` — whose distinct-shuffle carries every id — the
    bitmap state is mergeable map-side and bounded by the id range, and
    unlike HLL it is exact and engine-agnostic, so it sits under the hash
    gate.  The same blocks are reusable state: tomorrow's events OR into
    yesterday's bitmaps (the `streaming_ann_index_gate` merge class)."""
    (events,) = T(spark, sf_dir, "events")
    blocks = (
        events.select(
            "event_type",
            F.expr("user_id div 32").alias("block"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))").alias("bv"),
        )
        .groupBy("event_type", "block")
        .agg(F.expr("bit_or(bv)").alias("bits"))
    )
    return blocks.groupBy("event_type").agg(
        F.expr("CAST(SUM(bit_count(bits)) AS BIGINT)").alias("n_distinct_users"),
        F.count("*").alias("n_blocks"),
    )


_ROLLING_DISTINCT_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id // 32 AS block,
         BIT_OR(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS bits
  FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE), user_id // 32
),
contrib AS (
  SELECT day + CAST(i AS INTEGER) AS target_day, block, bits
  FROM daily, (SELECT UNNEST(generate_series(0, 6)) AS i)
),
rolled AS (
  SELECT target_day, block, BIT_OR(bits) AS bits
  FROM contrib GROUP BY target_day, block
),
observed AS (SELECT DISTINCT day FROM daily)
SELECT strftime(r.target_day, '%Y-%m-%d') AS day,
       CAST(SUM(BIT_COUNT(r.bits)) AS BIGINT) AS n_distinct_users_7d
FROM rolled r JOIN observed o ON o.day = r.target_day
GROUP BY r.target_day
"""


@query("rolling_7d_distinct_users", _ROLLING_DISTINCT_ORACLE, tags=("events", "window"))
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling 7-day distinct users per day — the op neither engine
    has natively (COUNT(DISTINCT) OVER a range frame is unsupported, and
    re-counting each window from raw events is 7x the scan).  Bitmaps
    make it one pass: daily per-block user bitmaps, each contributing to
    its 7 covered days (bounded fan-out of 7, map-side explode), OR-merge
    per (day, block), popcount-sum per day.  Every step is associative
    integer state — the same mergeable-bitmap discipline as
    `bitmap_distinct_users`, lifted over a sliding window.  Partial-window
    edge days are restricted to observed days, identically on both
    engines."""
    (events,) = T(spark, sf_dir, "events")
    daily = (
        events.select(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            F.expr("user_id div 32").alias("block"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))").alias("bv"),
        )
        .groupBy("day", "block")
        .agg(F.expr("bit_or(bv)").alias("bits"))
    )
    contrib = daily.select(
        "day", "block", "bits", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i")
    ).select(F.expr("date_add(day, i)").alias("target_day"), "block", "bits")
    rolled = contrib.groupBy("target_day", "block").agg(
        F.expr("bit_or(bits)").alias("bits")
    )
    observed = daily.select("day").distinct()
    return (
        rolled.join(observed, rolled.target_day == observed.day, "left_semi")
        .groupBy("target_day")
        .agg(F.expr("CAST(SUM(bit_count(bits)) AS BIGINT)").alias("n_distinct_users_7d"))
        .select(
            F.date_format("target_day", "yyyy-MM-dd").alias("day"),
            "n_distinct_users_7d",
        )
    )


_FUNNEL_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered
),
s1 AS (
  SELECT user_id, sid, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM sess GROUP BY user_id, sid
),
s2 AS (
  SELECT s.user_id, s.sid,
         MIN(CASE WHEN s.event_type = 'click' AND s.ts >= s1.t1 THEN s.ts END) AS t2
  FROM sess s JOIN s1 ON s.user_id = s1.user_id AND s.sid = s1.sid
  GROUP BY s.user_id, s.sid
),
s3 AS (
  SELECT s.user_id, s.sid,
         MIN(CASE WHEN s.event_type = 'purchase' AND s.ts >= s2.t2 THEN s.ts END) AS t3
  FROM sess s JOIN s2 ON s.user_id = s2.user_id AND s.sid = s2.sid
  GROUP BY s.user_id, s.sid
)
SELECT COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM s1 JOIN s2 ON s1.user_id = s2.user_id AND s1.sid = s2.sid
        JOIN s3 ON s1.user_id = s3.user_id AND s1.sid = s3.sid
"""


@query("session_funnel", _FUNNEL_ORACLE, tags=("events", "window"))
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED-SEQUENCE funnel within sessions: of every 30-min-gap
    session, how many contain a view, a click AT OR AFTER the first view,
    and a purchase at or after that click — the product-analytics shape
    where step N's window depends on step N-1's timestamp, which no
    single-pass conditional aggregate can express.

    Three staged aggregations over the SAME (user_id, session) key:
    sessionize (gaps-and-islands windows), then per-step min-timestamp
    aggs, each joined back on the grouping key.  Because every stage
    groups and joins on the identical key, Catalyst reuses one hash
    partitioning across all three rounds — the multi-stage plan costs one
    shuffle of the events, not three (the same co-partitioning argument
    as `training_data_pipeline`).  Complements `funnel_conversion`, the
    LIFETIME per-user funnel (single window, no session scoping): that one
    answers "did the user ever convert", this one "in how many sessions"."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
                    > 1800
                ),
                1,
            )
            .otherwise(0)
            .alias("is_new"),
        )
        .select(
            "user_id",
            "ts",
            "event_type",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("sid"),
        )
    )
    keys = ["user_id", "sid"]
    s1 = sess.groupBy(*keys).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    s2 = (
        sess.join(s1, keys)
        .groupBy(*keys)
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).alias("t2")
        )
    )
    s3 = (
        sess.join(s2, keys)
        .groupBy(*keys)
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t2")),
                    F.col("ts"),
                )
            ).alias("t3")
        )
    )
    return (
        s1.join(s2, keys)
        .join(s3, keys)
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(F.col("t1").isNotNull().cast("long")).alias("n_view"),
            F.sum(F.col("t2").isNotNull().cast("long")).alias("n_view_click"),
            F.sum(F.col("t3").isNotNull().cast("long")).alias("n_full_funnel"),
        )
    )


_GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
spine AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM hourly) t
  CROSS JOIN (SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
              FROM span) g
),
joined AS (
  SELECT s.event_type, s.h, hourly.n, CAST(hourly.n AS DOUBLE) AS v
  FROM spine s LEFT JOIN hourly
    ON hourly.event_type = s.event_type AND hourly.h = s.h
),
anchored AS (
  SELECT event_type, h, n, v,
         LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM joined
)
SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_s,
       n AS n_actual,
       CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS is_gap,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv)
                 * (CAST(epoch_us(h) - epoch_us(ph) AS DOUBLE)
                    / CAST(epoch_us(nh) - epoch_us(ph) AS DOUBLE))
       END AS filled
FROM anchored
"""


@query("time_gapfill_interpolate", _GAPFILL_ORACLE, tags=("events", "window"))
def time_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series GAP FILLING with linear interpolation (the TimescaleDB
    `time_bucket_gapfill` + `interpolate` shape): a dense (event_type ×
    hour) spine over the observed span, LEFT-joined to the hourly counts;
    missing cells take pv + (nv-pv)·frac between the nearest present
    neighbors (IGNORE NULLS window anchors both directions), clamping to
    the nearest value at series edges.  frac is an int-microsecond ratio
    → one exact double division, so even interpolated floats hash-match.

    The spine is generated, not stored — sequence() over the span — and
    joins via an equi-key so the plan stays hash-join (no cartesian); the
    four anchor windows share one (event_type, h) sort."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    span = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    hours = span.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
        F.lit(1).alias("dummy"),
    )
    types = hourly.select("event_type").distinct().withColumn("dummy", F.lit(1))
    spine = types.join(hours, "dummy").drop("dummy")
    joined = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", "n", F.col("n").cast("double").alias("v")
    )
    wp = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wf = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(0, W.unboundedFollowing)
    )
    hcase = F.when(F.col("v").isNotNull(), F.col("h"))
    anchored = joined.select(
        "event_type",
        "h",
        "n",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(hcase, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(hcase, ignorenulls=True).over(wf).alias("nh"),
    )
    frac = F.expr(
        "CAST(unix_micros(h) - unix_micros(ph) AS DOUBLE)"
        " / CAST(unix_micros(nh) - unix_micros(ph) AS DOUBLE)"
    )
    return anchored.select(
        "event_type",
        fmt_ts("h", "hour_s"),
        F.col("n").alias("n_actual"),
        F.col("v").isNull().cast("int").alias("is_gap"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
        .alias("filled"),
    )


_EWMA_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS v
  FROM events GROUP BY event_type, date_trunc('hour', ts)
)
SELECT event_type, COUNT(*) AS n_hours,
       list_reduce(list(v ORDER BY h), (acc, x) -> 3e-1 * x + 7e-1 * acc)
         AS ewma
FROM hourly GROUP BY event_type
"""


@query("ewma_hourly_value", _EWMA_ORACLE, tags=("events", "agg"))
def ewma_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.3) of each type's
    hourly value series — the sequential recurrence s_t = a·x_t +
    (1-a)·s_{t-1} that NO parallel aggregate can legally reorder, so both
    engines evaluate it as an explicit SORTED LEFT FOLD over the
    collected series (first element seeds the accumulator; every step is
    two multiplies and an add on deterministic inputs → the final double
    hash-matches).  The same fold pattern as `chi_square_independence`'s
    statistic, here with an order-SENSITIVE recurrence — the strongest
    form of the sequential-fold determinism trick.

    Scale note: the fold runs per group after an exact hourly pre-
    aggregation, so the array length is the series length (hours), not
    the event count — the standard two-level shape for sequence models
    over massive logs."""
    (events,) = T(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias("v")
    )
    arrs = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.expr(
            "transform(array_sort(collect_list(struct(h, v))), s -> s.v)"
        ).alias("vs"),
    )
    return arrs.select(
        "event_type",
        "n_hours",
        F.expr(
            "aggregate(slice(vs, 2, size(vs) - 1), element_at(vs, 1),"
            " (acc, x) -> 3E-1 * x + 7E-1 * acc)"
        ).alias("ewma"),
    )


_STREAM_JOIN_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       p.value AS purchase_value
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@query(
    "streaming_interval_join_gate", _STREAM_JOIN_ORACLE, tags=("events", "streaming")
)
def streaming_interval_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join under the hash gate — the last streaming
    operator class that lived only in pytest twins: both sides of the
    view→purchase attribution join are file-source STREAMS over the same
    landing dir, drained two files per micro-batch, so purchases buffered
    in join state in EARLY batches must match views arriving BATCHES
    LATER (and vice versa) — the cross-batch buffered-state behavior
    that makes stream-stream joins stateful.  Append-mode output is a
    pure function of the event multiset (each qualifying pair emitted
    exactly once), so it hash-matches the batch interval-join oracle
    (`interval_join_attribution` is the batch twin under the gate since
    r4; this gates the STREAMING execution of the same join).

    Test watermark is effectively infinite for the same reason as the
    other gates (randomly-partitioned landing files would otherwise drop
    legitimately-late rows); production uses the real 2 h horizon, which
    bounds both buffers."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
        stream_view_purchase_join,
    )

    (events,) = T(spark, sf_dir, "events")
    landing = land_parquet(events, sf_dir, "events")
    src_v = read_events_stream(spark, landing, max_files_per_trigger=2)
    src_p = read_events_stream(spark, landing, max_files_per_trigger=2)
    joined = stream_view_purchase_join(
        src_v.filter(F.col("event_type") == "view"),
        src_p.filter(F.col("event_type") == "purchase"),
        watermark="3650 days",
    )
    name = f"stream_gate_ss_join_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(joined, name, mode="append")
    return spark.table(name)


_STREAM_STATIC_ORACLE = """
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       e.value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type = 'purchase'
"""


@query(
    "streaming_static_join_gate", _STREAM_STATIC_ORACLE, tags=("events", "streaming")
)
def streaming_static_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join under the hash gate — the standard
    streaming-ETL shape the suite lacked: a micro-batched event stream
    joined to a broadcast dimension table (customer) to append enrichment
    columns per event.  Unlike the stream-stream interval join there is NO
    buffered join state and no watermark: each micro-batch hash-joins
    against the static side independently, so state stays O(dimension) no
    matter how long the stream runs — at 100 TB/day the dimension broadcast
    (or a compacted changelog refresh of it) is the whole memory story.

    Determinism: append-mode per-row enrichment is a pure function of the
    event multiset — batch boundaries can't change WHICH rows appear or
    their values — so the memory-sink table hash-matches the batch join
    oracle exactly (value rides through untouched; ts is string-formatted
    the shared way).
    """
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
    )

    events, customer = T(spark, sf_dir, "events", "customer")
    landing = land_parquet(events, sf_dir, "events")
    src = read_events_stream(spark, landing, max_files_per_trigger=2)
    enriched = (
        src.filter(F.col("event_type") == "purchase")
        .join(
            F.broadcast(
                customer.select("c_custkey", "c_name", "c_mktsegment")
            ),
            F.col("user_id") == F.col("c_custkey"),
        )
        .select(
            "event_id",
            "user_id",
            "c_name",
            "c_mktsegment",
            fmt_ts("ts", "ts_s"),
            "value",
        )
    )
    name = f"stream_gate_static_join_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(enriched, name, mode="append")
    return spark.table(name)


_ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
roll AS (
  SELECT event_type, h, c,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(c) OVER w AS BIGINT) AS s,
         CAST(SUM(c * c) OVER w AS BIGINT) AS sq
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS h_s, c, n,
       CAST(n * c - s AS BIGINT) AS num,
       CAST(n * sq - s * s AS BIGINT) AS var_n2,
       CAST(n * c - s AS DOUBLE) / sqrt(CAST(n * sq - s * s AS DOUBLE)) AS z
FROM roll
WHERE n >= 12
  AND (n * c - s) * (n * c - s) > 9 * (n * sq - s * s)
  AND n * sq - s * s > 0
"""


@query("anomaly_rolling_zscore", _ANOMALY_ORACLE, tags=("events", "timeseries"))
def anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the hourly event-count series —
    the monitoring-pipeline shape (spike detection against a trailing
    baseline) made hash-exact: the trailing 24-hour mean/std live entirely
    in INTEGER MOMENTS (n, sum, sum-of-squares over a ROWS window that
    excludes the current hour), the |z| > 3 trigger is the exact integer
    predicate (n*c - s)^2 > 9*(n*sq - s^2) — no float ever decides WHICH
    rows are anomalies — and the reported z itself is two correctly-rounded
    IEEE ops (one sqrt, one divide) on exact integers, so even the doubles
    hash-match.

    Scale: one groupBy to hourly grain (count per (type, hour) — the
    window then runs over series length, not event count), one bounded
    ROWS frame per series; state per partition is 25 longs."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    roll = hourly.select(
        "event_type",
        "h",
        "c",
        F.count("*").over(w).alias("n"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("sq"),
    )
    num = F.col("n") * F.col("c") - F.col("s")
    var_n2 = F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    return (
        roll.filter(
            (F.col("n") >= 12) & (num * num > 9 * var_n2) & (var_n2 > 0)
        )
        .select(
            "event_type",
            fmt_ts("h", "h_s"),
            "c",
            "n",
            num.cast("long").alias("num"),
            var_n2.cast("long").alias("var_n2"),
            (num.cast("double") / F.sqrt(var_n2.cast("double"))).alias("z"),
        )
    )


_STREAM_SLIDING_ORACLE = """
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events
FROM (
  SELECT UNNEST([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR])
           AS window_start,
         event_type, ts
  FROM events
)
WHERE ts >= window_start AND ts < window_start + INTERVAL 2 HOUR
GROUP BY window_start, event_type
"""


@query("streaming_sliding_gate", _STREAM_SLIDING_ORACLE, tags=("events", "streaming"))
def streaming_sliding_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING event-time windows under the hash gate — the overlapping-
    window shape the gated suite lacked (tumbling = slide == length;
    here 2 h windows sliding hourly, every event updating exactly two
    window states).  Overlap is where streaming state management differs
    from tumbling: N_overlap concurrent window states per key, each GC'd
    independently as the watermark passes its end.  Complete-mode memory
    sink, hash-compared to the batch oracle that unnests each event's two
    candidate windows explicitly."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
        stream_sliding_counts,
    )

    (events,) = T(spark, sf_dir, "events")
    landing = land_parquet(events, sf_dir, "events")
    agg = stream_sliding_counts(read_events_stream(spark, landing))
    name = f"stream_gate_sliding_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(agg, name, mode="complete")
    return spark.table(name)


_STREAM_OUTER_JOIN_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@query(
    "streaming_outer_join_gate", _STREAM_OUTER_JOIN_ORACLE, tags=("events", "streaming")
)
def streaming_outer_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join under the hash gate — the
    eleventh gated streaming run and the one remaining stream-stream
    semantics class: unmatched views must be HELD in state past their
    1-hour join window and emitted with NULL purchase columns only when
    the watermark closes the window (watermark-DRIVEN rows, where every
    other gate's rows are arrival-driven; the inner-join gate never
    exercises this eviction-emission path).

    Deterministic gate encoding reuses the session-TTL sentinel landing
    (`_land_events_with_sentinel`): both sides stream the same dir two
    files per batch; the far-future sentinel in the LAST file jumps the
    watermark past every view's window end, so the trailing no-data
    batches flush every unmatched view exactly once.  The watermark
    operators sit BEFORE the event-type filters (see
    `stream_view_purchase_left_join`) — the sentinel advances event time
    on both inputs without ever entering the join.  Output is a pure
    function of the event multiset → hash-matches the batch LEFT JOIN
    oracle."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
        stream_view_purchase_left_join,
    )

    (events,) = T(spark, sf_dir, "events")
    landing = land_parquet(events, sf_dir, "events")
    ttl_dir = _land_events_with_sentinel(events, landing)
    joined = stream_view_purchase_left_join(
        read_events_stream(spark, ttl_dir, max_files_per_trigger=2),
        read_events_stream(spark, ttl_dir, max_files_per_trigger=2),
        watermark="3650 days",
    )
    name = f"stream_gate_ss_outer_join_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(joined, name, mode="append")
    # drop the sentinel's own output row(s); real users are non-negative
    return spark.table(name).filter(F.col("user_id") >= 0)


_MULTI_TOUCH_ORACLE = """
WITH pairs AS (
  SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
         CAST(ROUND(p.value * 100) AS BIGINT) AS value_cents
  FROM events p JOIN events v
    ON v.user_id = p.user_id
   AND p.event_type = 'purchase' AND v.event_type = 'view'
   AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
),
credits AS (
  SELECT view_id, user_id,
         CAST(value_cents AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY purchase_id) / 100.0 AS credit
  FROM pairs
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_credited_views,
       ROUND(list_reduce(list(credit ORDER BY view_id, credit),
                         (acc, x) -> acc + x), 6) AS attributed_value
FROM credits GROUP BY user_id
"""


@query(
    "multi_touch_attribution", _MULTI_TOUCH_ORACLE, tags=("events", "join"), bench=True
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the marketing-analytics staple on
    top of the interval join: every view in the hour BEFORE a purchase
    shares that purchase's value equally (value/n per touch), then credit
    rolls up per user.  The per-touch credit is one exact division
    (integer cents ÷ window count); the per-user rollup is a float sum,
    which no associative aggregate can hash-pin, so both engines fold the
    credits in the same explicit (view_id, credit) order — the
    `ewma_hourly_value` sequential-fold move applied to a JOIN product
    rather than a time series.  Scale: the interval join shuffles on
    user_id only (time bounds filter within partitions), the count window
    keys on purchase_id — both bounded keys, no cartesian, no broadcast
    dependence."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    pairs = p.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    credits = pairs.select(
        "view_id",
        "user_id",
        (
            F.col("value_cents").cast("double")
            / F.count("*").over(W.partitionBy("purchase_id"))
            / 100.0
        ).alias("credit"),
    )
    arrs = credits.groupBy("user_id").agg(
        F.count("*").alias("n_credited_views"),
        F.expr(
            "transform(array_sort(collect_list(struct(view_id, credit))), s -> s.credit)"
        ).alias("cs"),
    )
    return arrs.select(
        "user_id",
        "n_credited_views",
        F.round(
            F.expr(
                "aggregate(slice(cs, 2, size(cs) - 1), element_at(cs, 1),"
                " (acc, x) -> acc + x)"
            ),
            6,
        ).alias("attributed_value"),
    )


_CUSUM_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS total FROM hourly
),
dev AS (
  -- n·CUSUM_t = Σ_{i<=t} (n·s_i − total): exact bigint, no mean division
  SELECT h, s, SUM(tot.n * s - tot.total) OVER (ORDER BY h) AS ncusum, tot.n
  FROM hourly, tot
),
mx AS (SELECT MAX(abs(ncusum)) AS peak FROM dev)
SELECT strftime(dev.h, '%Y-%m-%d %H:%M:%S') AS hour_s, dev.s,
       CAST(dev.ncusum AS DOUBLE) / dev.n / 100.0 AS cusum,
       CAST(abs(dev.ncusum) = mx.peak AS INT) AS is_changepoint
FROM dev, mx
"""


@query("cusum_changepoint", _CUSUM_ORACLE, tags=("events", "timeseries"))
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the hourly value series: the
    cumulative sum of deviations from the series mean peaks exactly where
    the level shifts, so the argmax |CUSUM| row is the classic
    single-change-point estimate.  The whole statistic stays in exact
    bigint by multiplying through by n (n·cusum_t = Σ n·s_i − t·total) —
    no float mean enters the prefix sum, so the running values are
    order-independent integers and the one double division per row is
    identical cross-engine.  The ordered window runs over the POST-AGG
    hourly series (bounded rows, the `ewma_hourly_value` shape), never
    the raw events; at 100 TB the scan reduces map-side first."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    # project the calendar key BEFORE grouping: grouping directly on the
    # expression would reach the physical agg as an anonymous
    # `_groupingexpression` attribute that the plan audit's bounded-domain
    # classifier cannot read (the named column `ts_hour` is
    # calendar-bounded; the short name `h` is deliberately NOT on the
    # audit allowlist — dedup modules use it for md5 hash columns, a
    # data-scale domain)
    hourly = events.select(
        F.date_trunc("hour", "ts").alias("ts_hour"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).groupBy("ts_hour").agg(F.sum("cents").alias("s"))
    tot = hourly.agg(
        F.count("*").alias("n"), F.sum("s").alias("total")
    )
    dev = hourly.crossJoin(F.broadcast(tot)).select(
        "ts_hour",
        "s",
        "n",
        F.sum(F.col("n") * F.col("s") - F.col("total"))
        .over(W.orderBy("ts_hour").rowsBetween(W.unboundedPreceding, 0))
        .alias("ncusum"),
    )
    mx = dev.agg(F.max(F.abs(F.col("ncusum"))).alias("peak"))
    return dev.crossJoin(F.broadcast(mx)).select(
        fmt_ts("ts_hour", "hour_s"),
        "s",
        (F.col("ncusum").cast("double") / F.col("n") / 100.0).alias("cusum"),
        (F.abs(F.col("ncusum")) == F.col("peak")).cast("int").alias("is_changepoint"),
    )


_DYN_SESSION_ORACLE = """
WITH ends AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) + CASE event_type WHEN 'purchase'
                             THEN 2700000000 ELSE 900000000 END AS end_us
  FROM events
),
ordered AS (
  -- an event starts a new session iff it lies beyond the RUNNING MAX of
  -- every prior event's window end (t + gap), not just its predecessor's:
  -- an early long-gap event can hold the session open across several
  -- short-gap events
  SELECT user_id, ts, event_id,
         CASE WHEN MAX(end_us) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) IS NULL
              OR epoch_us(ts) > MAX(end_us) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              )
              THEN 1 ELSE 0 END AS is_new_session
  FROM ends
),
numbered AS (
  SELECT user_id, ts,
         SUM(is_new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM ordered
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_last,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


@query("events_sessionize_dynamic_gap", _DYN_SESSION_ORACLE, tags=("events", "window"))
def events_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a DATA-DEPENDENT gap — `session_window` with a
    per-event gap COLUMN (purchases hold the session open 45 min, other
    events 15): the adaptive-timeout shape real engagement analytics use
    (a conversion signals continued intent; a stray view does not), which
    a fixed-gap sessionizer cannot express.  The engine merge rule —
    events join a session while each arrives strictly within the
    session's RUNNING MAX window end max(tᵢ + gapᵢ) — an early
    long-gap purchase holds the session open across later short-gap
    events, which a lag-only formulation gets wrong — is replayed by the
    oracle as gaps-and-islands over that running max in integer epoch
    microseconds, with boundary-touching arrivals merging (both pinned
    empirically; either an adjacency or a lag-vs-max semantics change in
    the engine breaks the hash).  Same one-shuffle-on-user_id plan as
    `events_sessionize`; the gap CASE is a map-side expression."""
    (events,) = T(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("45 minutes")).otherwise(
        F.lit("15 minutes")
    )
    return (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            fmt_ts("mn", "session_start"),
            fmt_ts("mx", "session_last"),
            "n_events",
        )
    )


@query(
    "streaming_dedup_watermark_gate",
    _STREAM_DEDUP_ORACLE,
    tags=("events", "streaming"),
)
def streaming_dedup_watermark_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` under the hash gate (12th gated
    streaming run) — the EVICTABLE-state dedup: suppression is only
    promised for duplicates within the watermark delay of each other, so
    seen-key state can be garbage-collected as the watermark advances
    (the `dropDuplicates` gate's state is immortal by contract).  Same
    duplicated landing dir and the same batch oracle as
    `streaming_dedup_gate`: with the test's effectively-infinite delay no
    key is ever evicted, so every second delivery MUST be suppressed and
    the re-aggregated output hash-matches the unduplicated aggregate —
    what is being witnessed is the dedup correctness of the OTHER state
    implementation (range-keyed, eviction-capable), through the identical
    contract."""
    from map_reduce485_spark.streaming.jobs import (
        read_events_stream,
        run_to_memory_sink,
        stream_dedup_within_watermark,
    )

    (events,) = T(spark, sf_dir, "events")
    landing = land_parquet(events, sf_dir, "events")
    dup = _land_events_twice(events, landing)

    deduped = stream_dedup_within_watermark(
        read_events_stream(spark, dup, max_files_per_trigger=1),
        watermark="3650 days",
    )
    name = f"stream_gate_dedup_wm_{landing.rsplit('_', 1)[-1]}"
    run_to_memory_sink(deduped, name, mode="append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )


_CONCURRENCY_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
sessions AS (
  SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_last
  FROM (
    SELECT user_id, ts,
           SUM(is_new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM ordered)
  GROUP BY user_id, session_id
),
points AS (
  SELECT s_start AS ts, 1 AS delta, user_id FROM sessions
  UNION ALL
  SELECT s_last, -1, user_id FROM sessions
),
swept AS (
  SELECT ts, SUM(delta) OVER (
           ORDER BY ts, delta DESC, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrency
  FROM points
),
mx AS (SELECT MAX(concurrency) AS peak FROM swept)
SELECT CAST(mx.peak AS BIGINT) AS peak_concurrency,
       strftime(MIN(swept.ts), '%Y-%m-%d %H:%M:%S') AS first_peak_ts,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sessions) AS n_sessions
FROM swept, mx WHERE swept.concurrency = mx.peak GROUP BY mx.peak
"""


@query("peak_concurrency_sweep", _CONCURRENCY_ORACLE, tags=("events", "window"))
def peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions via SWEEP LINE — the interval-analytics
    primitive (capacity planning, license counting, connection-pool
    sizing) that no plain aggregate expresses: sessions become ±1 events
    at their endpoints, a running sum over the sorted points is the live
    concurrency curve, and the answer is its max with the first timestamp
    achieving it.  Endpoint ties are pinned (+1 before −1 → closed-
    interval overlap counts; user_id last) so both engines sweep the
    identical order.  The sweep itself is :func:`distributed_prefix_sum`
    — sessions scale with the corpus, so the 2×|sessions| endpoint rows
    are data-scale, and a plain ``sum().over(Window.orderBy(...))`` would
    funnel them all through one executor at exactly the scale the sweep
    is for (round-9 verdict item 1).  The order key (ts, delta desc,
    user_id) is total — a user's session starts are >30 min apart and a
    start never equals another endpoint of the same user without a
    distinct delta — so the distributed scan is bit-identical to the
    single-partition window it replaces."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    sessions = (
        events.select(
            "user_id",
            "ts",
            F.when(
                (
                    # microsecond compare — timestamps here carry sub-second
                    # precision, so a seconds cast would truncate a
                    # 1800.4 s gap to exactly 1800 and flip the boundary
                    F.unix_micros(F.col("ts"))
                    - F.unix_micros(F.lag(F.col("ts")).over(w_user))
                    > 1_800_000_000
                )
                | F.lag("ts").over(w_user).isNull(),
                1,
            )
            .otherwise(0)
            .alias("is_new_session"),
            "event_id",
        )
        .select(
            "user_id",
            "ts",
            F.sum("is_new_session")
            .over(w_user.rowsBetween(W.unboundedPreceding, 0))
            .alias("session_id"),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_last"))
    )
    points = sessions.select(
        F.col("s_start").alias("ts"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        sessions.select(F.col("s_last").alias("ts"), F.lit(-1).alias("delta"), "user_id")
    )
    swept = distributed_prefix_sum(
        points,
        [F.col("ts"), F.col("delta").desc(), F.col("user_id")],
        "delta",
        "concurrency",
    ).select("ts", "concurrency")
    mx = swept.agg(F.max("concurrency").alias("peak"))
    n_sessions = sessions.agg(F.count("*").alias("n_sessions"))
    return (
        swept.join(F.broadcast(mx), swept.concurrency == mx.peak)
        .groupBy("peak")
        .agg(F.min("ts").alias("first_peak"))
        .crossJoin(F.broadcast(n_sessions))
        .select(
            F.col("peak").cast("long").alias("peak_concurrency"),
            fmt_ts("first_peak", "first_peak_ts"),
            "n_sessions",
        )
    )


_KM_ORACLE = """
WITH bounds AS (SELECT MAX(ts) AS data_end FROM events),
first_view AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
first_purchase AS (
  SELECT f.user_id, f.v_ts, MIN(p.ts) AS p_ts
  FROM first_view f LEFT JOIN events p
    ON p.user_id = f.user_id AND p.event_type = 'purchase' AND p.ts >= f.v_ts
  GROUP BY f.user_id, f.v_ts
),
subjects AS (
  SELECT user_id,
         CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS converted,
         CASE WHEN p_ts IS NOT NULL
              THEN (epoch_us(p_ts) - epoch_us(v_ts)) // 3600000000
              ELSE (epoch_us(bounds.data_end) - epoch_us(v_ts)) // 3600000000
         END AS t_hours
  FROM first_purchase, bounds
),
steps AS (
  SELECT t_hours,
         CAST(SUM(converted) AS BIGINT) AS d,
         CAST(SUM(1 - converted) AS BIGINT) AS c,
         CAST((SELECT COUNT(*) FROM subjects s2 WHERE s2.t_hours >= steps_t.t_hours)
              AS BIGINT) AS n_at_risk
  FROM subjects steps_t GROUP BY t_hours
)
SELECT t_hours, n_at_risk, d AS n_converted, c AS n_censored,
       ROUND((SELECT list_reduce(
                list_prepend(1e0, list(1e0 - CAST(s2.d AS DOUBLE) / s2.n_at_risk
                                       ORDER BY s2.t_hours)),
                (acc, x) -> acc * x)
              FROM steps s2 WHERE s2.t_hours <= steps.t_hours), 6) AS survival
FROM steps
"""


@query("survival_time_to_convert", _KM_ORACLE, tags=("events", "stats"))
def survival_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for view→purchase conversion time —
    the censoring-aware estimator (users who never converted are RIGHT-
    CENSORED at end-of-data, not dropped — dropping them biases time-to-
    convert optimistic, the classic product-limit motivation).  Risk sets
    and event counts are exact integers; S(t) = Π(1 − dᵢ/nᵢ) is an
    order-SENSITIVE float product, so both engines evaluate it as the
    same sorted sequential fold (the multiplicative sibling of
    `ewma_hourly_value`'s additive fold), seeded with 1.0.  The fold runs
    per step over ≤ |distinct hours| factors — survival output is
    post-aggregation bounded, while subjects/risk sets reduce map-side
    from the raw log at any scale."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    bounds = events.agg(F.max("ts").alias("data_end"))
    fv = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    fp = (
        fv.join(p, (F.col("p_user") == F.col("user_id")) & (F.col("p_ts") >= F.col("v_ts")), "left")
        .groupBy("user_id", "v_ts")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    subjects = fp.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("p_ts").isNotNull(), 1).otherwise(0).alias("converted"),
        F.when(
            F.col("p_ts").isNotNull(),
            F.expr("(unix_micros(p_ts) - unix_micros(v_ts)) div 3600000000"),
        )
        .otherwise(F.expr("(unix_micros(data_end) - unix_micros(v_ts)) div 3600000000"))
        .alias("t_hours"),
    )
    steps = subjects.groupBy("t_hours").agg(
        F.sum("converted").alias("d"),
        F.sum(1 - F.col("converted")).alias("c"),
    )
    # risk set n_i = subjects with t >= t_i: a reversed running sum over the
    # bounded step table
    w_desc = W.orderBy(F.col("t_hours").desc()).rowsBetween(W.unboundedPreceding, 0)
    risky = steps.select(
        "t_hours",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(w_desc).alias("n_at_risk"),
    )
    # sorted multiplicative fold over all steps <= t: collect the factor
    # series once, then per-row slice-product
    w_asc = W.orderBy("t_hours").rowsBetween(W.unboundedPreceding, 0)
    factored = risky.select(
        "t_hours",
        "n_at_risk",
        F.col("d").alias("n_converted"),
        F.col("c").alias("n_censored"),
        F.collect_list(1.0 - F.col("d").cast("double") / F.col("n_at_risk"))
        .over(w_asc)
        .alias("factors"),
    )
    return factored.select(
        "t_hours",
        "n_at_risk",
        "n_converted",
        "n_censored",
        F.round(
            F.expr("aggregate(factors, 1E0, (acc, x) -> acc * x)"), 6
        ).alias("survival"),
    )


_HOLT_ORACLE = """
WITH RECURSIVE cutoff AS (
  SELECT event_type, MAX(ts) - INTERVAL 7 DAY AS cut
  FROM events GROUP BY event_type
),
hourly AS (
  SELECT e.event_type, date_trunc('hour', e.ts) AS h,
         CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS v
  FROM events e JOIN cutoff c ON c.event_type = e.event_type
  WHERE e.ts >= c.cut
  GROUP BY e.event_type, date_trunc('hour', e.ts)
),
arr AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i
  FROM hourly
),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours FROM arr GROUP BY event_type),
-- sequential Holt recurrence; DuckDB 1.0 list_reduce mutates struct
-- accumulators FIELD-BY-FIELD (acc.l inside the 'b' field already sees the
-- new l — probed empirically), so the fold is replayed as a recursive CTE
-- with standard evaluation semantics instead
rec AS (
  SELECT a1.event_type, CAST(2 AS BIGINT) AS i, a1.v AS l, a2.v - a1.v AS b
  FROM arr a1 JOIN arr a2 ON a2.event_type = a1.event_type AND a1.i = 1 AND a2.i = 2
  UNION ALL
  SELECT r.event_type, r.i + 1,
         3e-1 * a.v + 7e-1 * (r.l + r.b),
         2e-1 * (3e-1 * a.v + 7e-1 * (r.l + r.b) - r.l) + 8e-1 * r.b
  FROM rec r JOIN arr a ON a.event_type = r.event_type AND a.i = r.i + 1
)
SELECT rec.event_type, n.n_hours,
       ROUND(rec.l, 6) AS level, ROUND(rec.b, 6) AS trend,
       ROUND(rec.l + rec.b, 6) AS forecast_next
FROM rec JOIN n ON n.event_type = rec.event_type AND rec.i = n.n_hours
"""


@query("holt_linear_forecast", _HOLT_ORACLE, tags=("events", "timeseries"))
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level α=0.3 + trend β=0.2) per
    event type, with the one-step-ahead forecast l+b — the trend-aware
    upgrade of `ewma_hourly_value`, and the structural step up in the
    sequential-fold technique: the accumulator is a STRUCT of two coupled
    recurrences, folded over the sorted hourly series identically on both
    engines — Spark as `aggregate` with a named_struct accumulator (the
    l′ subexpression textually duplicated inside the trend update so both
    fields read only OLD state), DuckDB as a recursive CTE: its 1.0
    `list_reduce` mutates struct accumulators field-by-field (acc.l
    inside the 'b' field already sees the new l — probed empirically and
    pinned in the oracle comment), so the same fold is replayed with
    standard evaluation semantics instead.  Seeded the standard way: l₀ = v₁, b₀ = v₂ − v₁,
    fold over v₃….  The fit runs on the TRAILING 7-DAY window, with the
    cutoff DERIVED per event type as max(ts) − 7 days in both engines
    (production forecasting fits a trailing window; a hardcoded calendar
    cutoff would silently empty the fit on data with a different time
    range — round-7 advice).  The bound keeps the oracle's recursive
    replay at ~168 steps per type instead of ~720 — it was the full
    gate's slowest entry at 102 s.  Scale: the cutoff dim is one row per
    event type (broadcast equi-join, no BNLJ); fold length = series
    length, after the exact map-side hourly reduction."""
    (events,) = T(spark, sf_dir, "events")
    cutoff = events.groupBy("event_type").agg(
        F.expr("max(ts) - INTERVAL 7 DAYS").alias("cut")
    )
    hourly = events.join(F.broadcast(cutoff), "event_type").filter(
        F.col("ts") >= F.col("cut")
    ).groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias("v")
    )
    arrs = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.expr("transform(array_sort(collect_list(struct(h, v))), s -> s.v)").alias("vs"),
    ).filter(F.col("n_hours") >= 2)
    # n_hours >= 2 matches the oracle's recursive seed (which requires i=1
    # and i=2 to exist); greatest(..., 0) keeps the slice length legal under
    # ANSI mode if the filter is ever relaxed — a 1-point group would
    # otherwise request a length of −1 and throw at runtime.
    fitted = arrs.select(
        "event_type",
        "n_hours",
        F.expr(
            "aggregate(slice(vs, 3, greatest(size(vs) - 2, 0)),"
            " named_struct('l', element_at(vs, 1),"
            "              'b', element_at(vs, 2) - element_at(vs, 1)),"
            " (acc, x) -> named_struct("
            "   'l', 3E-1 * x + 7E-1 * (acc.l + acc.b),"
            "   'b', 2E-1 * (3E-1 * x + 7E-1 * (acc.l + acc.b) - acc.l)"
            "        + 8E-1 * acc.b))"
        ).alias("s"),
    )
    return fitted.select(
        "event_type",
        "n_hours",
        F.round(F.col("s.l"), 6).alias("level"),
        F.round(F.col("s.b"), 6).alias("trend"),
        F.round(F.col("s.l") + F.col("s.b"), 6).alias("forecast_next"),
    )


_PATHS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT event_type || '>' || t2 || '>' || t3 AS path
  FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
)
SELECT path, n_users AS n_occurrences, rank FROM (
  SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS rank
  FROM paths GROUP BY path
) WHERE rank <= 15
"""


@query("top_event_paths", _PATHS_ORACLE, tags=("events", "window"))
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the most common 3-step event sequences across all
    user journeys — the product-analytics view that finds the dominant
    flows (and the dead ends) which per-pair transition rates
    (`event_transition_matrix`) average away.  Consecutive triples come
    from two LEAD windows over each user's ordered stream (one shuffle on
    user_id), the path key is a bounded string, and the top-15 is
    TakeOrdered over the tiny |event_types|³ path space — nothing here
    retains per-user state beyond the window sort."""
    from pyspark.sql import Window as W

    (events,) = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    paths = seq.select(
        F.concat_ws(">", "event_type", "t2", "t3").alias("path")
    )
    counted = paths.groupBy("path").agg(F.count("*").alias("n_occurrences"))
    wr = W.orderBy(F.col("n_occurrences").desc(), "path")
    return (
        counted.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 15)
        .select("path", "n_occurrences", "rank")
    )


# ---------------------------------------------------------------------------
# regex row-pattern matching over per-user event sequences — round 8
# ---------------------------------------------------------------------------

# view, then any run of clicks/errors, then purchase — the classic
# browse-to-buy pattern, written over the per-user type-initial string
_SEQ_PATTERN = "v[ce]*p"

_SEQ_MATCH_ORACLE = f"""
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
)
SELECT user_id, s AS seq, CAST(length(s) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(s, '{_SEQ_PATTERN}')) AS BIGINT)
         AS n_matches,
       CAST(COALESCE(list_sum(list_transform(
              regexp_extract_all(s, '{_SEQ_PATTERN}'), x -> length(x))), 0)
            AS BIGINT) AS total_matched_chars
FROM seq
"""


@query("sequence_pattern_match", _SEQ_MATCH_ORACLE, tags=("events",))
def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style row-pattern matching, the SQL:2016 feature
    Spark has no native operator for: each user's events collapse (in
    event-time order, event_id tiebreak) to a string of type initials,
    and the pattern — `view (click|error)* purchase`, written as the
    regex `v[ce]*p` — is counted per user with its matched span length.
    Funnels (`funnel_conversion`) answer "did A→B→C happen"; this
    answers arbitrary regular-language questions over the event
    alphabet (optional steps, repetitions, alternation) with one regex
    change and no new dataflow.

    Both engines run the same greedy non-overlapping scan
    (`regexp_extract_all`), so match counts and span totals
    hash-match.  Scale: one shuffle on user_id; the per-user sequence
    is bounded by per-user activity (sessionize first — the
    `events_sessionize` composition — when users can be unboundedly
    active); the regex scan is a narrow JVM map over the collapsed
    strings, ~bytes-of-corpus work, no joins."""
    (events,) = T(spark, sf_dir, "events")
    seq = events.groupBy("user_id").agg(
        F.expr(
            "concat_ws('', transform(array_sort(collect_list(struct("
            "ts, event_id, substring(event_type, 1, 1) AS c))), x -> x.c))"
        ).alias("s")
    )
    matches = F.expr(f"regexp_extract_all(s, '{_SEQ_PATTERN}', 0)")
    return seq.select(
        "user_id",
        F.col("s").alias("seq"),
        F.length("s").cast("long").alias("seq_len"),
        F.size(matches).cast("long").alias("n_matches"),
        F.expr(
            f"aggregate(transform(regexp_extract_all(s, '{_SEQ_PATTERN}', 0),"
            " x -> length(x)), 0, (acc, x) -> acc + x)"
        )
        .cast("long")
        .alias("total_matched_chars"),
    )
