"""Streaming-semantics queries in batch mode over ``events`` —
the oracle-checkable half of SURVEY §2.B "Streaming" (stream-mode
equivalents are exercised in tests/test_streaming.py with
availableNow replays of the same fixtures and asserted equal to
these batch results).

Timestamp note: events.ts is a microsecond timestamp in the parquet
testdata; an older nanosecond encoding is still read, truncated to
microseconds (see sources.readers). Queries therefore only emit window
boundaries / second-truncated times, which are identical at both
precisions.

The ``*_live`` queries run real Structured Streaming: each replays its
input as a file stream and drains it through the runner below.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.plans.catalog import register
from mapreduce_word2vec_spark.runtime import scratch_dir
from mapreduce_word2vec_spark.sources.readers import read_testdata

# --- live-stream runner ------------------------------------------------
# Every live-stream query replays a batch input as a multi-file source
# (8 files) and drains it with availableNow. The files and checkpoints
# live in runtime.scratch_dir, fresh per call (a reused checkpoint
# would skip the already-committed files), and are reaped at exit.


def _replay(df: DataFrame, ordered: bool = False) -> str:
    """Write ``df`` as an 8-file replay source; return its directory.
    ``ordered`` range-partitions on ``ts``, sorts each file on
    (ts, event_id) and pins strictly increasing mtimes, so the file
    stream (whose batches are mtime-ordered, while parallel write tasks
    finish in any order) replays in event-time order."""
    src = scratch_dir("mw2v_replay_")
    if ordered:
        df = df.repartitionByRange(8, "ts").sortWithinPartitions("ts", "event_id")
    else:
        df = df.repartition(8)
    df.write.mode("overwrite").parquet(src)
    if ordered:
        t0 = 1_700_000_000
        for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*")))):
            os.utime(f, (t0 + i, t0 + i))
    return src


def _stream(spark: SparkSession, src: str, schema, per_trigger: int = 2) -> DataFrame:
    """The replay at ``src`` as a file stream, ``per_trigger`` files per
    micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(per_trigger))
        .parquet(src)
    )


def _drain(stream: DataFrame, mode: str, with_query: bool = False):
    """Run ``stream`` to the end of its input (availableNow) into a
    memory sink and return the sink's rows; with ``with_query``, also
    the finished query. The sink's temp view is dropped: the returned
    frame holds the sink's plan, not its name."""
    spark = stream.sparkSession
    ckpt = scratch_dir("mw2v_sink_")
    name = os.path.basename(ckpt)
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        out = spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
    return (out, q) if with_query else out


@register(
    "stream_tumbling",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS window_start,
           event_type, count(*) AS n, round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows (batch mode of the streaming op)."""
    from mapreduce_word2vec_spark.streaming.windows import tumbling_counts

    return tumbling_counts(read_testdata(spark, sf_dir, "events"))


@register(
    "stream_sliding",
    oracle="""
    WITH s AS (
      SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP)
               - k * INTERVAL '5 minutes' AS window_start,
             event_type
      FROM events CROSS JOIN (VALUES (0), (1)) AS t(k)
    )
    SELECT window_start, event_type, count(*) AS n
    FROM s GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10m width, 5m slide): every event lands in two
    windows — the oracle reproduces Spark's window assignment with two
    shifted tumbling grids."""
    from mapreduce_word2vec_spark.streaming.windows import sliding_counts

    return sliding_counts(read_testdata(spark, sf_dir, "events"))


# Gap sessionization (a gap over _SESSION_GAP_MIN minutes opens a new
# session): every event row gains new_session and a per-user running
# session_idx — the oracle twin of streaming.windows.assign_sessions,
# shared by the session queries.
_SESSION_GAP_MIN = 30
_SQL_SESSIONS = f"""g AS (
      SELECT *,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_MIN * 60} * 1000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM g
    )"""


@register(
    "stream_session",
    oracle=f"""
    WITH {_SQL_SESSIONS}
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           count(*) AS n_events,
           CAST(date_trunc('second', min(ts)) AS TIMESTAMP) AS session_start,
           CAST(date_trunc('second', max(ts)) AS TIMESTAMP) AS session_end,
           round(sum(value), 6) AS sum_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization, 30-minute gap (batch lag/cumsum formulation;
    the stream-mode session_window variant is asserted equivalent in
    tests)."""
    from mapreduce_word2vec_spark.streaming.windows import session_counts_batch

    ev = read_testdata(spark, sf_dir, "events")
    out = session_counts_batch(ev, gap_minutes=_SESSION_GAP_MIN)
    return out.withColumn("session_idx", F.col("session_idx").cast("long"))


@register(
    "stream_dedup_first",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-keep-earliest per (user, type) — batch analogue of
    streaming dropDuplicatesWithinWatermark."""
    from mapreduce_word2vec_spark.streaming.windows import first_event_per_key

    return first_event_per_key(read_testdata(spark, sf_dir, "events"))


@register(
    "stream_interval_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           round(p.value, 6) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (stream-stream) join: purchases within 1 hour after a
    click by the same user — batch mode of the watermarked
    stream-stream join exercised in tests/test_streaming.py."""
    from mapreduce_word2vec_spark.streaming.windows import (
        click_purchase_interval_join,
    )

    e = read_testdata(spark, sf_dir, "events")
    return click_purchase_interval_join(
        e.where(F.col("event_type") == "click"),
        e.where(F.col("event_type") == "purchase"),
    )


@register(
    "stream_cumulative",
    oracle="""
    WITH b AS (
      SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS TIMESTAMP) AS bucket,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT bucket, event_type, n,
           CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_total
    FROM b
    """,
)
def stream_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-type totals over 15-minute buckets — the batch
    shape of the applyInPandasWithState running counter."""
    from pyspark.sql import Window

    e = read_testdata(spark, sf_dir, "events")
    b = (
        e.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n")
    )
    w = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return b.withColumn("running_total", F.sum("n").over(w))


@register(
    "events_funnel",
    oracle="""
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t_signup) AS n_signup,
           -- CAST: DuckDB types integer sum() as HUGEINT, which the
           -- driver's pandas path converts to float64 (67.0 vs Spark's
           -- bigint 67 → hash mismatch). BIGINT keeps it integral.
           CAST(sum(CASE WHEN t_click >= t_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click,
           CAST(sum(CASE WHEN t_click >= t_signup AND t_purchase >= t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM u
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (signup → click → purchase, ordered by each
    user's FIRST occurrence of each step): one conditional-min
    aggregation per user, then one global rollup — two shuffles total
    regardless of event volume."""
    e = read_testdata(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    u = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    stepped = F.col("t_click") >= F.col("t_signup")
    full = stepped & (F.col("t_purchase") >= F.col("t_click"))
    return u.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.sum(F.when(stepped, 1).otherwise(0)).alias("n_signup_click"),
        F.sum(F.when(full, 1).otherwise(0)).alias("n_full_funnel"),
    )


@register(
    "events_retention",
    oracle="""
    WITH first_week AS (
      SELECT user_id, CAST(min(date_trunc('week', ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
      FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS week_offset,
           count(*) AS active_users
    FROM activity JOIN first_week USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-activity week,
    counted per week offset. The cohort side is one row PER USER — it
    grows with the corpus, so it must NOT be broadcast (at 100× users a
    broadcast OOMs driver and executors). Both inputs already hash by
    user_id, so the shuffled join is exchange-aligned; AQE may still
    choose broadcast at runtime when the stats are tiny, which is the
    right call only when measured, not hinted."""
    e = read_testdata(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    first_week = e.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = e.select("user_id", week.alias("week")).distinct()
    return (
        activity.join(first_week, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("active_users"))
    )


# Shared hourly-grid construction for the two resample queries (ffill
# and interpolate): per-(user, hour) LAST observation, per-user span,
# the dense grid exploded from the 2-column span, and the grid-to-
# observation left join. One definition each side (the _DYN_GAP_CASE
# discipline) so a fix to the dedup ordering or grid bounds can't
# silently split the two queries' semantics.
_HOURLY_GRID_CTES = """b AS (
      SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, ts, event_id, value
      FROM events
    ),
    obs AS (
      SELECT user_id, h, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, h
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM b
      ) WHERE rn = 1
    ),
    span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM b GROUP BY user_id),
    grid AS (
      SELECT user_id, CAST(unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS TIMESTAMP) AS h
      FROM span
    )"""


def _hourly_grid_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grid LEFT JOIN obs — the Spark twin of ``_HOURLY_GRID_CTES``.
    Scale shape shared by both resample queries: the per-(user, hour)
    last observation is ONE window pass; the grid explodes from a
    per-user 2-column span (never from raw events); downstream fill
    windows ride the SAME user_id partitioning so Catalyst reuses the
    exchange."""
    from pyspark.sql import Window

    e = read_testdata(spark, sf_dir, "events")
    b = e.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "ts",
        "event_id",
        "value",
    )
    w_last = Window.partitionBy("user_id", "h").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    obs = (
        b.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select("user_id", "h", "value")
    )
    span = b.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    return grid.join(obs, ["user_id", "h"], "left")


@register(
    "events_resample_ffill",
    oracle=f"""
    WITH {_HOURLY_GRID_CTES}
    SELECT g.user_id, g.h AS hour,
           last_value(o.value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h ROWS UNBOUNDED PRECEDING
           ) AS value_ffill
    FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
    """,
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: each user's `value` on a
    regular hourly grid spanning their activity, carrying the last
    observation forward across gaps (the hypertable/gap-fill operator
    of time-series engines). Scale shape: the per-(user, hour) last
    observation is ONE window pass; the grid explodes from a per-user
    2-column span (never from raw events); fill is a second window on
    the SAME user_id partitioning — Catalyst reuses the exchange, so
    the whole query shuffles events once plus grid rows once,
    regardless of how sparse the series is."""
    from pyspark.sql import Window

    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _hourly_grid_obs(spark, sf_dir).select(
        "user_id",
        F.col("h").alias("hour"),
        F.last("value", ignorenulls=True).over(w_fill).alias("value_ffill"),
    )


@register(
    "events_resample_interpolate",
    oracle=f"""
    WITH {_HOURLY_GRID_CTES},
    j AS (
      SELECT g.user_id, g.h, o.value,
             last_value(o.value IGNORE NULLS) OVER w_prev AS prev_v,
             last_value(CASE WHEN o.value IS NOT NULL THEN g.h END IGNORE NULLS)
               OVER w_prev AS prev_h,
             first_value(o.value IGNORE NULLS) OVER w_next AS next_v,
             first_value(CASE WHEN o.value IS NOT NULL THEN g.h END IGNORE NULLS)
               OVER w_next AS next_h
      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
      WINDOW
        w_prev AS (PARTITION BY g.user_id ORDER BY g.h ROWS UNBOUNDED PRECEDING),
        w_next AS (PARTITION BY g.user_id ORDER BY g.h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, h AS hour,
           -- explicit HALF-UP rounding (floor(x*1e6 + 0.5)/1e6):
           -- interpolation at dyadic fractions lands EXACTLY on
           -- x.xxxxxx5 boundaries, where round() tie-breaks differ
           -- across engines (Spark half-up, DuckDB half-even)
           floor(CASE
             WHEN value IS NOT NULL THEN value
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
               prev_v + (next_v - prev_v)
                 * (CAST(date_diff('hour', prev_h, h) AS DOUBLE)
                    / CAST(date_diff('hour', prev_h, next_h) AS DOUBLE))
             ELSE prev_v
           END * 1000000 + 0.5) / 1000000 AS value_interp
    FROM j
    """,
)
def events_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + LINEAR interpolation — the gap-fill
    companion of events_resample_ffill for continuous measures (a
    carried-forward sensor reading lies; a line between the
    surrounding observations doesn't). Same scale shape as the ffill
    form: per-(user, hour) last observation in one window pass, the
    grid explodes from per-user 2-column spans, and BOTH the
    look-back and look-ahead windows ride the same user_id
    partitioning — one events exchange + one grid exchange total.
    The interpolation fraction divides integer hour offsets, so both
    engines compute identical doubles before the shared round."""
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("value").isNotNull(), F.col("h"))
    j = (
        _hourly_grid_obs(spark, sf_dir)
        .withColumn("prev_v", F.last("value", ignorenulls=True).over(w_prev))
        .withColumn("prev_h", F.last(obs_h, ignorenulls=True).over(w_prev))
        .withColumn("next_v", F.first("value", ignorenulls=True).over(w_next))
        .withColumn("next_h", F.first(obs_h, ignorenulls=True).over(w_next))
    )
    hours = lambda a, b_: (  # noqa: E731
        (F.unix_timestamp(b_) - F.unix_timestamp(a)) / F.lit(3600)
    ).cast("double")
    interp = (
        F.when(F.col("value").isNotNull(), F.col("value"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (
                hours(F.col("prev_h"), F.col("h"))
                / hours(F.col("prev_h"), F.col("next_h"))
            ),
        )
        .otherwise(F.col("prev_v"))
    )
    # Explicit half-up rounding shared with the oracle: interpolated
    # values land exactly on x.xxxxxx5 (dyadic fractions), where
    # round() tie-breaking diverges across engines.
    return j.select(
        "user_id",
        F.col("h").alias("hour"),
        (F.floor(interp * 1_000_000 + 0.5) / 1_000_000).alias("value_interp"),
    )


@register(
    "events_compact_last",
    oracle="""
    SELECT user_id, event_type, event_id AS last_event_id,
           CAST(date_trunc('second', ts) AS TIMESTAMP) AS last_ts,
           round(value, 6) AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def events_compact_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: keep only the LATEST event per
    (user, type) key — the batch shape of compacting a changelog
    into current state (what a Kafka compacted topic or a Delta
    MERGE-on-read materializes). One shuffle on the key; the window
    rank discards superseded rows in the partial stage, so output
    size is bounded by key cardinality, not log length."""
    from pyspark.sql import Window

    e = read_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.date_trunc("second", F.col("ts")).alias("last_ts"),
            F.round("value", 6).alias("last_value"),
        )
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, event_type, value,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             stddev_pop(value) OVER (PARTITION BY user_id) AS sigma,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT event_id, user_id, event_type, round(value, 6) AS value,
           round((value - mu) / sigma, 6) AS z
    FROM s WHERE n >= 10 AND sigma > 0 AND abs((value - mu) / sigma) > 3.0
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outliers (|z| > 3, users with >= 10 events):
    the telemetry anomaly filter. One window pass computes mean /
    population stddev / count in a single exchange on user_id — no
    join of a stats table back onto events, and no global collect.
    At 100 TB the same plan holds: per-user state is 3 doubles."""
    from pyspark.sql import Window

    e = read_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s = e.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_pop("value").over(w).alias("sigma"),
        F.count("*").over(w).alias("n"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return s.where(
        (F.col("n") >= 10) & (F.col("sigma") > 0) & (F.abs(z) > 3.0)
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round(z, 6).alias("z"),
    )


@register(
    "incr_agg_merge",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value,
           max(ts) AS last_ts
    FROM events
    WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
    GROUP BY user_id
    """,
)
def incr_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a materialized per-user
    rollup built up to a checkpoint, then advanced by merging a
    delta batch of PARTIAL aggregates — never rescanning history.

    count/sum/max are mergeable (union of partials + re-aggregate ==
    aggregate of the union), which is exactly what lets a 100 TB
    pipeline maintain stats tables from per-day partial rollups
    instead of full recomputes. The oracle states the full recompute
    over the merged time range, proving the incremental path exact."""
    ev = read_testdata(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )

    state = partial(ev.where(F.col("ts") < "2024-01-11 00:00:00"))
    delta = partial(
        ev.where(
            (F.col("ts") >= "2024-01-11 00:00:00")
            & (F.col("ts") < "2024-01-21 00:00:00")
        )
    )
    return (
        state.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("total_value"), 6).alias("total_value"),
            F.max("last_ts").alias("last_ts"),
        )
    )


@register(
    "events_latency_percentiles",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type, day
    """,
)
def events_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p50/p95/p99 rollup of `value` per event type — the
    observability/SLO aggregation every telemetry pipeline maintains.
    Exact interpolated quantiles via `operators.quantiles.
    exact_quantiles` (sort + rank interpolation, bounded task state) —
    per-group volume is per-day traffic, which grows without bound;
    Spark's exact `percentile` aggregate buffers it all (the round-7
    sf10 OOM class). `approx_percentile` (mergeable sketch) remains
    the drop-in when ±1% rank error is acceptable."""
    from mapreduce_word2vec_spark.operators.quantiles import exact_quantiles

    e = read_testdata(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day"), "value"
    )
    counts = e.groupBy("event_type", "day").agg(F.count("*").alias("n"))
    qv = exact_quantiles(
        e, ["event_type", "day"], "value", {"q50": 0.5, "q95": 0.95, "q99": 0.99}
    )
    return counts.join(F.broadcast(qv), ["event_type", "day"]).select(
        "event_type",
        "day",
        "n",
        F.round("q50", 6).alias("p50"),
        F.round("q95", 6).alias("p95"),
        F.round("q99", 6).alias("p99"),
    )


@register(
    "stream_topk_trending",
    oracle="""
    WITH c AS (
      SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS window_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT window_start, event_type, n,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rnk
      FROM c
    ) WHERE rnk <= 3
    """,
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection: top-3 event types per tumbling window
    (deterministic n-desc/type-asc rank). Batch mode of the
    "trending now" streaming pattern — in stream mode the rank runs
    on watermark-finalized windows downstream of the windowed
    aggregation. Two keyed exchanges (window agg, per-window rank);
    rank state per task is one counter per window — no global sort."""
    from mapreduce_word2vec_spark.streaming.windows import tumbling_counts

    from pyspark.sql import Window as W

    counts = tumbling_counts(read_testdata(spark, sf_dir, "events")).select(
        "window_start", "event_type", "n"
    )
    rnk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.desc("n"), "event_type")
    )
    return (
        counts.select("window_start", "event_type", "n", rnk.alias("rnk"))
        .where(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n", F.col("rnk").cast("bigint").alias("rnk"))
    )


@register(
    "events_session_funnel",
    oracle=f"""
    WITH {_SQL_SESSIONS}, per AS (
      SELECT user_id, session_idx,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM s GROUP BY user_id, session_idx
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(t_view) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN t_click >= t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN t_click >= t_view AND t_purchase >= t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
    FROM per
    """,
)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped conversion funnel: view → click → purchase must
    happen IN ORDER within one 30-minute-gap session (vs
    events_funnel's lifetime-per-user scope — session scope is what
    product analytics actually ships). Composes the sessionization
    window with the min-timestamp-per-step funnel: two window passes
    over one user_id exchange, then a per-session aggregate and a
    1-row rollup."""
    from pyspark.sql import Window

    from mapreduce_word2vec_spark.streaming.windows import assign_sessions

    ev = read_testdata(spark, sf_dir, "events")
    s = assign_sessions(ev, gap_minutes=_SESSION_GAP_MIN)
    per = s.groupBy("user_id", "session_idx").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.count("t_view").cast("bigint").alias("n_view"),
        F.sum(F.when(F.col("t_click") >= F.col("t_view"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_view_click"),
        F.sum(
            F.when(
                (F.col("t_click") >= F.col("t_view"))
                & (F.col("t_purchase") >= F.col("t_click")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_view_click_purchase"),
    )


@register(
    "events_gap_distribution",
    oracle="""
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                                              ORDER BY ts, event_id)) / 1000000.0 AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round(avg(gap_s), 6) AS mean_gap_s,
           round(median(gap_s), 6) AS p50_gap_s,
           round(quantile_cont(gap_s, 0.95), 6) AS p95_gap_s
    FROM g GROUP BY event_type
    """,
)
def events_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type (mean/p50/p95
    seconds) — the arrival-process diagnostic behind watermark and
    session-gap tuning: pick the session gap / watermark delay from
    the observed p95, not a guess. Gaps are measured in exact
    microseconds (unix_micros ≡ DuckDB epoch_us — a plain cast to
    long truncates sub-second digits and shifts every percentile).
    One lag window and one aggregate over the same event_type
    exchange."""
    from pyspark.sql import Window

    ev = read_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)) / 1_000_000.0
        ).alias("gap_s"),
    )
    # Exact gap quantiles via the sort-based operator (5 groups, each
    # scaling with total traffic — Spark's exact `percentile` buffers
    # the whole group per task, the round-7 sf10 OOM class).
    from mapreduce_word2vec_spark.operators.quantiles import exact_quantiles

    counts = g.groupBy("event_type").agg(
        F.count("gap_s").cast("bigint").alias("n_gaps"),
        F.round(F.avg("gap_s"), 6).alias("mean_gap_s"),
    )
    qv = exact_quantiles(g, "event_type", "gap_s", {"q50": 0.5, "q95": 0.95})
    return counts.join(F.broadcast(qv), "event_type").select(
        "event_type",
        "n_gaps",
        "mean_gap_s",
        F.round("q50", 6).alias("p50_gap_s"),
        F.round("q95", 6).alias("p95_gap_s"),
    )


@register(
    "events_json_key_agg",
    oracle="""
    SELECT CAST(CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS BIGINT) AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 6) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def events_json_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation keyed by a field EXTRACTED from a JSON payload
    column (the semi-structured grouping path: extraction runs
    row-local inside the scan projection, so only the small extracted
    key + value reach the exchange — the raw JSON string never
    shuffles)."""
    ev = read_testdata(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((k % 10).cast("bigint").alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


@register(
    "events_disorder",
    oracle="""
    WITH r AS (
      SELECT event_type, value, ts,
             max(ts) OVER (PARTITION BY event_type ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS high_water
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN ts < high_water THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           round(sum(CASE WHEN ts < high_water THEN 1.0 ELSE 0.0 END) / count(*), 6)
             AS late_frac,
           round(max(CASE WHEN ts < high_water
                     THEN (epoch_us(high_water) - epoch_us(ts)) / 1000000.0
                     ELSE 0.0 END), 6) AS max_lateness_s
    FROM r GROUP BY event_type
    """,
)
def events_disorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile: treating event_id as arrival
    order, how many events arrive with a timestamp BEHIND the running
    event-time high-water mark, and by how much at worst — the
    empirical basis for choosing a watermark delay (set it ≥ the
    observed max lateness or accept drops). One running-max window
    and one aggregate on the same event_type exchange; microsecond-
    exact lateness (unix_micros, not second-truncating casts)."""
    from pyspark.sql import Window

    ev = read_testdata(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = ev.select(
        "event_type",
        "ts",
        F.max("ts").over(w).alias("high_water"),
    )
    late = F.col("ts") < F.col("high_water")
    lateness = (F.unix_micros("high_water") - F.unix_micros("ts")) / 1_000_000.0
    return r.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_late"),
        F.round(
            F.sum(F.when(late, 1.0).otherwise(0.0)) / F.count("*"), 6
        ).alias("late_frac"),
        F.round(F.max(F.when(late, lateness).otherwise(0.0)), 6).alias(
            "max_lateness_s"
        ),
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    cnt AS (
      SELECT cur, nxt, count(*) AS n FROM seq WHERE nxt IS NOT NULL
      GROUP BY cur, nxt
    ),
    tot AS (SELECT cur, sum(n) AS row_total FROM cnt GROUP BY cur)
    SELECT cur, nxt, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / row_total, 6) AS p
    FROM cnt JOIN tot USING (cur)
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior:
    P(next event type | current), estimated from per-user event
    sequences — the building block behind next-action prediction and
    behavioral anomaly scoring. One lead window per user, a
    (cur, nxt)-keyed count, and row-normalization against a
    |types|²-bounded table."""
    from pyspark.sql import Window

    ev = read_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    cnt = seq.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("cur").agg(F.sum("n").alias("row_total"))
    return cnt.join(tot, "cur").select(
        "cur",
        "nxt",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("row_total"), 6).alias("p"),
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du),
    dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
    wau AS (
      SELECT days.d, count(DISTINCT du.user_id) AS wau
      FROM days JOIN du ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
      GROUP BY days.d
    )
    SELECT CAST(d AS TIMESTAMP) AS d,
           CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           round(dau * 1.0 / wau, 6) AS stickiness
    FROM dau JOIN wau USING (d)
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the growth
    dashboard's core ratio. Shape: the fact table collapses to
    DISTINCT (day, user) FIRST (bounded by users × days, not
    events); each collapsed row then EXPLODES into the ≤ 7 window
    days it counts toward (sequence + explode — a pure-inequality
    range join would plan as a nested loop over days × rows), and
    WAU is an equi-keyed distinct count. The final semi-join keeps
    only days the corpus actually contains."""
    ev = read_testdata(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count("*").alias("dau"))
    covers = du.select(
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("d"),
        "user_id",
    )
    wau = (
        covers.join(days, "d", "left_semi")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    # d stays a DATE internally (sequence/date_add are date-native);
    # the OUTPUT is cast to timestamp so the driver's pandas
    # canonicalizer sees the same Timestamp type DuckDB's DATE
    # coarsens to through .df().
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").cast("timestamp").alias("d"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


@register(
    "events_error_bursts",
    oracle="""
    WITH w AS (
      SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS window_start,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_errors
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT avg(n_errors) AS mu, stddev_pop(n_errors) AS sigma FROM w
    )
    SELECT window_start, CAST(n_errors AS BIGINT) AS n_errors,
           round((n_errors - mu) / sigma, 6) AS zscore
    FROM w CROSS JOIN stats
    WHERE n_errors > mu + 2 * sigma
    """,
)
def events_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst detection: 5-minute windows whose error count
    exceeds the fleet mean by 2σ (window-level alerting, vs
    events_anomaly_zscore's per-user scope). The window aggregate is
    the only event-scale pass; the mean/σ normalizer is a 1-row
    aggregate over the (bounded) window table broadcast back."""
    ev = read_testdata(spark, sf_dir, "events")
    w = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            )
        )
        .select(F.col("w.start").alias("window_start"), "n_errors")
    )
    stats = w.agg(
        F.avg("n_errors").alias("mu"), F.stddev_pop("n_errors").alias("sigma")
    )
    return (
        w.crossJoin(F.broadcast(stats))
        .where(F.col("n_errors") > F.col("mu") + 2 * F.col("sigma"))
        .select(
            "window_start",
            F.col("n_errors").cast("bigint").alias("n_errors"),
            F.round((F.col("n_errors") - F.col("mu")) / F.col("sigma"), 6).alias(
                "zscore"
            ),
        )
    )


@register(
    "events_time_to_convert",
    oracle="""
    WITH per AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT (epoch_us(t_purchase) - epoch_us(t_click)) / 1000000.0 AS ttc_s
      FROM per WHERE t_purchase >= t_click
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(median(ttc_s), 6) AS p50_s,
           round(quantile_cont(ttc_s, 0.9), 6) AS p90_s,
           round(avg(ttc_s), 6) AS mean_s
    FROM conv
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: latency from a user's first click to first
    at-or-after purchase (p50/p90/mean seconds, µs-exact timestamps)
    — the metric behind funnel-latency dashboards. One per-user
    aggregate carries two conditional mins; the percentile fold runs
    over the user-level table."""
    ev = read_testdata(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    ttc = (F.unix_micros("t_purchase") - F.unix_micros("t_click")) / 1_000_000.0
    conv = per.where(F.col("t_purchase") >= F.col("t_click")).select(
        ttc.alias("ttc_s")
    )
    # GLOBAL exact quantiles: the worst case for Spark's exact
    # `percentile` (one group = the whole converted-user table in one
    # task's buffer, the round-7 sf10 OOM class) — and the grouped
    # sort operator can't help either (no partition key = single-task
    # sort). `exact_quantiles_global` does the two-phase selection:
    # sketch-bounded value brackets, then an exact rank walk over the
    # brackets' collapsed (value, count) pairs.
    from mapreduce_word2vec_spark.operators.quantiles import exact_quantiles_global

    counts = conv.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.round(F.avg("ttc_s"), 6).alias("mean_s"),
    )
    qv = exact_quantiles_global(conv, "ttc_s", {"q50": 0.5, "q90": 0.9})
    return counts.crossJoin(F.broadcast(qv)).select(
        "n_converted",
        F.round("q50", 6).alias("p50_s"),
        F.round("q90", 6).alias("p90_s"),
        "mean_s",
    )


@register(
    "events_ohlc_bars",
    oracle="""
    WITH k AS (
      SELECT event_type,
             CAST(time_bucket(INTERVAL '15 minutes', ts) AS TIMESTAMP) AS bar_start,
             value,
             printf('%020d%010d', epoch_us(ts), event_id) AS okey
      FROM events
    )
    SELECT event_type, bar_start,
           round(min_by(value, okey), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max_by(value, okey), 6) AS close,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM k GROUP BY event_type, bar_start
    """,
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars — the canonical time-series downsample
    (metrics, market data, sensor rollups): per (type, 15-minute bar)
    the first / highest / lowest / last value. open/close use
    min_by/max_by over a zero-padded (epoch_us, event_id) composite
    string key, so tie-breaking is total and IDENTICAL across engines
    (bare min_by(value, ts) is nondeterministic under timestamp
    collisions — the subtle bug class this query pins). One
    partial-aggregated exchange regardless of tick volume."""
    e = read_testdata(spark, sf_dir, "events")
    okey = F.format_string(
        "%020d%010d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    return (
        e.select(
            "event_type",
            F.window("ts", "15 minutes").alias("w"),
            "value",
            okey.alias("okey"),
        )
        .groupBy("event_type", F.col("w.start").alias("bar_start"))
        .agg(
            F.round(F.min_by("value", "okey"), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", "okey"), 6).alias("close"),
            F.count("*").cast("bigint").alias("n_ticks"),
        )
    )


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH o AS (
      SELECT user_id, value, epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    seg AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,6)) AS v,
             CAST(nxt - t AS BIGINT) AS dt
      FROM o WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           round(CAST(sum(v * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE), 6) AS twap
    FROM seg GROUP BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) — the billing/metrics rollup where
    a reading counts for how LONG it held, not how often it was
    sampled. Numerically hardened for cross-engine hashing: a plain
    double Σ(value·Δt) depends on summation order (engine- and
    partitioning-dependent ulps), so each value is fixed to
    DECIMAL(18,6) and the products accumulate EXACTLY in decimal ×
    integer-microsecond segments; only the final single division runs
    in IEEE doubles, identical on both engines. One lead window + one
    keyed aggregation on the same user_id exchange."""
    from pyspark.sql import Window

    e = read_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        F.unix_micros(F.col("ts")).alias("t"),
        F.lead(F.unix_micros(F.col("ts"))).over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    seg = o.select("user_id", "v", (F.col("nxt") - F.col("t")).alias("dt"))
    return seg.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.round(
            F.sum(F.col("v") * F.col("dt")).cast("double")
            / F.sum("dt").cast("double"),
            6,
        ).alias("twap"),
    )


@register(
    "events_heatmap_dow_hour",
    oracle="""
    SELECT CAST(CASE WHEN dayofweek(ts) = 0 THEN 7 ELSE dayofweek(ts) END AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap — the load-shape
    rollup behind capacity planning and anomaly baselines. Calendar
    convention pinned cross-engine: ISO day numbers 1=Monday..7=Sunday
    (Spark dayofweek is 1=Sunday, DuckDB's is 0=Sunday — both sides
    remap explicitly rather than trusting defaults). At most 168
    groups regardless of event volume: pure map-side partials."""
    e = read_testdata(spark, sf_dir, "events")
    # Spark: dayofweek 1=Sun..7=Sat  ->  ISO 1=Mon..7=Sun
    iso_dow = F.when(F.dayofweek("ts") == 1, 7).otherwise(F.dayofweek("ts") - 1)
    return (
        e.groupBy(
            iso_dow.cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


@register(
    "stream_foreach_batch_merge",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming through the production sink API:
    events replayed as a multi-micro-batch file stream
    (maxFilesPerTrigger=2 over an 8-file copy, availableNow), each
    micro-batch pre-aggregated INSIDE the batch (Spark-side partial
    agg — only per-type partials leave the cluster) and merged by
    ``foreachBatch`` into a running per-type accumulator. The final
    merged state must equal the one-shot batch aggregation (the
    oracle) regardless of how the file stream happened to split into
    batches — the idempotent-merge contract every foreachBatch sink
    (Delta MERGE, JDBC upsert) is built on.

    Driver state here is bounded by |event_type| (single digits); a
    production sink would MERGE into a transactional table instead —
    the batch-split-invariance being asserted is the same."""
    from collections import defaultdict

    ev = read_testdata(spark, sf_dir, "events").select("event_type", "value")
    src = _replay(ev)

    state: dict[str, list] = defaultdict(lambda: [0, 0.0])

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
            .collect()
        )
        for r in rows:
            acc = state[r["event_type"]]
            acc[0] += r["n"]
            acc[1] += r["v"]

    q = (
        _stream(spark, src, ev.schema)
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_dir("mw2v_ckpt_"))
        .start()
    )
    q.awaitTermination()
    out = [(k, int(n), float(v)) for k, (n, v) in state.items()]
    df = spark.createDataFrame(out, "event_type string, n_events bigint, total_value double")
    return df.select("event_type", "n_events", F.round("total_value", 6).alias("total_value"))


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT *,
             max(CASE WHEN is_click = 1 THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts), is_click DESC, event_id
               ROWS UNBOUNDED PRECEDING) AS last_click_us
      FROM ev
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS purchase_hour,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN epoch_us(ts) - last_click_us <= 3600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
           round(sum(CASE WHEN epoch_us(ts) - last_click_us <= 3600000000
                          THEN value ELSE 0 END), 6) AS attributed_revenue,
           round(sum(CASE WHEN last_click_us IS NULL
                            OR epoch_us(ts) - last_click_us > 3600000000
                          THEN value ELSE 0 END), 6) AS unattributed_revenue
    FROM w WHERE is_click = 0
    GROUP BY purchase_hour
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent click within a 1-hour lookback — the composite every
    growth/ads pipeline runs, built on the engine's as-of idiom
    (union both event kinds, ONE per-user window, running max of
    click-time; same-microsecond ties ordered click-first then by
    event_id so attribution is total and engine-identical). No
    per-purchase subquery, no range join: the whole pass is one
    user_id exchange + one bounded hourly rollup — at 100 TB the
    event stream shuffles exactly once."""
    ev = (
        read_testdata(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "ts",
            "event_id",
            "value",
            (F.col("event_type") == "click").cast("int").alias("is_click"),
        )
    )
    from pyspark.sql import Window

    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")), F.col("is_click").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = ev.withColumn(
        "last_click_us", F.max(F.when(F.col("is_click") == 1, us)).over(w)
    )
    purchases = tagged.where(F.col("is_click") == 0)
    attributed = (us - F.col("last_click_us")) <= 3_600_000_000
    return purchases.groupBy(
        F.date_trunc("hour", "ts").alias("purchase_hour")
    ).agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        F.sum(F.when(attributed, 1).otherwise(0)).cast("bigint").alias("n_attributed"),
        F.round(F.sum(F.when(attributed, F.col("value")).otherwise(0.0)), 6).alias(
            "attributed_revenue"
        ),
        F.round(
            F.sum(
                F.when(
                    F.col("last_click_us").isNull() | ~attributed, F.col("value")
                ).otherwise(0.0)
            ),
            6,
        ).alias("unattributed_revenue"),
    )


@register(
    "stream_tumbling_live",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS window_start,
           event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming under the driver's value oracle (the
    batch twin `stream_tumbling` verifies the semantics; THIS entry
    runs the actual readStream→window-agg→memory-sink pipeline):
    events replayed as a 4-micro-batch file stream (availableNow),
    complete-mode tumbling aggregation, result read back from the
    sink table. Incremental state merge across micro-batches must
    reproduce the one-shot batch aggregation exactly — Spark's
    streaming agg state IS the partial-aggregate, so window counts
    and (rounded) sums land identical to the oracle's."""
    ev = read_testdata(spark, sf_dir, "events").select("ts", "event_type", "value")
    agg = (
        _stream(spark, _replay(ev), ev.schema)
        .groupBy(F.window("ts", "5 minutes"), F.col("event_type"))
        .agg(F.count("*").cast("bigint").alias("n"), F.sum("value").alias("sv"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            F.round("sv", 6).alias("sum_value"),
        )
    )
    return _drain(agg, "complete")


@register(
    "stream_session_live",
    oracle=f"""
    WITH {_SQL_SESSIONS}
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming sessionization: ``session_window`` (30-min gap)
    in an actual readStream pipeline — the stateful operator that
    must MERGE partial sessions across micro-batches (an event in
    batch 3 can extend, or bridge, sessions opened in batch 1;
    file-split order is NOT time order, so the state store does real
    out-of-order merging). Complete-mode availableNow replay; the
    oracle is the batch lag/cumsum sessionization, so every merged
    session's (count, sum) must land exactly. Session identity
    (start time) is engine-internal — the output projects per-session
    aggregates keyed by user, which IS order-independent."""
    ev = read_testdata(spark, sf_dir, "events").select("ts", "user_id", "value")
    agg = (
        _stream(spark, _replay(ev), ev.schema)
        .groupBy(F.session_window("ts", f"{_SESSION_GAP_MIN} minutes"), F.col("user_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select("user_id", "n_events", "total_value")
    )
    return _drain(agg, "complete")


# --- complex-event-processing pattern match ---------------------------
# MATCH_RECOGNIZE-lite: per-user event streams scanned in
# (ts, event_id) order by the pattern's 3-state DFA. Lazy quantifiers
# keep matching non-overlapping-leftmost in BOTH engines (the DuckDB
# oracle still counts via the regex over the aggregated symbol
# string; java.util.regex and RE2 agree on leftmost-first semantics).
# At 100 TB the engine side is one hash exchange + a spillable sort +
# an O(1)-state streamed fold (operators/ordered_fold.py) — no
# per-user sequence cell anywhere.
#
# The pattern and symbol alphabet are imported from streaming.windows
# (the stateful CEP operator) so the batch queries, both oracles, and
# the stream operator share ONE definition — editing any copy can't
# silently break the stream-vs-batch equality contract.

from mapreduce_word2vec_spark.streaming.windows import (  # noqa: E402
    CEP_CHAR as _CEP_CHAR,
    CEP_OTHER as _CEP_OTHER,
    CEP_PATTERN as _CEP_PATTERN,
    cep_dfa_fold,
)

_CEP_CASE_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _CEP_CHAR.items())
    + f" ELSE '{_CEP_OTHER}' END"
)


def _cep_symbol_col():
    """Spark when-chain mirroring _CEP_CASE_SQL, from the same dict."""
    ch = None
    for k, v in _CEP_CHAR.items():
        ch = F.when(F.col("event_type") == k, v) if ch is None else ch.when(
            F.col("event_type") == k, v
        )
    return ch.otherwise(_CEP_OTHER)


@register(
    "events_cep_pattern",
    oracle=f"""
    WITH sym AS (
      SELECT user_id, ts, event_id,
             {_CEP_CASE_SQL} AS ch
      FROM events
    ),
    seq AS (
      SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS s
      FROM sym GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(s, '{_CEP_PATTERN}')) AS BIGINT)
             AS n_conversions
    FROM seq
    """,
)
def events_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern counting (MATCH_RECOGNIZE-lite): conversions per
    user = non-overlapping 'view then click then purchase with no
    intervening error' matches over the (ts, event_id)-ordered
    per-user symbol stream.

    The lazy-leftmost regex ``v[^e]*?c[^e]*?p`` over the symbol string
    is exactly a 3-state DFA scan (lazy quantifiers end each match at
    the FIRST p after the FIRST c after a v; 'e' resets; counting
    resumes after each match end — the non-overlapping semantics both
    regex engines implement), so instead of buffering each user's
    whole symbol string in one aggregate cell (hot-key OOM at 100 TB)
    the count folds over the sorted stream with O(1) state via
    ``per_key_ordered_fold`` stepping ``cep_dfa_fold`` (the DFA the
    stream operators share) — memory is bounded by the Arrow batch,
    the sort spills, and values are bit-identical to the regex
    formulation (equivalence fuzz-pinned in tests/test_streaming_edges
    and by this query's standing DuckDB regex oracle)."""
    from mapreduce_word2vec_spark.operators.ordered_fold import (
        per_key_ordered_fold,
    )

    ev = read_testdata(spark, sf_dir, "events")
    sym = ev.select("user_id", "ts", "event_id", _cep_symbol_col().alias("ch"))

    return per_key_ordered_fold(
        sym,
        key_col="user_id",
        order_cols=("ts", "event_id"),
        val_cols=("ch",),
        out_schema="user_id bigint, seq_len bigint, n_conversions bigint",
        out_cols=("user_id", "seq_len", "n_conversions"),
        init=_cep_init,
        step=_cep_step,
        emit=_cep_emit,
    )


def _cep_init() -> tuple:
    # (cep_dfa_fold state, n_events, n_matches)
    return (0, 0, 0)


def _cep_step(st: tuple, ch: str) -> tuple:
    s, n, c = st
    c, s = cep_dfa_fold(c, s, ch)
    return (s, n + 1, c)


def _cep_emit(key, st: tuple) -> tuple:
    return (int(key), st[1], st[2])


# --- time-bounded window funnel (ClickHouse windowFunnel parity) ------
# Greedy earliest-match funnel depth: t1 = first 'view'; t2 = first
# 'click' within 1h AFTER t1; t3 = first 'purchase' within 1h after
# t2; depth = number of steps reached. Three user-keyed aggregations
# + two user-keyed joins — each partitions by user_id, nothing
# global. Microsecond epoch arithmetic on both engines (the
# unix_micros ≡ epoch_us convention).

_FUNNEL_WINDOW_US = 3_600 * 1_000_000


@register(
    "events_window_funnel",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    t1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) >= t1.t1
        AND epoch_us(e.ts) <= t1.t1 + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) >= t2.t2
        AND epoch_us(e.ts) <= t2.t2 + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id
    )
    SELECT u.user_id,
           CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
                     WHEN t2.t2 IS NOT NULL THEN 2
                     WHEN t1.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_depth,
           t1.t1 AS t_view_us, t2.t2 AS t_click_us, t3.t3 AS t_purchase_us
    FROM u LEFT JOIN t1 ON u.user_id = t1.user_id
           LEFT JOIN t2 ON u.user_id = t2.user_id
           LEFT JOIN t3 ON u.user_id = t3.user_id
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel depth per user (windowFunnel semantics,
    greedy earliest match, 1h step timeout)."""
    ev = read_testdata(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    u = ev.select("user_id").distinct()
    t1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where((F.col("us") >= F.col("t1")) & (F.col("us") <= F.col("t1") + _FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where((F.col("us") >= F.col("t2")) & (F.col("us") <= F.col("t2") + _FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
    )
    return (
        u.join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            depth.alias("funnel_depth"),
            F.col("t1").alias("t_view_us"),
            F.col("t2").alias("t_click_us"),
            F.col("t3").alias("t_purchase_us"),
        )
    )


# --- Kaplan-Meier reliability survival --------------------------------
# Survival analysis over event streams: per-user time from first
# activity to FIRST ERROR (hours), administratively right-censored at
# a 72h observation window (users with no error inside the window are
# censored, not failed — dropping them would bias the curve). The KM
# product rides an ordered window over the per-hour aggregate — the
# duration domain is bounded by the observation window (<= 72 rows),
# so the unpartitioned window is the documented bounded-input
# global-window pattern (SCALE.md), not a corpus-scale sort.

_KM_WINDOW_H = 72
_KM_H_US = 3_600 * 1_000_000


@register(
    "events_survival_km",
    oracle=f"""
    WITH t0s AS (
      SELECT user_id, min(epoch_us(ts)) AS t0
      FROM events GROUP BY user_id
    ),
    errs AS (
      SELECT user_id, min(epoch_us(ts)) AS te
      FROM events WHERE event_type = 'error' GROUP BY user_id
    ),
    durs AS (
      SELECT CASE WHEN te IS NOT NULL
                   AND (te - t0) // {_KM_H_US} < {_KM_WINDOW_H}
                  THEN (te - t0) // {_KM_H_US}
                  ELSE {_KM_WINDOW_H} END AS dur,
             NOT (te IS NOT NULL
                  AND (te - t0) // {_KM_H_US} < {_KM_WINDOW_H}) AS censored
      FROM t0s LEFT JOIN errs USING (user_id)
    ),
    byhour AS (
      SELECT CAST(dur AS BIGINT) AS dur,
             CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_failed,
             CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
      FROM durs GROUP BY dur
    ),
    risk AS (
      SELECT dur, n_failed, n_censored,
             CAST((SELECT count(*) FROM durs)
               - coalesce(sum(n_failed + n_censored) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS n_at_risk
      FROM byhour
    )
    SELECT dur AS duration_hours, n_at_risk, n_failed, n_censored,
           round(CASE WHEN max(CASE WHEN n_failed >= n_at_risk THEN 1 ELSE 0 END)
                        OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) = 1
                      THEN 0.0
                      ELSE exp(sum(CASE WHEN n_failed > 0 AND n_failed < n_at_risk
                                        THEN ln(1.0 - n_failed * 1.0 / n_at_risk)
                                        ELSE 0.0 END)
                               OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW))
                 END, 6) AS survival
    FROM risk
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-error survival with administrative
    censoring at 72h: per-hour failures/censoring, at-risk counts,
    and the product-limit estimate (exp-sum-log so the running
    product is a plain cumulative window aggregate)."""
    from pyspark.sql import Window

    ev = read_testdata(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    t0s = ev.groupBy("user_id").agg(F.min("us").alias("t0"))
    errs = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.min("us").alias("te"))
    )
    failed_in_window = F.col("te").isNotNull() & (
        F.floor((F.col("te") - F.col("t0")) / F.lit(_KM_H_US)) < _KM_WINDOW_H
    )
    durs = t0s.join(errs, "user_id", "left").select(
        F.when(
            failed_in_window,
            F.floor((F.col("te") - F.col("t0")) / F.lit(_KM_H_US)),
        )
        .otherwise(F.lit(_KM_WINDOW_H))
        .alias("dur"),
        (~failed_in_window).alias("censored"),
    )
    byhour = durs.groupBy("dur").agg(
        F.sum(F.when(F.col("censored"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_failed"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_censored"),
    )
    total = durs.agg(F.count("*").alias("n_total"))
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    risk = byhour.crossJoin(F.broadcast(total)).select(
        "dur",
        "n_failed",
        "n_censored",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("n_failed") + F.col("n_censored")).over(w_prev),
                F.lit(0),
            )
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    # A row where every remaining subject fails (n_failed == n_at_risk)
    # zeroes the product-limit estimate exactly; ln(1-1) must never be
    # evaluated — Spark F.log(0) returns NULL (the window sum would
    # silently SKIP the factor) while DuckDB ln(0) raises, so both
    # sides branch on a cumulative all-failed flag instead.
    log_term = F.when(
        (F.col("n_failed") > 0) & (F.col("n_failed") < F.col("n_at_risk")),
        F.log(F.lit(1.0) - F.col("n_failed") / F.col("n_at_risk")),
    ).otherwise(F.lit(0.0))
    all_failed_so_far = F.max(
        F.when(F.col("n_failed") >= F.col("n_at_risk"), 1).otherwise(0)
    ).over(w_cum)
    return risk.select(
        F.col("dur").cast("bigint").alias("duration_hours"),
        "n_at_risk",
        "n_failed",
        "n_censored",
        F.round(
            F.when(all_failed_so_far == 1, F.lit(0.0)).otherwise(
                F.exp(F.sum(log_term).over(w_cum))
            ),
            6,
        ).alias("survival"),
    )


@register(
    "stream_cep_live",
    oracle=f"""
    WITH sym AS (
      SELECT user_id, ts, event_id,
             {_CEP_CASE_SQL} AS ch
      FROM events
    ),
    seq AS (
      SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS s
      FROM sym GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(s, '{_CEP_PATTERN}')) AS BIGINT)
             AS n_conversions
    FROM seq
    """,
)
def stream_cep_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming CEP under the driver's value oracle: the
    applyInPandasWithState pattern machine (streaming/windows.py)
    replayed availableNow over a multi-file source, update-mode
    emissions landed in a memory sink, and the FINAL emission per user
    (max n_seen) selected with max_by. Must equal the batch
    events_cep_pattern answer exactly — out-of-order micro-batch
    arrival is reconciled by the operator's state buffer."""
    from mapreduce_word2vec_spark.streaming.windows import stateful_cep_counts

    ev = read_testdata(spark, sf_dir, "events")
    stream = _stream(spark, _replay(ev), ev.schema)
    emissions = _drain(stateful_cep_counts(stream), "update")
    return emissions.groupBy("user_id").agg(
        F.max("n_seen").cast("bigint").alias("seq_len"),
        F.max_by("n_conversions", "n_seen").cast("bigint").alias("n_conversions"),
    )


@register(
    "stream_cep_bounded_live",
    oracle=f"""
    WITH sym AS (
      SELECT user_id, ts, event_id,
             {_CEP_CASE_SQL} AS ch
      FROM events
    ),
    seq AS (
      SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS s
      FROM sym GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(s, '{_CEP_PATTERN}')) AS BIGINT)
             AS n_conversions
    FROM seq
    """,
)
def stream_cep_bounded_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-state streaming CEP under the driver's value oracle:
    the watermark-evicting pattern machine
    (streaming/windows.py stateful_cep_counts_bounded) keeps per-user
    state = (DFA fold of the evicted prefix) + (symbols above the
    1-hour event-time horizon) — constant-plus-horizon, not
    stream-length. Source files are written repartitionByRange(ts) so
    the availableNow replay arrives in event-time order; the range
    boundaries guarantee no event ever lands below the advancing
    watermark, so eviction is exercised on every batch and the final
    emission per user still equals the batch events_cep_pattern
    answer exactly."""
    from mapreduce_word2vec_spark.streaming.windows import (
        stateful_cep_counts_bounded,
    )

    ev = read_testdata(spark, sf_dir, "events")
    stream = _stream(spark, _replay(ev, ordered=True), ev.schema).withWatermark(
        "ts", "1 hour"
    )
    emissions = _drain(stateful_cep_counts_bounded(stream), "update")
    return emissions.groupBy("user_id").agg(
        F.max("n_seen").cast("bigint").alias("seq_len"),
        F.max_by("n_conversions", "n_seen").cast("bigint").alias("n_conversions"),
    )


@register(
    "stream_sliding_live",
    oracle="""
    WITH starts AS (
      SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) AS b,
             event_type, ts
      FROM events
    ),
    both_w AS (
      SELECT b AS window_start, event_type FROM starts
      UNION ALL
      SELECT b - INTERVAL '5 minutes' AS window_start, event_type FROM starts
    )
    SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
    FROM both_w GROUP BY window_start, event_type
    """,
)
def stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming sliding windows (width 10m, slide 5m ⇒ each
    event lands in exactly two windows) under the value oracle —
    incremental multi-window state across availableNow micro-batches
    must equal the batch two-window expansion."""
    ev = read_testdata(spark, sf_dir, "events").select("ts", "event_type")
    agg = (
        _stream(spark, _replay(ev), ev.schema)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return _drain(agg, "complete")


# --- bot detection --------------------------------------------------------
# Traffic cleaning before any behavioral analytics: bots fire events
# at machine-regular intervals (low coefficient of variation of
# inter-arrival gaps) and at volume. Gap moments are integer-µs sums
# (exact cross-engine); one user-keyed window for gaps + one
# aggregation. Thresholds: n ≥ 50 events and cv < 0.5. Moments use
# integer MILLIseconds: µs squares overflow int64 (4.2e9² > 2⁶³) in
# both engines; ms squares peak ~1.8e13.

_BOT_MIN_EVENTS = 50
_BOT_CV = 0.5


@register(
    "events_bot_detection",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) // 1000 AS gap
      FROM events
    ),
    m AS (
      SELECT user_id,
             CAST(count(gap) AS BIGINT) AS n_gaps,
             sum(gap) AS s1, sum(gap * gap) AS s2
      FROM g WHERE gap IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           round(CAST(s1 AS DOUBLE) / n_gaps / 1000, 6) AS mean_gap_s,
           round(sqrt(CAST(s2 AS DOUBLE) / n_gaps
                      - (CAST(s1 AS DOUBLE) / n_gaps) * (CAST(s1 AS DOUBLE) / n_gaps))
                 / (CAST(s1 AS DOUBLE) / n_gaps), 6) AS gap_cv,
           n_gaps + 1 >= {_BOT_MIN_EVENTS}
             AND sqrt(CAST(s2 AS DOUBLE) / n_gaps
                      - (CAST(s1 AS DOUBLE) / n_gaps) * (CAST(s1 AS DOUBLE) / n_gaps))
                 / (CAST(s1 AS DOUBLE) / n_gaps) < {_BOT_CV} AS is_bot
    FROM m
    """,
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot heuristic per user: coefficient of variation of
    inter-arrival gaps (integer-µs moments) with a volume floor —
    machine-regular high-volume traffic flags as bot."""
    from pyspark.sql import Window

    ev = read_testdata(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        F.floor((F.col("us") - F.lag("us").over(w)) / 1000).alias("gap"),
    ).where(F.col("gap").isNotNull())
    m = g.groupBy("user_id").agg(
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.sum("gap").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_gaps")
    sd = F.sqrt(F.col("s2").cast("double") / F.col("n_gaps") - mean * mean)
    cv = sd / mean
    return m.select(
        "user_id",
        "n_gaps",
        F.round(mean / 1_000, 6).alias("mean_gap_s"),
        F.round(cv, 6).alias("gap_cv"),
        ((F.col("n_gaps") + 1 >= _BOT_MIN_EVENTS) & (cv < _BOT_CV)).alias("is_bot"),
    )


# --- CUSUM changepoint detection ------------------------------------------
# Monitoring over the event stream: detect the day the purchase-value
# level shifts, via the classic two-sided CUSUM on per-day means
# against the global mean. All moments are exact decimal-cent sums;
# the recursive CUSUM fold runs over the BOUNDED per-day series
# (observation horizon), expressed as an aggregate-then-fold — the
# per-day table is tiny so the fold is a row-local HOF over a packed
# array, not a corpus-scale recursion.

_CUSUM_K_CENTS = 100  # slack: 1.00 of value units
_CUSUM_H_CENTS = 2_000  # alarm threshold: 20.00


@register(
    "events_changepoint_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    g AS (SELECT sum(v_cents) * 1.0 / sum(n) AS mu FROM daily),
    dev AS (
      SELECT d, v_cents, n,
             v_cents * 1.0 / n - mu AS dev
      FROM daily CROSS JOIN g
    ),
    packed AS (
      SELECT list(dev ORDER BY d) AS devs, list(d ORDER BY d) AS days FROM dev
    ),
    folded AS (
      SELECT days,
             list_transform(
               range(1, len(devs) + 1),
               i -> list_reduce(
                      list_prepend(CAST(0 AS DOUBLE), devs[1:i]),
                      (acc, x) -> greatest(0.0, acc + x - {_CUSUM_K_CENTS}))
             ) AS cpos
      FROM packed
    )
    SELECT strftime(CAST(unnest(days) AS DATE), '%Y-%m-%d') AS d,
           round(unnest(cpos), 6) AS cusum_pos,
           unnest(cpos) > {_CUSUM_H_CENTS} AS alarm
    FROM folded
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided (upper) CUSUM on daily purchase-value means: exact
    cent-integer daily sums, deviations vs the global mean, the CUSUM
    recursion as an array fold over the bounded day series."""
    ev = read_testdata(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v_cents"),
        F.count("*").alias("n"),
    )
    g = daily.agg(
        (F.sum("v_cents") / F.sum("n")).alias("mu")
    )
    dev = daily.crossJoin(F.broadcast(g)).select(
        "d", (F.col("v_cents") / F.col("n") - F.col("mu")).alias("dev")
    )
    packed = dev.agg(
        F.array_sort(F.collect_list(F.struct("d", "dev"))).alias("pairs")
    )
    devs = F.transform(F.col("pairs"), lambda s: s["dev"])
    days = F.transform(F.col("pairs"), lambda s: s["d"])
    cpos = F.transform(
        F.sequence(F.lit(1), F.size(devs)),
        lambda i: F.aggregate(
            F.slice(devs, 1, i),
            F.lit(0.0),
            lambda acc, x: F.greatest(F.lit(0.0), acc + x - _CUSUM_K_CENTS),
        ),
    )
    # Guard the no-purchases edge: F.sequence(1, 0) yields [1, 0]
    # (Spark's default step is -1 when start > stop), which would emit
    # two spurious rows where the oracle's unnest over an empty list
    # emits none.
    folded = packed.select(days.alias("days"), cpos.alias("cpos")).where(
        F.size("days") > 0
    )
    z = F.explode(F.arrays_zip("days", "cpos")).alias("z")
    return folded.select(z).select(
        F.date_format(F.col("z.days"), "yyyy-MM-dd").alias("d"),
        F.round(F.col("z.cpos"), 6).alias("cusum_pos"),
        (F.col("z.cpos") > _CUSUM_H_CENTS).alias("alarm"),
    )


# --- daily peak detection ---------------------------------------------------
# Ops-dashboard staple: days that are STRICT local maxima of event
# volume (higher than both neighbors). lag/lead over the bounded
# per-day aggregate; endpoints never qualify (one-sided neighbors).


@register(
    "events_daily_peaks",
    oracle="""
    WITH daily AS (
      SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    nbr AS (
      SELECT d, n,
             lag(n) OVER (ORDER BY d) AS prev_n,
             lead(n) OVER (ORDER BY d) AS next_n
      FROM daily
    )
    SELECT d, n, prev_n, next_n
    FROM nbr
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n > prev_n AND n > next_n
    """,
)
def events_daily_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local maxima of daily event volume (lag/lead over the
    bounded per-day series)."""
    from pyspark.sql import Window

    ev = read_testdata(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = Window.orderBy("d")
    nbr = daily.select(
        "d",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return nbr.where(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") > F.col("next_n"))
    )


# --- token-bucket rate-limit audit ----------------------------------------
# "How many of these requests WOULD a 10-per-minute token bucket have
# rejected?" — the capacity-planning replay every gateway team runs.
# The bucket is inherently sequential per user, with a constant
# [last_ts, tokens, n_rejected] state vector — so it streams over the
# (ts, event_id)-sorted per-user rows via per_key_ordered_fold
# (O(arrow-batch) memory; the DuckDB oracle keeps the list_reduce
# fold, which is fine oracle-side where corpora are gate-sized).

_RL_CAP = 10.0
_RL_RATE_PER_US = 10.0 / 60e6  # 10 tokens per minute


@register(
    "events_rate_limit_audit",
    oracle=f"""
    WITH e AS (
      SELECT user_id, CAST(epoch_us(ts) AS DOUBLE) AS us, event_id
      FROM events
    ),
    packed AS (
      SELECT user_id,
             list([us, 0.0, 0.0] ORDER BY us, event_id) AS evs
      FROM e GROUP BY user_id
    ),
    folded AS (
      SELECT user_id, len(evs) AS n_events,
             CASE WHEN len(evs) = 1
                  THEN [evs[1][1], {_RL_CAP} - 1.0, 0.0]
                  ELSE list_reduce(
                    list_prepend([evs[1][1], {_RL_CAP} - 1.0, 0.0], evs[2:]),
                    (acc, x) ->
                      [x[1],
                       CASE WHEN least({_RL_CAP}, acc[2] + (x[1] - acc[1]) * {_RL_RATE_PER_US}) >= 1.0
                            THEN least({_RL_CAP}, acc[2] + (x[1] - acc[1]) * {_RL_RATE_PER_US}) - 1.0
                            ELSE least({_RL_CAP}, acc[2] + (x[1] - acc[1]) * {_RL_RATE_PER_US}) END,
                       acc[3] + CASE WHEN least({_RL_CAP}, acc[2] + (x[1] - acc[1]) * {_RL_RATE_PER_US}) >= 1.0
                                     THEN 0.0 ELSE 1.0 END])
             END AS st
      FROM packed
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(st[3] AS BIGINT) AS n_rejected,
           round(st[2], 6) AS tokens_left
    FROM folded
    """,
)
def events_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay a 10/minute token bucket over each user's event stream:
    rejected-request count and final token level.

    The bucket is a non-associative O(1)-state recurrence (last_ts,
    tokens, n_rejected), so it folds over the (ts, event_id)-sorted
    per-user stream via ``per_key_ordered_fold`` instead of packing
    each user's full history into one aggregate cell (hot-key OOM at
    100 TB). Python doubles are IEEE-754 with the identical operation
    order (min(cap, tok + Δus·rate)), so the values are bit-identical
    to the previous F.aggregate HOF fold; the DuckDB list_reduce
    oracle is unchanged."""
    from mapreduce_word2vec_spark.operators.ordered_fold import (
        per_key_ordered_fold,
    )

    ev = read_testdata(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    return per_key_ordered_fold(
        ev,
        key_col="user_id",
        order_cols=("us", "event_id"),
        val_cols=("us",),
        out_schema=(
            "user_id bigint, n_events bigint, n_rejected bigint, "
            "tokens_left double"
        ),
        out_cols=("user_id", "n_events", "n_rejected", "tokens_left"),
        init=_rl_init,
        step=_rl_step,
        emit=_rl_emit,
    )


def _rl_init():
    # None until the first event; then (last_us, tokens, n_rej, n).
    return None


def _rl_step(st, us) -> tuple:
    usf = float(us)
    if st is None:
        # First request always admits: bucket starts full.
        return (usf, _RL_CAP - 1.0, 0, 1)
    last, tok, rej, n = st
    refill = min(_RL_CAP, tok + (usf - last) * _RL_RATE_PER_US)
    if refill >= 1.0:
        return (usf, refill - 1.0, rej, n + 1)
    return (usf, refill, rej + 1, n + 1)


def _rl_emit(key, st: tuple) -> tuple:
    # Spark's F.round on DoubleType is BigDecimal.valueOf(d).setScale(6,
    # HALF_UP) — i.e. HALF_UP over the SHORTEST round-trip decimal repr
    # (Java Double.toString), not over the exact binary expansion.
    # Python's repr() is the same shortest round-trip decimal, so
    # Decimal(repr(x)) reproduces Spark bit-for-bit; Decimal(x) (exact
    # binary) diverges on values whose shortest repr ends in ...5 at
    # the 7th decimal (e.g. 4.0000005 = binary 4.00000049999..., which
    # exact-binary HALF_UP sends to 4.000000 but Spark to 4.000001) —
    # verified empirically vs F.round (ADVICE r7; tests/test_fuzz_parity).
    from decimal import ROUND_HALF_UP, Decimal

    tokens = float(
        Decimal(repr(st[1])).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )
    return (int(key), st[3], st[2], tokens)


# --- feature-store rolling features -----------------------------------------
# Point-in-time training features: for every event, the SAME user's
# trailing-1h activity (count + value sum, current row included) via
# an event-time RANGE frame — the interval-frame window surface that
# per-row feature materialization needs. One user-keyed exchange;
# Spark's range frame wants a numeric ordering key, so the frame
# runs on unix_micros(ts) (DuckDB mirrors with epoch_us + the same
# integer bound).

_ROLL_US = 3_600 * 1_000_000


@register(
    "events_rolling_features",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_events_1h,
           round(sum(value) OVER w, 6) AS value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_ROLL_US} PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1h per-user event count and value sum at every event
    (event-time RANGE frame on the µs ordering key)."""
    from pyspark.sql import Window

    ev = read_testdata(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_ROLL_US, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_events_1h"),
        F.round(F.sum("value").over(w), 6).alias("value_1h"),
    )


# --- session outcome / cart abandonment -------------------------------------
# The e-commerce staple: classify every session (30-min gap rule, the
# engine's standard sessionization) as converted (purchase), abandoned
# (click, no purchase), or browse-only, and report per-outcome session
# counts and average size. Reuses the lag/cumsum sessionization — one
# user-keyed exchange, one session aggregate, one outcome rollup.


@register(
    "events_session_abandonment",
    oracle=f"""
    WITH {_SQL_SESSIONS}, sess AS (
      SELECT user_id, session_idx,
             count(*) AS n_events,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_c
      FROM s GROUP BY user_id, session_idx
    )
    SELECT CASE WHEN has_p = 1 THEN 'converted'
                WHEN has_c = 1 THEN 'abandoned'
                ELSE 'browse_only' END AS outcome,
           CAST(count(*) AS BIGINT) AS n_sessions,
           round(avg(n_events), 6) AS avg_events
    FROM sess GROUP BY 1
    """,
)
def events_session_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session outcomes (converted / abandoned / browse-only) with
    counts and mean session size over 30-min-gap sessions."""
    from mapreduce_word2vec_spark.streaming.windows import assign_sessions

    ev = read_testdata(spark, sf_dir, "events")
    s = assign_sessions(ev, gap_minutes=_SESSION_GAP_MIN)
    sess = s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_p"
        ),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("has_c"),
    )
    outcome = (
        F.when(F.col("has_p") == 1, "converted")
        .when(F.col("has_c") == 1, "abandoned")
        .otherwise("browse_only")
    )
    return sess.groupBy(outcome.alias("outcome")).agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.round(F.avg("n_events"), 6).alias("avg_events"),
    )


# --- timeout (absence) alerts ------------------------------------------------
# CEP's other half: alert when an expected FOLLOW-UP never arrives —
# per user, first 'view' events whose next purchase is more than 1h
# away (or never). The as-of forward lookup is one min-aggregation +
# user-keyed join, the same keyed shapes as events_window_funnel; at
# stream time this is exactly what state timeouts implement.


@register(
    "events_timeout_alerts",
    oracle=f"""
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t_next_purchase
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.t_view
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view AS t_view_us,
           p.t_next_purchase AS t_purchase_us,
           p.t_next_purchase IS NULL
             OR p.t_next_purchase - v.t_view > {_FUNNEL_WINDOW_US} AS timed_out
    FROM v LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_timeout_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absence detection: users whose first view is not followed by a
    purchase within 1h (or ever)."""
    ev = read_testdata(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("us") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_next_purchase"))
    )
    j = v.join(p, "user_id", "left")
    timed_out = F.col("t_next_purchase").isNull() | (
        F.col("t_next_purchase") - F.col("t_view") > _FUNNEL_WINDOW_US
    )
    return j.select(
        "user_id",
        F.col("t_view").alias("t_view_us"),
        F.col("t_next_purchase").alias("t_purchase_us"),
        timed_out.alias("timed_out"),
    )


@register(
    "events_attribution_linear",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT *,
             sum(is_click) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
             ) AS n_touches
      FROM ev
    )
    SELECT event_id AS purchase_id,
           CAST(n_touches AS BIGINT) AS n_touches,
           CASE WHEN n_touches > 0
                THEN round(value / n_touches, 6) END AS credit_per_touch
    FROM w WHERE is_click = 0
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (even-split) attribution: each purchase divides its
    revenue equally across ALL clicks in the 1-hour lookback — the
    multi-touch companion to events_attribution_last_touch. No
    purchase×click pair join: the touch COUNT comes from one
    event-time RANGE frame (µs offsets) over the unioned stream, so
    the whole pass is one user_id exchange; RANGE's
    same-order-value-peers-included boundary semantics are identical
    in both engines, making the count — and therefore the split —
    engine-exact. At 100 TB this is the shape that survives: the
    per-pair credit join materializes |purchases|×|touches| rows,
    the range frame never does."""
    from pyspark.sql import Window

    ev = (
        read_testdata(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            "value",
            F.unix_micros("ts").alias("us"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .alias("is_click"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    touched = ev.withColumn("n_touches", F.sum("is_click").over(w))
    return touched.where(F.col("is_click") == 0).select(
        F.col("event_id").alias("purchase_id"),
        F.col("n_touches").cast("bigint").alias("n_touches"),
        F.when(
            F.col("n_touches") > 0,
            F.round(F.col("value") / F.col("n_touches"), 6),
        ).alias("credit_per_touch"),
    )


@register(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    paths AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path, count(*) AS n
      FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n FROM (
      SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rk
      FROM paths
    ) WHERE rk <= 10
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavior paths (event-type trigrams over each
    user's time-ordered stream) — the path-mining view behind Sankey /
    next-action products, extending events_markov_transitions'
    bigram matrix to path level. Two lead windows ride ONE user_id
    exchange (same frame), path counts are map-side partial, and the
    final top-10 ranks the |types|³-bounded path table — never the
    events. Total (count desc, path) ordering makes the cut
    deterministic; the ts tie-break (event_id) matches the engine's
    other sequence operators."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    seq = read_testdata(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    paths = (
        seq.where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
    )
    rw = Window.orderBy(F.desc("n"), "path")
    return (
        paths.withColumn("rk", F.row_number().over(rw))
        .where(F.col("rk") <= 10)
        .select("path", "n")
    )


@register(
    "stream_stream_join_live",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us,
           round(p.value, 6) AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
    """,
)
def stream_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream inner join under the driver's value oracle:
    clicks and purchases as two watermarked streams, joined on user
    within a 30-minute event-time band — the Structured Streaming
    feature where BOTH sides buffer state and the time-range
    condition is what lets the engine evict it (an unbounded-band
    stream join would hold each side forever). Both sides read the
    SAME ts-range-ordered file set (pinned mtimes, the
    stream_cep_bounded_live replay discipline), so their watermarks
    advance in lockstep and ordered arrival makes eviction provably
    lossless: a purchase always lands in a batch whose minimum ts is
    above the watermark that could have evicted its matching click.
    Every (click, purchase) pair must therefore equal the one-shot
    batch join exactly — matched-state streaming correctness, not
    just aggregation-state."""
    ev = read_testdata(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).where(F.col("event_type").isin("click", "purchase"))
    src = _replay(ev, ordered=True)

    def side(kind: str, id_alias: str, ts_alias: str):
        return (
            _stream(spark, src, ev.schema)
            .where(F.col("event_type") == kind)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
                "user_id",
                "value",
            )
        )

    clicks = side("click", "click_id", "cts").drop("value")
    purchases = side("purchase", "purchase_id", "pts").withColumnRenamed(
        "user_id", "p_user_id"
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("pts") - F.unix_micros("cts")).alias("gap_us"),
        F.round("value", 6).alias("purchase_value"),
    )
    return _drain(joined, "append")


@register(
    "stream_dedup_watermark_live",
    oracle="""
    SELECT event_id, event_type, round(value, 6) AS value
    FROM events
    """,
)
def stream_dedup_watermark_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming dedup under the driver's value oracle:
    `dropDuplicatesWithinWatermark` over a replay where 10% of events
    are RE-TRANSMITTED 60 s later (the at-least-once-delivery
    scenario the operator exists for — bounded state, unlike plain
    dropDuplicates whose key set grows forever). The duplicate copies
    differ ONLY in ts, and ts is not projected, so whichever copy a
    micro-batch happens to keep, the emitted row is byte-identical —
    the output is deterministic even though intra-batch keep order is
    not. Ordered ts-range replay (pinned mtimes) + a 10-minute
    watermark ≫ the 60 s retransmission gap guarantee every
    duplicate meets its original's still-live state: the sink must
    equal the duplicate-free base table EXACTLY."""
    from mapreduce_word2vec_spark.streaming.windows import stream_dedup

    ev = read_testdata(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    dupes = ev.where(F.col("event_id") % 10 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 60 SECONDS")
    )
    src = _replay(ev.unionByName(dupes), ordered=True)
    deduped = stream_dedup(
        _stream(spark, src, ev.schema), watermark="10 minutes"
    ).select("event_id", "event_type", F.round("value", 6).alias("value"))
    return _drain(deduped, "append")


@register(
    "stream_late_drop_live",
    oracle="""
    WITH e AS (SELECT event_id, ts, event_id % 8 AS b FROM events),
    bm AS (SELECT b, max(ts) AS mx FROM e GROUP BY b),
    pm AS (
      SELECT b, max(mx) OVER (ORDER BY b
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 2 PRECEDING) AS filter_max
      FROM bm
    ),
    keep AS (
      SELECT time_bucket(INTERVAL '5 minutes', e.ts) AS ws
      FROM e JOIN pm USING (b)
      WHERE pm.filter_max IS NULL
         OR time_bucket(INTERVAL '5 minutes', e.ts) + INTERVAL '5 minutes'
            > date_trunc('milliseconds', pm.filter_max) - INTERVAL '10 minutes'
    )
    SELECT CAST(ws AS TIMESTAMP) AS window_start,
           CAST(count(*) AS BIGINT) AS n
    FROM keep GROUP BY ws
    """,
)
def stream_late_drop_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The late-data DROP path under the full value oracle — the one
    watermark behavior the ordered-replay live queries deliberately
    avoid. Batch membership is made explicit (file k = event_id ≡ k
    mod 8, single file per chunk, pinned mtimes, one file per
    trigger), so each micro-batch mixes the whole time range and the
    10-minute watermark — established by batch 0's maximum — drops
    most old rows arriving in batches 2–7. The oracle re-derives
    Spark's exact drop rule in SQL: the late filter in batch k uses
    the prefix max event time through batch k−2 minus the delay
    (ms-truncated, as Spark tracks event-time stats in ms) — the
    watermark update propagates with a ONE-BATCH lag relative to the
    progress-reported value, pinned empirically via the
    numRowsDroppedByWatermark trace (batch 1 drops 0 rows even
    though its reported watermark already covers the stream) — and a
    row is dropped iff its window END ≤ that filter watermark.
    Re-created-after-eviction windows cannot occur under this lag
    (filter max through k−2 ≥ eviction max through j−1 for any
    earlier batch j ≤ k−1, so a row passing the filter contradicts
    its window's eviction). Update-mode sink;
    the final per-window count is the max across its emitted updates
    (counts are monotone). Hash-equality here pins the drop boundary,
    the watermark update timing, and the ms truncation — not just
    that "some rows were dropped"."""
    import time as _time

    ev = read_testdata(spark, sf_dir, "events").select("event_id", "ts")
    base = scratch_dir("mw2v_replay_")
    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    t0 = _time.time()
    for k in range(8):
        chunk_dir = os.path.join(base, f"chunk{k}")
        (
            ev.where(F.col("event_id") % 8 == k)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(chunk_dir)
        )
        part = next(
            f for f in os.listdir(chunk_dir) if f.startswith("part-")
        )
        dst = os.path.join(src, f"batch-{k}.parquet")
        os.replace(os.path.join(chunk_dir, part), dst)
        os.utime(dst, (t0 + k, t0 + k))
    agg = (
        _stream(spark, src, ev.schema, per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    return _drain(agg, "update").groupBy("window_start").agg(F.max("n").alias("n"))


# Single source of truth for the per-event-type session gap: the
# oracle CASE and the Spark when-chain are both DERIVED from this
# table (the CEP_CHAR/_CEP_CASE_SQL discipline) so an edit can't
# silently desynchronize the two engines.
_DYN_GAP_MIN = {"click": 30, "view": 30, "purchase": 60, "signup": 120}
_DYN_GAP_DEFAULT_MIN = 5  # everything else (errors)
_DYN_GAP_CASE_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{t}' THEN {m}" for t, m in _DYN_GAP_MIN.items())
    + f" ELSE {_DYN_GAP_DEFAULT_MIN} END"
)


def _dyn_gap_col() -> F.Column:
    gap = None
    for t, m in _DYN_GAP_MIN.items():
        gap = (F.when if gap is None else gap.when)(F.col("event_type") == t, m)
    return gap.otherwise(_DYN_GAP_DEFAULT_MIN)


@register(
    "stream_session_dynamic_gap",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id,
             {_DYN_GAP_CASE_SQL} * CAST(60000000 AS BIGINT) AS gap_us
      FROM events
    ),
    r AS (
      SELECT user_id, ts, event_id, gap_us,
             max(epoch_us(ts) + gap_us) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end_us
      FROM e
    ),
    g AS (
      SELECT *, CASE WHEN prev_end_us IS NULL
                       OR epoch_us(ts) >= prev_end_us THEN 1 ELSE 0 END AS new_s
      FROM r
    ),
    s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(to_timestamp(max(epoch_us(ts) + gap_us) / 1000000.0)
                AS TIMESTAMP) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows (`session_window(ts, <expr>)`):
    each event extends its session by a gap that depends on the
    event itself — purchases hold sessions open 60 min, errors only
    5 — the per-activity-timeout sessionization fixed-gap windows
    can't express. Spark merges events whose [ts, ts+gap) spans
    overlap; the oracle re-derives exactly that with a running max
    of (ts + gap) over preceding rows (new session iff ts ≥ that
    max, the half-open-interval boundary), then cumsum session ids.
    Session END is max(ts+gap), not max(ts) — the contract that
    distinguishes the dynamic form. One user_id exchange either
    way."""
    gap = _dyn_gap_col()
    ev = read_testdata(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    sw = F.session_window(
        F.col("ts"), F.concat(gap.cast("string"), F.lit(" minutes"))
    )
    out = ev.groupBy("user_id", sw.alias("sw")).agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return out.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    )


_SLO_BUDGET = 0.25  # error budget: 25% of events may be errors (fixture-scaled)


@register(
    "events_error_budget_burn",
    oracle=f"""
    WITH h AS (
      SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS w1,
             CAST(time_bucket(INTERVAL '6 hours', ts) AS TIMESTAMP) AS w6,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events
    ),
    r1 AS (
      SELECT w1, min(w6) AS w6, count(*) AS n1, sum(is_err) AS e1
      FROM h GROUP BY w1
    ),
    r6 AS (SELECT w6, count(*) AS n6, sum(is_err) AS e6 FROM h GROUP BY w6)
    SELECT r1.w1 AS window_start,
           round(e1 * 1.0 / n1, 6) AS rate_1h,
           round(e6 * 1.0 / n6, 6) AS rate_6h,
           round(e1 / (n1 * {_SLO_BUDGET}), 6) AS burn_1h,
           (e1 * 1.0 / n1 > 1.2 * {_SLO_BUDGET}
            AND e6 * 1.0 / n6 > 1.1 * {_SLO_BUDGET}) AS page
    FROM r1 JOIN r6 USING (w6)
    """,
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE multi-window burn-rate alerting: per 1-hour window, the
    error rate and its burn multiple against a fixed error budget,
    paging only when BOTH the fast (1 h) and slow (6 h) windows burn
    hot — the two-window AND that kills the single-window policy's
    flappiness (a brief spike trips 1 h but not 6 h; a slow leak
    trips 6 h but not 1 h). Every 1-hour window belongs to exactly
    one aligned 6-hour window, so the slow rate joins back on the
    bucket key — both aggregations fold map-side off ONE scan, the
    join is between two window-cardinality tables, and the whole
    alert evaluates without a second pass over events."""
    ev = read_testdata(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("w1"),
        F.timestamp_seconds(
            (F.unix_timestamp(F.date_trunc("hour", "ts")) / 21600).cast("bigint")
            * 21600
        ).alias("w6"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    r1 = ev.groupBy("w1").agg(
        F.min("w6").alias("w6"),
        F.count("*").alias("n1"),
        F.sum("is_err").alias("e1"),
    )
    r6 = ev.groupBy("w6").agg(
        F.count("*").alias("n6"), F.sum("is_err").alias("e6")
    )
    j = r1.join(r6, "w6")
    b = F.lit(_SLO_BUDGET)
    return j.select(
        F.col("w1").alias("window_start"),
        F.round(F.col("e1") / F.col("n1"), 6).alias("rate_1h"),
        F.round(F.col("e6") / F.col("n6"), 6).alias("rate_6h"),
        F.round(F.col("e1") / (F.col("n1") * b), 6).alias("burn_1h"),
        (
            (F.col("e1") / F.col("n1") > 1.2 * b)
            & (F.col("e6") / F.col("n6") > 1.1 * b)
        ).alias("page"),
    )


@register(
    "stream_observe_metrics_live",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 6) AS sum_value,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM events
    """,
)
def stream_observe_metrics_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING observability: `df.observe` on a readStream pipeline
    — per-micro-batch data-quality counters reported through
    StreamingQueryProgress.observedMetrics while the batch's real
    work (here a passthrough to a memory sink) proceeds, the
    zero-extra-scan monitoring hook a 100 TB ingest job hangs its
    alerting on. Each batch contributes one metrics row; count/sum
    accumulators are exactly mergeable, so the FOLD of the per-batch
    observations must equal the one-shot batch aggregation — which is
    what the oracle computes. Exercises the streaming observe path
    end-to-end (listener-visible metrics, not the batch Observation
    object, which streaming queries don't support)."""
    ev = read_testdata(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    src = _replay(ev)
    # recentProgress is a ring buffer capped at
    # spark.sql.streaming.numRecentProgressUpdates (default 100); with
    # enough source files older batch observations would silently evict
    # and the fold undercounts. 8 source files / 2 per trigger = 4
    # batches here, but raise the cap (restored after the run — the
    # session is shared by the whole catalog) and assert below so a
    # layout change can never turn this into a silent undercount.
    _CAP_KEY = "spark.sql.streaming.numRecentProgressUpdates"
    prev_cap = spark.conf.get(_CAP_KEY, None)
    spark.conf.set(_CAP_KEY, "512")
    try:
        stream = _stream(spark, src, ev.schema).observe(
            "ingest_metrics",
            F.count(F.lit(1)).alias("n_rows"),
            # Coalesced at the source: a zero-row micro-batch
            # observes sum_value = NULL, and the Python fold below
            # would crash on 0 + None.
            F.coalesce(F.sum("value"), F.lit(0.0)).alias("sum_value"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        )
        _, q = _drain(stream, "append", with_query=True)
        progress = q.recentProgress
        if len(progress) >= 512:
            raise RuntimeError(
                "recentProgress hit the 512-entry ring-buffer cap; "
                "older batch observations were evicted and the metrics "
                "fold would undercount"
            )
    finally:
        if prev_cap is None:
            spark.conf.unset(_CAP_KEY)
        else:
            spark.conf.set(_CAP_KEY, prev_cap)
    rows = [
        p["observedMetrics"]["ingest_metrics"]
        for p in progress
        if "ingest_metrics" in (p.get("observedMetrics") or {})
    ]
    folded = [
        (
            int(sum(r["n_rows"] for r in rows)),
            float(sum(r["sum_value"] for r in rows)),
            int(sum(r["n_errors"] for r in rows)),
        )
    ]
    return spark.createDataFrame(
        folded, "n_rows bigint, sum_value double, n_errors bigint"
    ).select("n_rows", F.round("sum_value", 6).alias("sum_value"), "n_errors")


# --- position-based (U-shaped) attribution ---------------------------------
# Completes the attribution family (last-touch, linear, position-
# based): first and last click in the 24-hour lookback get 40% of the
# purchase value each, the middle clicks split the remaining 20%.
# Degenerate cases use the standard convention: a single touch takes
# 100%, two touches split 50/50. Like events_attribution_linear, the
# credit schedule is a pure CASE over the touch COUNT from one
# event-time RANGE frame — no purchase×click pair join, one user_id
# exchange, engine-exact because the frame boundary semantics match.


@register(
    "events_attribution_position",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT *,
             sum(is_click) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW
             ) AS n_touches
      FROM ev
    )
    SELECT event_id AS purchase_id,
           CAST(n_touches AS BIGINT) AS n_touches,
           CASE WHEN n_touches = 1 THEN round(value, 6)
                WHEN n_touches = 2 THEN round(value * 0.5, 6)
                WHEN n_touches >= 3 THEN round(value * 0.4, 6) END AS credit_first,
           CASE WHEN n_touches = 1 THEN round(value, 6)
                WHEN n_touches = 2 THEN round(value * 0.5, 6)
                WHEN n_touches >= 3 THEN round(value * 0.4, 6) END AS credit_last,
           CASE WHEN n_touches >= 3
                THEN round(value * 0.2 / (n_touches - 2), 6) END AS credit_mid_each
    FROM w WHERE is_click = 0
    """,
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped attribution: 40/20/40 credit schedule over the 24-hour
    click lookback, touch count from one RANGE frame."""
    from pyspark.sql import Window

    ev = (
        read_testdata(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            "value",
            F.unix_micros("ts").alias("us"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_click"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-86_400_000_000, Window.currentRow)
    )
    n = F.col("n_touches")
    end_credit = (
        F.when(n == 1, F.round(F.col("value"), 6))
        .when(n == 2, F.round(F.col("value") * 0.5, 6))
        .when(n >= 3, F.round(F.col("value") * 0.4, 6))
    )
    return (
        ev.withColumn("n_touches", F.sum("is_click").over(w))
        .where(F.col("is_click") == 0)
        .select(
            F.col("event_id").alias("purchase_id"),
            n.cast("bigint").alias("n_touches"),
            end_credit.alias("credit_first"),
            end_credit.alias("credit_last"),
            F.when(
                n >= 3, F.round(F.col("value") * 0.2 / (n - 2), 6)
            ).alias("credit_mid_each"),
        )
    )


# --- difference-in-differences estimate ------------------------------------
# The experimentation-analytics companion to events_ab_ttest: a 2×2
# DiD design over purchase values — treatment arm = even user_id
# (stand-in for an assignment table), cutover = Jan 16 — reporting
# the four cell means and the DiD effect estimate
# (post_t − pre_t) − (post_c − pre_c). Float discipline: cell sums
# accumulate as DECIMAL(18,6) of the 6-dp-rounded values
# (order-proof); the means and the estimate drop to doubles only at
# the end, via the same exact-sum/count division on both engines.
# One narrow scan, one 4-row aggregation — nothing else moves.


@register(
    "events_did_estimate",
    oracle="""
    WITH cells AS (
      SELECT (user_id % 2 = 0) AS treated,
             (ts >= TIMESTAMP '2024-01-16 00:00:00') AS post,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS s
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ),
    m AS (
      SELECT treated, post, n, round(CAST(s AS DOUBLE) / n, 6) AS mean_value
      FROM cells
    ),
    w AS (
      SELECT
        max(CASE WHEN treated AND post THEN mean_value END) AS t_post,
        max(CASE WHEN treated AND NOT post THEN mean_value END) AS t_pre,
        max(CASE WHEN NOT treated AND post THEN mean_value END) AS c_post,
        max(CASE WHEN NOT treated AND NOT post THEN mean_value END) AS c_pre
      FROM m
    )
    SELECT m.treated, m.post, m.n, m.mean_value,
           round((w.t_post - w.t_pre) - (w.c_post - w.c_pre), 6) AS did_estimate
    FROM m CROSS JOIN w
    """,
)
def events_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 difference-in-differences over purchase values: cell
    means (treated × post) plus the DiD effect estimate on every
    row."""
    ev = read_testdata(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    cells = ev.groupBy(
        (F.col("user_id") % 2 == 0).alias("treated"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias(
            "post"
        ),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round("value", 6).cast("decimal(18,6)")).alias("s"),
    )
    m = cells.select(
        "treated",
        "post",
        "n",
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("mean_value"),
    )
    pick = lambda t, p: F.max(  # noqa: E731 — 2×2 cell extractor
        F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mean_value"))
    )
    w = m.agg(
        pick(True, True).alias("t_post"),
        pick(True, False).alias("t_pre"),
        pick(False, True).alias("c_post"),
        pick(False, False).alias("c_pre"),
    )
    return m.crossJoin(F.broadcast(w)).select(
        "treated",
        "post",
        "n",
        "mean_value",
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_estimate"),
    )


# --- interval coalescing (episode merge) -----------------------------------
# The interval-union operator incident timelines need: every error
# event opens a 5-minute impact window; overlapping or touching
# windows per user merge into one EPISODE. Classic cumulative-max
# gaps-and-islands — an island starts where the event's start exceeds
# the running max end of everything earlier — so the whole merge is
# TWO window functions on ONE user_id exchange, never an
# interval-by-interval self-join (which is quadratic per user at
# incident-storm density). µs integer arithmetic end to end; both
# engines see identical island ids.


@register(
    "events_interval_coalesce",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      FROM events WHERE event_type = 'error'
    ),
    m AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e) AS episode
      FROM m
    )
    SELECT user_id, CAST(episode AS BIGINT) AS episode,
           CAST(min(s) AS BIGINT) AS start_us,
           CAST(max(e) AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(e) - min(s) AS BIGINT) AS duration_us
    FROM isl GROUP BY user_id, episode
    """,
)
def events_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged error-impact episodes per user: 5-minute windows around
    error events coalesced by cumulative-max islands."""
    from pyspark.sql import Window

    iv = (
        read_testdata(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            "user_id",
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + F.lit(300_000_000)).alias("e"),
        )
    )
    w_ord = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max = F.max("e").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.withColumn("prev_max_e", prev_max)
    isl = m.withColumn(
        "episode",
        F.sum(
            F.when(
                F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
                1,
            ).otherwise(0)
        ).over(w_ord),
    )
    return isl.groupBy("user_id", F.col("episode").cast("bigint").alias("episode")).agg(
        F.min("s").cast("bigint").alias("start_us"),
        F.max("e").cast("bigint").alias("end_us"),
        F.count("*").cast("bigint").alias("n_events"),
        (F.max("e") - F.min("s")).cast("bigint").alias("duration_us"),
    )


# --- sample-ratio-mismatch guardrail ---------------------------------------
# The first check any experiment readout runs: does the realized arm
# split match the designed 50/50 within chi-square tolerance? A
# mismatch (SRM) means assignment or logging is broken and every
# downstream estimate (events_ab_ttest, events_did_estimate) is
# invalid. One-degree-of-freedom chi² = (n_t − n_c)²/(n_t + n_c) for
# an even design — integer-exact numerator/denominator, one count
# aggregation, flag at the 0.05 critical value 3.841.


@register(
    "events_ab_srm_check",
    oracle="""
    WITH arms AS (
      SELECT CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_t,
             CAST(count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS BIGINT) AS n_c
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT n_t, n_c,
           round((n_t - n_c) * (n_t - n_c) * 1.0 / (n_t + n_c), 6) AS chi2,
           (n_t - n_c) * (n_t - n_c) * 1.0 / (n_t + n_c) > 3.841 AS srm_detected
    FROM arms
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: chi² of the realized arm
    split against the even design, flagged at the 5% critical
    value."""
    users = read_testdata(spark, sf_dir, "events").select("user_id").distinct()
    arms = users.agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1)).cast("bigint").alias("n_t"),
        F.count(F.when(F.col("user_id") % 2 != 0, 1)).cast("bigint").alias("n_c"),
    )
    chi2 = (
        (F.col("n_t") - F.col("n_c"))
        * (F.col("n_t") - F.col("n_c"))
        * F.lit(1.0)
        / (F.col("n_t") + F.col("n_c"))
    )
    return arms.select(
        "n_t",
        "n_c",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


# --- checkpoint recovery (exactly-once restart) ----------------------------
# The restart contract everything in production streaming rests on: a
# query stopped and RESTARTED from its checkpoint must process each
# input file exactly once. Run 1 streams half the corpus
# (availableNow) and appends per-batch per-user count increments via
# foreachBatch; more files land; run 2 starts a NEW query on the SAME
# checkpoint. If offset recovery works, the summed increments equal
# the batch count over ALL events; if the restart re-read run-1 files
# (or skipped the new ones), the totals are wrong and the value
# oracle catches it. A fresh scratch_dir per call keeps the query
# idempotent across repeated calls in one process and across runs.


@register(
    "stream_checkpoint_recovery",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two availableNow runs over one checkpoint: per-user totals from
    appended per-batch increments must equal the batch ground truth —
    exactly-once across a restart."""
    ev = read_testdata(spark, sf_dir, "events").select("event_id", "user_id")
    src = _replay(ev.where(F.col("event_id") % 2 == 0))
    out = scratch_dir("mw2v_out_")
    ckpt = scratch_dir("mw2v_ckpt_")

    def run_once() -> None:
        def sink(bdf, _bid) -> None:
            (
                bdf.groupBy("user_id")
                .agg(F.count("*").cast("bigint").alias("inc"))
                .write.mode("append")
                .parquet(out)
            )

        q = (
            _stream(spark, src, ev.schema)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # new files arrive while the query is DOWN; the restart must pick
    # up exactly these and none of the already-committed ones
    ev.where(F.col("event_id") % 2 == 1).repartition(4).write.mode(
        "append"
    ).parquet(src)
    run_once()
    return (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.sum("inc").cast("bigint").alias("n_events"))
    )


# --- weekly cohort retention matrix ----------------------------------------
# The classic growth triangle: users grouped by first-seen week,
# each cohort's active share tracked per week offset. Two exchanges
# total — one user_id window for the first-seen week (riding the
# same shuffle as the activity distinct), one (cohort, offset)
# count — and the matrix is (weeks × weeks) rows regardless of user
# count. Week ids are integer floor(epoch_µs / week) on BOTH sides —
# one shared epoch origin, sidestepping the cross-engine
# time_bucket-origin trap pinned in SCALE.md.


@register(
    "events_cohort_retention_matrix",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS wk
      FROM events
    ),
    firstw AS (
      SELECT user_id, min(wk) OVER (PARTITION BY user_id) AS cohort_wk, wk
      FROM act
    ),
    m AS (
      SELECT cohort_wk, CAST(wk - cohort_wk AS BIGINT) AS week_offset,
             CAST(count(*) AS BIGINT) AS n_active
      FROM firstw GROUP BY cohort_wk, wk
    ),
    size_ AS (
      SELECT cohort_wk, n_active AS cohort_size FROM m WHERE week_offset = 0
    )
    SELECT m.cohort_wk, m.week_offset, m.n_active, s.cohort_size,
           round(m.n_active * 1.0 / s.cohort_size, 6) AS retention
    FROM m JOIN size_ s ON m.cohort_wk = s.cohort_wk
    """,
)
def events_cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort (first-seen week) × week-offset retention triangle with
    cohort sizes and retained share."""
    from pyspark.sql import Window

    act = (
        read_testdata(spark, sf_dir, "events")
        .select(
            "user_id",
            F.floor(F.unix_micros("ts") / 604_800_000_000).cast("bigint").alias("wk"),
        )
        .distinct()
    )
    firstw = act.withColumn(
        "cohort_wk", F.min("wk").over(Window.partitionBy("user_id"))
    )
    m = firstw.groupBy(
        "cohort_wk", (F.col("wk") - F.col("cohort_wk")).cast("bigint").alias("week_offset")
    ).agg(F.count("*").cast("bigint").alias("n_active"))
    size_ = m.where(F.col("week_offset") == 0).select(
        "cohort_wk", F.col("n_active").alias("cohort_size")
    )
    return m.join(size_, "cohort_wk").select(
        "cohort_wk",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") * F.lit(1.0) / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


# --- peak concurrency (sweep line) -----------------------------------------
# How many error-impact windows were open AT ONCE at the worst
# moment: the +1/−1 sweep — every interval contributes a start and an
# end delta, the running sum over the time-ordered deltas is the live
# concurrency, its max is the peak. Tie discipline is pinned: at an
# equal timestamp starts (+1) sort before ends (−1), i.e. touching
# intervals DO overlap, and both engines order by the same
# (t, delta DESC) keys. One global-window running sum over 2·n delta
# rows — at scale, partition the sweep by a coarse time range first
# (deltas are closed under concatenation) exactly like
# select_token_budget's two-pass cumsum.


@register(
    "events_peak_concurrency",
    oracle="""
    WITH iv AS (
      SELECT epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      FROM events WHERE event_type = 'error'
    ),
    deltas AS (
      SELECT s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT e AS t, -1 AS delta FROM iv
    ),
    run AS (
      SELECT t, delta,
             sum(delta) OVER (ORDER BY t, delta DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS live
      FROM deltas
    )
    SELECT CAST(max(live) AS BIGINT) AS peak,
           CAST(min(CASE WHEN live = (SELECT max(live) FROM run) THEN t END)
                AS BIGINT) AS at_us,
           CAST((SELECT count(*) FROM iv) AS BIGINT) AS n_intervals
    FROM run
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum number of simultaneously open 5-minute error windows,
    the first microsecond it was reached, and the interval count."""
    from pyspark.sql import Window

    iv = (
        read_testdata(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + F.lit(300_000_000)).alias("e"),
        )
    )
    deltas = iv.select(F.col("s").alias("t"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = deltas.withColumn("live", F.sum("delta").over(w))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    flagged = run.withColumn("gmax", F.max("live").over(w_all))
    return flagged.agg(
        F.max("live").cast("bigint").alias("peak"),
        F.min(F.when(F.col("live") == F.col("gmax"), F.col("t")))
        .cast("bigint")
        .alias("at_us"),
        (F.count("*") / 2).cast("bigint").alias("n_intervals"),
    )


# --- p-chart control limits (SPC) ------------------------------------------
# Shewhart attribute control chart over the daily error RATE: center
# line = pooled error fraction, limits = p̄ ± 3·√(p̄(1−p̄)/n_day)
# (per-day n, so limits breathe with volume — the property that
# distinguishes a p-chart from a fixed threshold). Everything derives
# from integer day counts; the only floats are one division and one
# sqrt per day, computed identically on both engines. Two
# aggregations total, second over ~30 day rows.


@register(
    "events_error_pchart",
    oracle="""
    WITH d AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
               AS x
      FROM events GROUP BY 1
    ),
    pooled AS (
      SELECT sum(x) * 1.0 / sum(n) AS pbar FROM d
    )
    SELECT d.day, d.n, d.x,
           round(d.x * 1.0 / d.n, 6) AS p_hat,
           round(p.pbar, 6) AS center,
           round(p.pbar + 3 * sqrt(p.pbar * (1 - p.pbar) / d.n), 6) AS ucl,
           round(greatest(p.pbar - 3 * sqrt(p.pbar * (1 - p.pbar) / d.n), 0.0), 6)
             AS lcl,
           d.x * 1.0 / d.n > p.pbar + 3 * sqrt(p.pbar * (1 - p.pbar) / d.n)
             OR d.x * 1.0 / d.n
                < greatest(p.pbar - 3 * sqrt(p.pbar * (1 - p.pbar) / d.n), 0.0)
             AS out_of_control
    FROM d CROSS JOIN pooled p
    """,
)
def events_error_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error-rate p-chart: per-day rate, pooled center line,
    volume-adjusted 3-sigma limits, out-of-control flag."""
    ev = read_testdata(spark, sf_dir, "events")
    d = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("bigint")
        .alias("x"),
    )
    pooled = d.agg((F.sum("x") * F.lit(1.0) / F.sum("n")).alias("pbar"))
    j = d.crossJoin(F.broadcast(pooled))
    sigma = F.sqrt(F.col("pbar") * (1 - F.col("pbar")) / F.col("n"))
    ucl = F.col("pbar") + 3 * sigma
    lcl = F.greatest(F.col("pbar") - 3 * sigma, F.lit(0.0))
    p_hat = F.col("x") * F.lit(1.0) / F.col("n")
    return j.select(
        "day",
        "n",
        "x",
        F.round(p_hat, 6).alias("p_hat"),
        F.round(F.col("pbar"), 6).alias("center"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((p_hat > ucl) | (p_hat < lcl)).alias("out_of_control"),
    )


# --- behavioral entropy per user -------------------------------------------
# The bot-detection complement to inter-arrival regularity
# (events_bot_detection): Shannon entropy of each user's event-TYPE
# mix. Scripted traffic collapses to few types (entropy → 0); organic
# users spread across the catalog. Per-user per-type counts from one
# aggregation; each −p·ln p term is rounded to 12 places and summed
# as DECIMAL per user (order-proof); the flag marks the low-entropy
# tail against a fixed nats threshold. Output is users × 1 rows,
# terms are ≤ |event types| per user — nothing data-sized moves
# twice.


@register(
    "events_user_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT user_id, CAST(sum(k) AS BIGINT) AS n FROM c GROUP BY 1),
    terms AS (
      SELECT c.user_id, tot.n,
             CAST(round(-(c.k * 1.0 / tot.n) * ln(c.k * 1.0 / tot.n), 12)
                  AS DECIMAL(28,12)) AS t,
             c.k
      FROM c JOIN tot ON c.user_id = tot.user_id
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(CAST(sum(t) AS DOUBLE), 6) AS entropy_nats,
           CAST(sum(t) AS DOUBLE) < 0.5 AS low_entropy
    FROM terms GROUP BY user_id
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each user's event-type mix with a
    low-entropy bot flag."""
    ev = read_testdata(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("k")
    )
    tot = c.groupBy("user_id").agg(F.sum("k").cast("bigint").alias("n"))
    p = F.col("k") * F.lit(1.0) / F.col("n")
    term = F.round(-p * F.log(p), 12).cast("decimal(28,12)")
    terms = c.join(tot, "user_id").select("user_id", "n", term.alias("t"))
    return terms.groupBy("user_id").agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_types"),
        F.round(F.sum("t").cast("double"), 6).alias("entropy_nats"),
        (F.sum("t").cast("double") < 0.5).alias("low_entropy"),
    )


# --- hysteresis alerting (flap suppression) --------------------------------
# The alert debounce every on-call rotation demands: the alarm ARMS
# only after 3 consecutive errors and DISARMS only after 2
# consecutive successes — single successes inside an incident do not
# flap it closed. The state machine consumes runs of consecutive
# equal symbols; Spark streams it over the sorted per-user rows with
# per_key_ordered_fold carrying [armed, episodes, events_in_alarm]
# plus the open run's (symbol, length) — O(1) state, no per-user
# list cell. The oracle replays the SAME run transitions as a
# depth-bounded RECURSIVE walk over window-RLE-indexed runs, because
# DuckDB 1.0's list_reduce mis-folds multi-row batches whose
# accumulator width differs from the element width (repro pinned in
# SCALE.md) — single-row folds were correct, which made it a silent
# wrong-answer bug, caught only by this value oracle.


@register(
    "events_alert_hysteresis",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events
    ),
    runs AS (
      SELECT user_id, ts, event_id, is_err,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - row_number() OVER (PARTITION BY user_id, is_err
                                    ORDER BY ts, event_id) AS grp
      FROM ev
    ),
    rle AS (
      SELECT user_id, CAST(is_err AS BIGINT) AS is_err,
             CAST(count(*) AS BIGINT) AS len,
             min(strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|'
                 || lpad(CAST(event_id AS VARCHAR), 20, '0')) AS ord
      FROM runs GROUP BY user_id, is_err, grp
    ),
    idx AS (
      SELECT user_id, is_err, len,
             row_number() OVER (PARTITION BY user_id ORDER BY ord) AS i
      FROM rle
    ),
    nruns AS (SELECT user_id, max(i) AS m FROM idx GROUP BY user_id),
    walk(user_id, i, armed, eps, ev) AS (
      SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM nruns
      UNION ALL
      SELECT w.user_id, w.i + 1,
             CASE WHEN r.is_err = 1 AND w.armed = 0 AND r.len >= 3 THEN 1
                  WHEN r.is_err = 0 AND w.armed = 1 AND r.len >= 2 THEN 0
                  ELSE w.armed END,
             CASE WHEN r.is_err = 1 AND w.armed = 0 AND r.len >= 3
                  THEN w.eps + 1 ELSE w.eps END,
             CASE WHEN r.is_err = 1 AND w.armed = 0 AND r.len >= 3
                    THEN w.ev + r.len - 2
                  WHEN r.is_err = 1 AND w.armed = 1 THEN w.ev + r.len
                  WHEN r.is_err = 0 AND w.armed = 1 THEN w.ev + 1
                  ELSE w.ev END
      FROM walk w JOIN idx r ON r.user_id = w.user_id AND r.i = w.i + 1
    )
    SELECT w.user_id,
           w.eps AS n_episodes,
           w.ev AS events_in_alarm,
           w.armed = 1 AS still_armed
    FROM walk w JOIN nruns n ON w.user_id = n.user_id AND w.i = n.m
    """,
)
def events_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flap-suppressed alerting per user: arm after 3 consecutive
    errors, disarm after 2 consecutive successes.

    The state machine consumes RUNS of consecutive equal symbols, so
    the fold tracks (armed, episodes, events_in_alarm) plus the
    current run's (symbol, length) — still O(1) — and applies the run
    transition at each symbol change, folding directly over the
    (ts, event_id)-sorted event stream via ``per_key_ordered_fold``.
    The previous shape (window RLE → collect_list per user →
    F.aggregate) buffered O(runs-per-user) in one aggregate cell —
    unbounded on a hot flapping key at 100 TB. Integer arithmetic;
    values bit-identical. The DuckDB recursive-walk oracle is
    unchanged (list_reduce itself mis-folds there — SCALE.md)."""
    from mapreduce_word2vec_spark.operators.ordered_fold import (
        per_key_ordered_fold,
    )

    ev = read_testdata(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    return per_key_ordered_fold(
        ev,
        key_col="user_id",
        order_cols=("ts", "event_id"),
        val_cols=("is_err",),
        out_schema=(
            "user_id bigint, n_episodes bigint, events_in_alarm bigint, "
            "still_armed boolean"
        ),
        out_cols=("user_id", "n_episodes", "events_in_alarm", "still_armed"),
        init=_hyst_init,
        step=_hyst_step,
        emit=_hyst_emit,
    )


def _hyst_init() -> tuple:
    # (armed, episodes, events_in_alarm, current_run_symbol, run_len);
    # symbol -1 = no run open yet.
    return (0, 0, 0, -1, 0)


def _hyst_run_end(armed: int, eps: int, ev: int, ie: int, ln: int) -> tuple:
    if ie == 1 and armed == 0 and ln >= 3:
        return (1, eps + 1, ev + ln - 2)
    if ie == 1 and armed == 1:
        return (1, eps, ev + ln)
    if ie == 0 and armed == 1 and ln >= 2:
        return (0, eps, ev + 1)
    if ie == 0 and armed == 1:
        return (1, eps, ev + 1)
    return (armed, eps, ev)


def _hyst_step(st: tuple, is_err) -> tuple:
    armed, eps, ev, cie, cln = st
    ie = int(is_err)
    if ie == cie:
        return (armed, eps, ev, cie, cln + 1)
    if cln:
        armed, eps, ev = _hyst_run_end(armed, eps, ev, cie, cln)
    return (armed, eps, ev, ie, 1)


def _hyst_emit(key, st: tuple) -> tuple:
    armed, eps, ev, cie, cln = st
    if cln:
        armed, eps, ev = _hyst_run_end(armed, eps, ev, cie, cln)
    return (int(key), eps, ev, armed == 1)
