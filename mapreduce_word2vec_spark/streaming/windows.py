"""Event-time windowing over the ``events`` stream (SURVEY §2.B
"Streaming").

Each aggregation is defined ONCE as a DataFrame transformation and
applied to either a batch frame (oracle-comparable against DuckDB)
or a ``readStream`` frame (Structured Streaming with watermarks) —
the Spark-first answer to "same query, batch and stream".

Reference lineage: the reference has no streaming at all (SURVEY
§2.A); these are target-engine capabilities mandated by the north
star. Scale notes: windowed aggregations shuffle on (window, key);
watermarks bound state; session windows use Spark's native
``session_window`` in stream mode and an equivalent lag/gap-cumsum
formulation in batch mode (both shapes shown below).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame, width: str = "5 minutes") -> DataFrame:
    """Tumbling event-time windows: count + sum(value) per
    (window, event_type). Works unchanged on batch and stream input."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.round("sum_value", 6).alias("sum_value"),
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding windows (width 10m, slide 5m ⇒ each event in 2 windows)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def assign_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based session assignment (lag + cumulative sum of
    boundaries): every event row gains a ``session_idx`` keyed per
    user. Shared by the session aggregate and any session-scoped
    analysis (e.g. in-session funnels) — two windows over ONE user_id
    exchange."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Integer MICROSECONDS on both engines (Spark unix_micros ≡ DuckDB
    # epoch_us): cast('long') truncates to seconds and a gap within 1s
    # of the boundary could split sessions differently from the
    # fractional-second oracle. Same convention as
    # events_gap_distribution.
    gap_us = gap_minutes * 60 * 1_000_000
    with_gap = events.withColumn(
        "new_session",
        (
            F.coalesce(
                F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w),
                F.lit(gap_us + 1),
            )
            > gap_us
        ).cast("int"),
    )
    return with_gap.withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_counts_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: gap > ``gap_minutes`` starts a new
    session (lag + cumulative-sum-of-boundaries — the classic batch
    formulation; stream mode uses ``session_window`` instead).

    Output keys sessions by (user, session index) with
    second-truncated bounds so results are comparable across engines
    regardless of sub-second timestamp precision."""
    return (
        assign_sessions(events, gap_minutes).groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.date_trunc("second", F.min("ts")).alias("session_start"),
            F.date_trunc("second", F.max("ts")).alias("session_end"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def session_counts_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Stream sessionization with Spark's native session_window
    (merging windows + watermark state eviction).

    ``session_window.end`` is GAP-EXTENDED (last event ts + gap); the
    gap is subtracted back so ``session_end`` means "last event time"
    exactly like :func:`session_counts_batch` — the two forms share a
    schema and must agree value-for-value."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            "user_id",
            F.date_trunc("second", F.col("w.start")).alias("session_start"),
            F.date_trunc(
                "second", F.col("w.end") - F.expr(f"INTERVAL {gap}")
            ).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def first_event_per_key(events: DataFrame) -> DataFrame:
    """Batch dedup: earliest event per (user, type) — deterministic
    row_number formulation (stream mode uses
    dropDuplicatesWithinWatermark instead)."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


def stream_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming dedup by event_id with bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def watermarked_tumbling(events: DataFrame, width: str = "5 minutes", delay: str = "10 minutes") -> DataFrame:
    """Tumbling counts with a watermark: append-mode emission, late
    rows beyond ``delay`` dropped — the canonical late-data query."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def click_purchase_interval_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: purchases within ``within`` AFTER a
    click by the same user. Works unchanged on batch frames (oracle-
    comparable) and on two watermarked streams, where the time bound
    lets Spark evict join state (unbounded-state joins are rejected in
    append mode). Shuffles both sides on user_id once."""
    c = clicks.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        "user_id",
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        F.round("purchase_value", 6).alias("purchase_value"),
    )


RUNNING_COUNT_SCHEMA = "event_type string, total long"
_STATE_SCHEMA = "total long"


def stateful_running_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-event_type totals across micro-batches (the engine's archetype
    for arbitrary streaming state)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, batches: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        for pdf in batches:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"event_type": [key[0]], "total": [total]})

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        RUNNING_COUNT_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


KEEP_LAST_SCHEMA = (
    "user_id long, event_type string, last_event_id long, "
    "last_ts_micros long, last_value double"
)
_KEEP_LAST_STATE_SCHEMA = "ts_micros long, event_id long, value double"


def stateful_keep_last(events: DataFrame) -> DataFrame:
    """Streaming CDC compaction via applyInPandasWithState: per
    (user, type) keep only the LATEST event (ts, then event_id as the
    tiebreak) across micro-batches — the stream-mode form of the
    batch ``events_compact_last`` query. State per key is one fixed
    (ts, id, value) triple, so the store size is bounded by key
    cardinality regardless of stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, batches: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        # best=None, NOT a (-1, -1) sentinel: a pre-epoch timestamp
        # (negative micros — zeroed/corrupt CDC artifacts) would never
        # beat the sentinel and the operator would emit a fabricated
        # (-1, -1, 0.0) row while dropping the real event.
        best = tuple(state.get) if state.exists else None
        for pdf in batches:
            for ts, eid, val in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                tsm = int(ts.value // 1_000)  # pandas ns -> micros
                if best is None or (tsm, int(eid)) > (best[0], best[1]):
                    best = (tsm, int(eid), float(val))
        if best is None:  # unreachable under NoTimeout; defensive
            return
        best_ts, best_id, best_val = best
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "last_event_id": [best_id],
                "last_ts_micros": [best_ts],
                "last_value": [best_val],
            }
        )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        update,
        KEEP_LAST_SCHEMA,
        _KEEP_LAST_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def stateful_running_counts_tws(events: DataFrame) -> DataFrame:
    """Running per-type totals via ``transformWithStateInPandas`` —
    the Spark 4 StatefulProcessor API (successor surface to
    :func:`stateful_running_counts`'s applyInPandasWithState: typed
    per-key state handles, timers, TTL, multiple state variables).

    ENVIRONMENT-GATED: the TransformWithState Python driver worker
    requires the ``protobuf`` package (its state-server protocol);
    this container does not ship it, so the operator raises
    ImportError where unavailable and the paired test skips. The
    applyInPandasWithState twin above covers the same semantics and
    IS exercised everywhere."""
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas needs the python protobuf package"
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.count = handle.getValueState("count", "total long")

        def handleInputRows(self, key, rows, timer_values):
            total = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                total += len(pdf)
            self.count.update((total,))
            yield pd.DataFrame({"event_type": [key[0]], "total": [total]})

        def close(self) -> None:
            pass

    return events.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType=RUNNING_COUNT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


CEP_SCHEMA = "user_id long, n_seen long, n_conversions long"
_CEP_STATE_SCHEMA = "us array<long>, eid array<long>, ch array<string>"
# Single source of truth for the CEP symbol alphabet + pattern:
# plans.streaming_queries derives its Spark when-chain AND both DuckDB
# oracle CASE expressions from these, so stream and batch can never
# silently disagree on the pattern semantics.
CEP_PATTERN = "v[^e]*?c[^e]*?p"  # view → click → purchase, no error between
CEP_OTHER = "e"  # the "anything else" symbol the pattern excludes
CEP_CHAR = {"view": "v", "click": "c", "signup": "s", "purchase": "p"}


def stateful_cep_counts(events: DataFrame) -> DataFrame:
    """Streaming CEP (pattern = view→click→purchase, no error between)
    via applyInPandasWithState: per-user state BUFFERS the out-of-order
    symbols seen so far (micro-batch file order is not event-time
    order, and the pattern count is order-sensitive, so a CEP engine
    must buffer until order is safe — here, until replay end; a
    watermark-evicting variant would trim the buffer below the
    horizon). Each batch re-emits the (ts, event_id)-ordered match
    count; the final emission per user equals the batch
    ``events_cep_pattern`` answer."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, batches: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        us, eid, ch = (list(state.get[0]), list(state.get[1]), list(state.get[2])) \
            if state.exists else ([], [], [])
        for pdf in batches:
            for ts, e, t in zip(pdf["ts"], pdf["event_id"], pdf["event_type"]):
                us.append(int(ts.value // 1_000))
                eid.append(int(e))
                ch.append(CEP_CHAR.get(t, CEP_OTHER))
        state.update((us, eid, ch))
        order = sorted(range(len(us)), key=lambda i: (us[i], eid[i]))
        seq = "".join(ch[i] for i in order)
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_seen": [len(seq)],
                "n_conversions": [cep_dfa_fold(0, 0, seq)[0]],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        CEP_SCHEMA,
        _CEP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# CEP_PATTERN compiled to its linear step form ("vcp"): the pattern is
# step1 [^other]*? step2 [^other]*? step3, so stripping the lazy
# separator yields the step sequence. Derived, not re-typed, from the
# single pattern definition above.
CEP_STEPS = CEP_PATTERN.replace(f"[^{CEP_OTHER}]*?", "")
_CEP_BOUNDED_STATE_SCHEMA = (
    "n_folded long, dfa long, cnt long, "
    "us array<long>, eid array<long>, ch array<string>"
)


def cep_dfa_fold(
    count: int, st: int, symbols: "Iterator[str] | list[str]"
) -> tuple[int, int]:
    """Fold a symbol sequence through the DFA equivalent of
    ``CEP_PATTERN``'s non-overlapping leftmost match count: advance on
    the next expected step, reset mid-pattern on the excluded symbol,
    count + reset on the final step. Equivalence with
    ``len(re.findall(CEP_PATTERN, s))`` is property-tested
    (tests/test_streaming.py). This fold is what makes watermark
    eviction possible: an evicted prefix collapses to two integers
    (count so far, DFA state) instead of a growing buffer."""
    for c in symbols:
        if st > 0 and c == CEP_OTHER:
            st = 0
        elif c == CEP_STEPS[st]:
            st += 1
            if st == len(CEP_STEPS):
                count += 1
                st = 0
    return count, st


def stateful_cep_counts_bounded(events: DataFrame) -> DataFrame:
    """Watermark-evicting twin of :func:`stateful_cep_counts` — the
    bounded-state form a real stream needs. Per-user state holds (a)
    the DFA fold of every symbol already below the event-time
    watermark (two integers + a count, CONSTANT size) and (b) only the
    symbols still above the horizon, which a late event could still
    reorder against. Each batch: append new symbols, evict everything
    below ``state.getCurrentWatermarkMs()`` into the fold in (ts,
    event_id) order, then emit the fold continued through the
    still-buffered suffix. The input stream must carry
    ``withWatermark`` on ``ts``; with in-horizon arrival the final
    emission per user equals the batch ``events_cep_pattern`` answer,
    while state stays bounded by the watermark delay instead of the
    stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, batches: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        # Bind state.get ONCE: the property re-materializes the full
        # state tuple (including the three symbol arrays) on every
        # access — six reads per key per batch is wasted hot-path work.
        if state.exists:
            g = state.get
            n_folded, dfa, cnt = g[0], g[1], g[2]
            us, eid, ch = list(g[3]), list(g[4]), list(g[5])
        else:
            n_folded, dfa, cnt, us, eid, ch = 0, 0, 0, [], [], []
        for pdf in batches:
            for ts, e, t in zip(pdf["ts"], pdf["event_id"], pdf["event_type"]):
                us.append(int(ts.value // 1_000))
                eid.append(int(e))
                ch.append(CEP_CHAR.get(t, CEP_OTHER))
        order = sorted(range(len(us)), key=lambda i: (us[i], eid[i]))
        wm_us = state.getCurrentWatermarkMs() * 1_000
        evict = [i for i in order if us[i] < wm_us]
        keep = [i for i in order if us[i] >= wm_us]
        cnt, dfa = cep_dfa_fold(cnt, dfa, (ch[i] for i in evict))
        n_folded += len(evict)
        us, eid, ch = ([xs[i] for i in keep] for xs in (us, eid, ch))
        state.update((n_folded, dfa, cnt, us, eid, ch))
        live_cnt, _ = cep_dfa_fold(cnt, dfa, ch)
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_seen": [n_folded + len(ch)],
                "n_conversions": [live_cnt],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        CEP_SCHEMA,
        _CEP_BOUNDED_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
