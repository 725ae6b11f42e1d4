"""Structured Streaming variant of the incremental fact rollup
(SURVEY §2.10): the reference's scheduler-driven micro-batching
(Cloud Scheduler → hourly job, hand-rolled HWM) becomes a real stream
with watermarks and exactly-once state.

Mapping:
- hand-rolled HWM + ``since`` refetch  → ``withWatermark`` (late-data
  bound) + checkpointed offsets (no re-read at all)
- re-run duplicate risk (+1 s overlap) → ``dropDuplicatesWithinWatermark``
  on the unique event key
- daily grain of the fact             → tumbling ``F.window(ts, '1 day')``
- per-group sequential watch-time     → ``applyInPandasWithState``
  (``streaming_watch_time``): the batch fold's own state machine
  (``fact.watch_step``) carried per key across micro-batches,
  event-time timeout at the key's day + 2.

The order-sensitive twins share one commit discipline
(``_commit_split``): a row folds into committed state only once it is
strictly below the watermark; later rows buffer in state and fold
provisionally on a copy. The day-grain twins (EWMA, Holt) share one
step (``_closed_day_step``).

Scale: the streaming agg state is keyed by (media, visitor, day);
the watermark bounds state size (day windows close 1 day after the
watermark passes). Source-side, a file stream lists incrementally;
production would swap in Kafka with identical plan shape.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
from collections.abc import Iterator
from operator import itemgetter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.fact import watch_finish, watch_step


def _commit_split(
    pending: list, wm_us, order=itemgetter(0, 1), event_us=itemgetter(0)
):
    """The strict-watermark commit discipline of the sequential twins:
    sort ``pending`` by ``order`` (event time first, then the twin's
    tiebreak) and split it into the rows STRICTLY below the watermark
    — no earlier row can still arrive, so their fold order is final —
    and the rest, which stay buffered and fold only provisionally.
    Strict because Spark still DELIVERS rows whose event time equals
    the watermark (only < wm is dropped as late): a ts == wm row with
    an earlier tiebreak can arrive in a later micro-batch, and
    committing at == wm would fold it after its successors
    (reproduced live). Returns ``(committed, pending)``."""
    pending = sorted(pending, key=order)
    n = bisect.bisect_left(pending, wm_us, key=event_us)
    return pending[:n], pending[n:]


def streaming_daily_engagement(
    events_stream: DataFrame,
    watermark: str = "1 day",
) -> DataFrame:
    """events stream → per (media, visitor, day) engagement aggregates.

    Append-mode compatible: results emit once the day window closes
    under the watermark — the streaming twin of the batch fact rollup's
    non-stateful aggregates.
    """
    e = events_stream.filter(
        F.col("media_id").isNotNull()
        & F.col("visitor_key").isNotNull()
        & F.col("received_at").isNotNull()
    )
    e = e.withWatermark("received_at", watermark)
    e = e.dropDuplicatesWithinWatermark(["event_key"])
    return (
        e.groupBy(
            F.window("received_at", "1 day").alias("day_window"),
            "media_id",
            F.col("visitor_key").alias("visitor_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("percent_viewed").alias("max_percent_viewed"),
            F.min("received_at").alias("event_timestamp"),
            F.max("received_at").alias("last_event_timestamp"),
        )
        .select(
            F.col("day_window.start").cast("date").alias("date"),
            "media_id",
            "visitor_id",
            "n_events",
            "max_percent_viewed",
            "event_timestamp",
            "last_event_timestamp",
        )
    )


def streaming_session_windows(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window rollup per visitor (the streaming-native
    equivalent of the batch lag+cumsum sessionization)."""
    e = events_stream.filter(
        F.col("visitor_key").isNotNull() & F.col("received_at").isNotNull()
    ).withWatermark("received_at", watermark)
    return (
        e.groupBy(
            F.session_window("received_at", gap).alias("session"),
            F.col("visitor_key").alias("visitor_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "visitor_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_enriched_rolling_volume(
    events_stream: DataFrame,
    dim_media: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Stream-static broadcast enrichment + hopping-window volume: the
    streaming twin of the batch 7-day rolling rollup (J1's dim lookup
    joined INSIDE the stream, SURVEY §2.10 windows row).

    Each event lands in window/slide overlapping windows; the static
    media dim joins broadcast per micro-batch (no stream-stream state).
    Append-compatible: a (window, media) row emits once the watermark
    passes the window end.

    Scale: state is |open windows| × |media| aggregates — bounded by
    the watermark horizon, independent of event volume; the dim
    broadcast re-reads per batch, so a slowly-changing dim picks up
    updates without restart.
    """
    e = events_stream.filter(
        F.col("media_id").isNotNull() & F.col("received_at").isNotNull()
    ).withWatermark("received_at", watermark)
    enriched = e.join(
        F.broadcast(dim_media.select("media_id", "duration")), "media_id", "left"
    )
    return (
        enriched.groupBy(
            F.window("received_at", window, slide).alias("w"), "media_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("percent_viewed").alias("max_percent_viewed"),
            F.max("duration").alias("duration"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "media_id",
            "n_events",
            "max_percent_viewed",
            "duration",
        )
    )


def streaming_play_conversion_join(
    plays: DataFrame,
    conversions: DataFrame,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream event-time join: attribute each conversion event
    to a play event by the same visitor on the same media within the
    preceding ``within`` interval (the attribution-join shape — view ⋈
    later purchase).

    Both sides carry watermarks and the join condition bounds the
    event-time gap, so Spark can evict buffered state once the
    watermark passes conv_ts − within: state is O(events inside the
    watermark horizon), not unbounded. Inner join → a row emits only
    when both sides arrive; per the Structured Streaming contract the
    play side buffers at least ``within`` past its watermark.

    Scale: one shuffle per side on (visitor, media); the range
    predicate evaluates within the co-partitioned state store join.
    """
    p = (
        plays.filter(
            F.col("visitor_key").isNotNull()
            & F.col("media_id").isNotNull()
            & F.col("received_at").isNotNull()
        )
        .select(
            F.col("visitor_key").alias("p_visitor"),
            F.col("media_id").alias("p_media"),
            F.col("event_key").alias("play_key"),
            F.col("received_at").alias("play_ts"),
        )
        .withWatermark("play_ts", watermark)
    )
    c = (
        conversions.filter(
            F.col("visitor_key").isNotNull()
            & F.col("media_id").isNotNull()
            & F.col("received_at").isNotNull()
        )
        .select(
            F.col("visitor_key").alias("c_visitor"),
            F.col("media_id").alias("c_media"),
            F.col("event_key").alias("conv_key"),
            F.col("received_at").alias("conv_ts"),
        )
        .withWatermark("conv_ts", watermark)
    )
    return p.join(
        c,
        (F.col("p_visitor") == F.col("c_visitor"))
        & (F.col("p_media") == F.col("c_media"))
        & (F.col("conv_ts") >= F.col("play_ts"))
        & (F.col("conv_ts") <= F.col("play_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        "p_visitor", "p_media", "play_key", "conv_key", "play_ts", "conv_ts"
    )


# ---------------------------------------------------------------------------
# Stateful watch-time (SURVEY §2.6 streaming variant)
# ---------------------------------------------------------------------------

WATCH_STATE_SCHEMA = (
    "last_time_us long, last_pct double, total double, n_play bigint, "
    "any_progress boolean, max_pct double, first_ts_us long, "
    "last_ts_us long, duration double, "
    "buf_ts_us array<long>, buf_key array<string>, buf_pct array<double>, "
    "buf_name array<string>"
)

WATCH_OUTPUT_SCHEMA = (
    "media_id string, visitor_id string, date date, play_count bigint, "
    "total_watch_time double, max_percent_viewed double, "
    "event_timestamp timestamp, last_event_timestamp timestamp"
)


def streaming_watch_time(
    events_stream: DataFrame,
    dim_media: DataFrame,
    watermark: str = "1 day",
    legacy_percent_semantics: bool = False,
) -> DataFrame:
    """Per-(media, visitor, day) watch-time over an event stream:
    ``applyInPandasWithState`` carrying the batch fold's lag-1 state
    (anchor timestamp + last percent + running credit) across
    micro-batches, advanced by the batch fold's own ``fact.watch_step``
    and closed by its ``fact.watch_finish``.

    Semantics match ``fact.fact_media_engagement_fold`` for ANY
    arrival order within the watermark: the order-sensitive lag-1
    fold only COMMITS events once the watermark has passed them
    (``_commit_split``), so cross-batch disorder cannot corrupt the
    anchor state. Still-pending rows are buffered in state and folded
    PROVISIONALLY on a copy — each update-mode
    emission reflects all data seen so far in event-time order, and
    the final emission (at the eviction timeout) equals the batch
    fold. Order-insensitive stats (play counts, max percent,
    first/last ts) update on arrival.

    Scale: state per (media, visitor, day) is one fixed-width row
    plus the pending buffer, which the watermark bounds to ≤ the
    allowed lateness window of that key's events (a day-grain key
    stops receiving on-time events after ~1 day + lateness, and the
    eviction timeout reclaims it at day + 2). The stream-static
    duration join is broadcast per micro-batch.
    """
    e = (
        events_stream.filter(
            F.col("media_id").isNotNull()
            & F.col("visitor_key").isNotNull()
            & F.col("received_at").isNotNull()
        )
        .withWatermark("received_at", watermark)
        # at-least-once sources redeliver; the batch twin dedups by
        # event_key before the fold (run_incremental_pipeline), so the
        # stream must too or play_count inflates on redelivery
        .dropDuplicatesWithinWatermark(["event_key"])
        .join(
            F.broadcast(dim_media.select("media_id", "duration")),
            "media_id",
            "left",
        )
        .select(
            "media_id",
            F.col("visitor_key").alias("visitor_id"),
            F.to_date("received_at").alias("date"),
            "received_at",
            "event_key",
            F.col("percent_viewed").cast("double").alias("pct"),
            F.col("name").alias("event_name"),
            F.col("duration").cast("double").alias("duration"),
        )
    )
    legacy = legacy_percent_semantics

    def chain(pending):
        return ((ts_us, pct, name) for ts_us, _k, pct, name in pending)

    def step(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (anchor, last_pct, total, n_play, any_progress, max_pct,
             first_ts_us, last_ts_us, duration,
             buf_ts, buf_key, buf_pct, buf_name) = state.get
            pending = list(zip(buf_ts, buf_key, buf_pct, buf_name))
        else:
            anchor, last_pct, total = None, 0.0, 0.0
            # max_pct None until a non-null pct arrives (batch-fold
            # parity: all-null groups emit NULL, not 0.0)
            n_play, any_progress, max_pct = 0, False, None
            first_ts_us, last_ts_us, duration = None, None, None
            pending = []

        for rows in pdfs:
            for ts, ekey, pct, name, dur in zip(
                rows["received_at"], rows["event_key"], rows["pct"],
                rows["event_name"], rows["duration"],
            ):
                if pd.isna(ts):
                    continue
                ts_us = int(ts.value // 1000)
                if duration is None and pd.notna(dur):
                    duration = float(dur)
                # arrival stats mirror the batch fold: computed over
                # ALL valid-ts rows, null pct included (a name-only
                # 'play' still counts)
                if name == "play":
                    n_play += 1
                if pd.notna(pct):
                    pct = float(pct)
                    if pct > 0:
                        any_progress = True
                    max_pct = pct if max_pct is None else max(max_pct, pct)
                first_ts_us = ts_us if first_ts_us is None else min(first_ts_us, ts_us)
                last_ts_us = ts_us if last_ts_us is None else max(last_ts_us, ts_us)
                if pd.isna(pct):
                    continue  # invisible to the credit chain (fold parity)
                pending.append(
                    (ts_us, ekey, float(pct), None if pd.isna(name) else name)
                )

        # a timed-out key: the watermark passed the whole day +
        # lateness, so everything pending is final — commit it all and
        # emit the closing row
        timed_out = state.hasTimedOut
        wm_us = math.inf if timed_out else state.getCurrentWatermarkMs() * 1000
        # event_key may be NULL
        done, pending = _commit_split(pending, wm_us, order=lambda r: (r[0], r[1] or ""))
        committed = watch_step((anchor, last_pct, total), chain(done), duration, legacy)
        if timed_out:
            state.remove()
        else:
            state.update(
                (*committed, n_play, any_progress, max_pct,
                 first_ts_us, last_ts_us, duration,
                 [p[0] for p in pending], [p[1] for p in pending],
                 [p[2] for p in pending], [p[3] for p in pending])
            )
            # evict when the watermark passes the key's day + 2 (built
            # in UTC explicitly: naive datetime.timestamp() would shift
            # by the host TZ); the timeout must sit strictly past the
            # watermark
            evict_at = dt.datetime.combine(
                key[2], dt.time(), tzinfo=dt.timezone.utc
            ) + dt.timedelta(days=2)
            state.setTimeoutTimestamp(
                max(int(evict_at.timestamp() * 1000), state.getCurrentWatermarkMs() + 1)
            )

        # provisional view: committed state + pending folded on a copy
        # (event-time order), so every emission reflects all data
        _, _, prov_total = watch_step(committed, chain(pending), duration, legacy)
        play_count, watch, _ = watch_finish(n_play, any_progress, duration, prov_total)
        to_ts = lambda us: None if us is None else pd.to_datetime(us, unit="us")  # noqa: E731
        yield pd.DataFrame(
            [
                {
                    "media_id": key[0],
                    "visitor_id": key[1],
                    "date": key[2],
                    "play_count": play_count,
                    "total_watch_time": watch,
                    "max_percent_viewed": max_pct,
                    "event_timestamp": to_ts(first_ts_us),
                    "last_event_timestamp": to_ts(last_ts_us),
                }
            ]
        )

    return e.groupBy("media_id", "visitor_id", "date").applyInPandasWithState(
        step,
        WATCH_OUTPUT_SCHEMA,
        WATCH_STATE_SCHEMA,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
):
    """Drive a streaming DataFrame to completion against the memory
    sink (local smoke path: processAllAvailable is synchronous)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    return q


def volume_baseline(events: DataFrame) -> DataFrame:
    """Per-event-type daily-volume baseline (mean/std of daily counts)
    from a batch history scan — the static side of
    ``streaming_volume_anomaly``, and the same closed-form
    integer-Σx/Σx² arithmetic as the batch ``events_anomaly_zscore``
    catalog entry (no float accumulation order to drift).

    Scale: the daily pre-aggregation is the only fact-sized shuffle;
    the baseline itself is |event_types| rows — always broadcastable.
    """
    d = (
        events.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    x = F.col("n")
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("ss"),
    )
    nd = F.col("n_days").cast("double")
    # the exact-positivity guard stays in DECIMAL: n·Σx² − (Σx)²
    # overflows int64 at ~1e9/day counts, and the double form can
    # round a tiny-positive variance negative (sqrt → NaN, and Spark
    # treats NaN > 0 as TRUE — a NaN std would page on every window)
    sd = F.col("s").cast("decimal(19,0)")
    ssd = F.col("ss").cast("decimal(19,0)")
    posvar = (F.col("n_days") * ssd - sd * sd) > 0
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    var = (ss - s * s / nd) / (F.col("n_days") - 1)
    return agg.filter(F.col("n_days") >= 2).select(
        "event_type",
        "n_days",
        (s / nd).alias("mean_daily"),
        F.when(posvar & (var > 0), F.sqrt(var)).alias("std_daily"),
    )


def streaming_volume_anomaly(
    events_stream: DataFrame,
    baseline: DataFrame,
    window: str = "1 day",
    watermark: str = "2 hours",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Streaming twin of ``events_anomaly_zscore``: tumbling-window
    event counts per type, z-scored against a batch-built static
    baseline (``volume_baseline``) via a stream-static broadcast join
    — the live ingest monitor that pages before a bad feed poisons a
    100 TB corpus, instead of the post-load batch audit finding it a
    day later.

    Append mode: a (window, type) row emits ONCE, when the watermark
    passes the window end — so each closed window carries its final
    count and verdict. State is |open windows| × |types| counters,
    bounded by the watermark horizon, independent of event volume.
    The baseline re-reads per micro-batch (slowly-changing baseline
    picked up without restart, same property as the dim enrichment
    stream).
    """
    # the baseline is PER-DAY (volume_baseline): z-scoring an hourly
    # count against a daily mean/std would silently flag everything
    # (or nothing), so scale the baseline to the window length —
    # mean linearly, std by sqrt (independent-increments model) — and
    # refuse windows the string parser can't size.
    f = _window_seconds(window) / 86400.0
    e = events_stream.filter(F.col("ts").isNotNull()).withWatermark(
        "ts", watermark
    )
    counts = e.groupBy(
        F.window("ts", window).alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    j = counts.join(F.broadcast(baseline), "event_type", "left")
    return _score_against_baseline(j, f, z_threshold)


def _score_against_baseline(
    j: DataFrame, f: float, z_threshold: float
) -> DataFrame:
    """The one scoring expression BOTH the streaming monitor and its
    batch twin (``volume_anomaly_batch``) select — shared so their
    equivalence is structural, not test-enforced."""
    mean_w = F.col("mean_daily") * F.lit(f)
    std_w = F.col("std_daily") * F.lit(f**0.5)
    z = (F.col("n_events") - mean_w) / std_w
    z = F.when(std_w > 0, z)
    # an event type the baseline has never seen IS the bad-feed case
    # this monitor exists for — flag it, don't coalesce it to quiet
    unknown = F.col("mean_daily").isNull()
    # known type whose baseline carries no usable spread (std NULL —
    # zero day-to-day variance — or non-positive): z is undefined, so
    # surface it as its own flag instead of quietly not-anomalous
    degenerate = ~unknown & ~F.coalesce(F.col("std_daily") > 0, F.lit(False))
    return j.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n_events",
        "mean_daily",
        z.alias("zscore"),
        unknown.alias("baseline_missing"),
        degenerate.alias("baseline_degenerate"),
        F.coalesce(F.abs(z) > z_threshold, unknown).alias("is_anomaly"),
    )


def volume_anomaly_batch(
    events: DataFrame,
    baseline: DataFrame,
    window: str = "1 day",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Batch twin of ``streaming_volume_anomaly`` with the monitor's
    EXACT parameterization and scoring expression (shared
    ``_score_against_baseline``): tumbling-window counts per type,
    z-scored against the static per-day baseline — what the monitor
    emits once every window has closed, computable over history for
    backtesting thresholds (and for the hash-gated catalog oracle the
    append-mode stream can't expose directly).

    Scale: one fact-sized shuffle for the window counts; the baseline
    join broadcasts |event_types| rows.
    """
    f = _window_seconds(window) / 86400.0
    counts = (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    j = counts.join(F.broadcast(baseline), "event_type", "left")
    return _score_against_baseline(j, f, z_threshold)


def _window_seconds(window: str) -> float:
    """Parse a tumbling-window duration string ('1 day', '6 hours',
    '30 minutes', '90 seconds') into seconds; raises ValueError on
    anything it can't size exactly (so a baseline can't be silently
    mis-scaled)."""
    units = {
        "second": 1.0,
        "seconds": 1.0,
        "minute": 60.0,
        "minutes": 60.0,
        "hour": 3600.0,
        "hours": 3600.0,
        "day": 86400.0,
        "days": 86400.0,
        "week": 604800.0,
        "weeks": 604800.0,
    }
    parts = window.strip().lower().split()
    if len(parts) != 2 or parts[1] not in units:
        raise ValueError(
            f"cannot size window {window!r} to scale the per-day baseline; "
            "use '<n> seconds|minutes|hours|days|weeks'"
        )
    try:
        n = float(parts[0])
    except ValueError:
        raise ValueError(f"cannot size window {window!r}") from None
    if n <= 0:
        raise ValueError(f"window {window!r} must be positive")
    return n * units[parts[1]]


COUNTER_STATE_SCHEMA = (
    "prev_cents long, delta_cents long, n_resets long, n_samples long, "
    "first_cents long, pend_ts array<long>, pend_eid array<long>, "
    "pend_cents array<long>"
)
COUNTER_OUTPUT_SCHEMA = (
    "user_id long, n_samples long, n_resets long, delta double, "
    "first_reading double, last_reading double"
)


def streaming_counter_delta(
    events_stream: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Streaming twin of ``timeseries.counter_delta`` (reset-aware
    counter aggregation per user): ``applyInPandasWithState``
    carrying the lag-1 fold state (previous committed reading +
    running delta/resets) across micro-batches under the
    ``_commit_split`` discipline, so every update-mode emission
    reflects all data seen so far in event-time order and the final
    emission equals the batch operator.

    State lifecycle: counter series are LONG-LIVED by semantics (a
    Prometheus-style per-series register), so no event-time eviction
    is set — state is one fixed-width row plus the watermark-bounded
    pending buffer per ACTIVE user; a deployment that needs to
    retire dead series adds an idle-timeout policy, which changes
    resource usage, never values.

    Determinism: readings quantize to integer cents exactly like the
    batch operator; the fold order is the total order
    ``(ts, event_id)``.
    """
    e = (
        _valid_readings(events_stream, watermark)
        .select(
            "user_id",
            # ts itself must SURVIVE the projection: the watermark is
            # attached to this attribute, and applyInPandasWithState
            # refuses to expose getCurrentWatermarkMs without it
            "ts",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            # NULL event_id maps to LONG_MIN: the batch fold's window
            # orders (ts, event_id) with nulls FIRST, and a NULL here
            # would reach the Arrow batch as NaN and crash int(eid)
            # (review r07 pass 2)
            F.coalesce(
                F.col("event_id").cast("long"), F.lit(-(2**63))
            ).alias("event_id"),
            _cents(),
        )
    )

    def fold(rows, acc):
        prev, delta, resets, n, first = acc
        for _, _, c in rows:
            n += 1
            if prev is None:
                first = c
            elif c >= prev:
                delta += c - prev
            else:
                resets += 1
                delta += c
            prev = c
        return prev, delta, resets, n, first

    def step(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            *acc, p_ts, p_eid, p_cents = state.get
            pending = list(zip(p_ts, p_eid, p_cents))
        else:
            acc, pending = (None, 0, 0, 0, None), []
        for pdf in pdfs:
            pending.extend(
                (int(t), int(i), int(c))
                for t, i, c in zip(pdf["ts_us"], pdf["event_id"], pdf["cents"])
            )
        done, pending = _commit_split(pending, state.getCurrentWatermarkMs() * 1000)
        acc = fold(done, acc)
        state.update((
            *acc,
            [p[0] for p in pending],
            [p[1] for p in pending],
            [p[2] for p in pending],
        ))
        # provisional: committed fold + pending folded on a copy
        pv, pd_, pr, pn, pf = fold(pending, acc)
        if pn == 0:
            return
        yield pd.DataFrame(
            [{
                "user_id": key[0],
                "n_samples": pn,
                "n_resets": pr,
                "delta": pd_ / 100.0,
                "first_reading": pf / 100.0,
                "last_reading": pv / 100.0,
            }]
        )

    return e.groupBy("user_id").applyInPandasWithState(
        step,
        COUNTER_OUTPUT_SCHEMA,
        COUNTER_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


HEARTBEAT_STATE_SCHEMA = (
    "first_us long, prev_us long, n_beats long, uptime_excl_us long, "
    "n_breaks long, pend_ts array<long>, pend_eid array<long>"
)
HEARTBEAT_OUTPUT_SCHEMA = (
    "user_id long, n_beats long, uptime_us long, n_islands long, "
    "span_us long, coverage double"
)


def streaming_heartbeat_uptime(
    events_stream: DataFrame,
    watermark: str = "1 day",
    tolerance_us: int = 300_000_000,
) -> DataFrame:
    """Streaming twin of ``timeseries.heartbeat_uptime``
    (union-of-intervals liveness per user, VERDICT r07 item 7 — the
    second stateful hyperfunction shape under the strict-watermark
    commit discipline). The batch union telescopes to a per-beat sum
    (a non-last beat contributes ``min(next_ts - ts, tolerance)``),
    so the streaming state is the counter twin's lag-1 register: the
    LAST committed beat's contribution stays open until its successor
    commits; committed sums exclude it, and every emission closes it
    provisionally with ``tolerance`` (exactly the batch rule for the
    final beat).

    Commit discipline: ``_commit_split`` (for this fold a
    same-timestamp straggler is a zero-length step either way, but
    the strict bound is the uniform discipline the counter regression
    pinned).

    State lifecycle: like the counter twin, liveness series are
    long-lived registers — no event-time eviction; state is one
    fixed-width row plus the watermark-bounded pending buffer per
    active user.
    """
    tol = int(tolerance_us)
    e = (
        events_stream.filter(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        .withWatermark("ts", watermark)
        .select(
            "user_id",
            # ts survives the projection: the watermark attribute
            # must be present for getCurrentWatermarkMs (see the
            # counter twin)
            "ts",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            # NULL event_id -> LONG_MIN (nulls-first total order;
            # a NaN would crash int(eid) in the Arrow batch)
            F.coalesce(
                F.col("event_id").cast("long"), F.lit(-(2**63))
            ).alias("event_id"),
        )
    )

    def fold(rows, acc):
        first, prev, n, uptime_excl, breaks = acc
        for ts_us, _ in rows:
            n += 1
            if prev is None:
                first = ts_us
            else:
                gap = ts_us - prev
                uptime_excl += min(gap, tol)
                if gap > tol:
                    breaks += 1
            prev = ts_us
        return first, prev, n, uptime_excl, breaks

    def step(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            *acc, p_ts, p_eid = state.get
            pending = list(zip(p_ts, p_eid))
        else:
            acc, pending = (None, None, 0, 0, 0), []
        for pdf in pdfs:
            pending.extend(
                (int(t), int(i)) for t, i in zip(pdf["ts_us"], pdf["event_id"])
            )
        done, pending = _commit_split(pending, state.getCurrentWatermarkMs() * 1000)
        acc = fold(done, acc)
        state.update((
            *acc,
            [p[0] for p in pending],
            [p[1] for p in pending],
        ))
        pf, pp, pn, pupx, pbr = fold(pending, acc)
        if pn == 0:
            return
        uptime = pupx + tol  # close the open last-beat interval
        span = pp - pf + tol
        yield pd.DataFrame(
            [{
                "user_id": key[0],
                "n_beats": pn,
                "uptime_us": uptime,
                "n_islands": pbr + 1,
                "span_us": span,
                "coverage": float(uptime) / float(span),
            }]
        )

    return e.groupBy("user_id").applyInPandasWithState(
        step,
        HEARTBEAT_OUTPUT_SCHEMA,
        HEARTBEAT_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


STATE_DUR_STATE_SCHEMA = (
    "prev_us long, prev_state string, states array<string>, "
    "entries array<long>, held array<long>, "
    "pend_ts array<long>, pend_eid array<long>, pend_state array<string>"
)
STATE_DUR_OUTPUT_SCHEMA = (
    "user_id long, state string, n_entries long, held_us long, n_obs long"
)


def streaming_state_durations(
    events_stream: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Streaming twin of ``timeseries.state_durations`` (time-in-state
    per (key, state), the TimescaleDB ``state_agg`` shape — the FOURTH
    stateful hyperfunction under the strict-watermark commit
    discipline). The batch LOCF telescopes per observation: each
    committed row enters its state (``n_entries`` += 1) and closes the
    PREVIOUS observation's open interval (``held_us[prev_state]`` +=
    Δt); the newest committed observation stays open, exactly the
    batch operator's no-duration tail.

    Unlike the counter/heartbeat twins, per-STATE totals are NOT
    monotone across emissions: a late mid-gap row re-splits a held
    interval between two states (held_A shrinks, held_C appears), so
    every emission carries the per-user observation count ``n_obs`` —
    the monotone sequence consumers (and the parity tests) use to pick
    the final emission per (user, state).

    Commit discipline: ``_commit_split``; the provisional fold runs
    on a COPY of the accumulator map.

    State lifecycle: like the other register twins — one (prev, state)
    pair plus a bounded per-state accumulator list (|states| is small
    by domain) plus the watermark-bounded pending buffer; no
    event-time eviction (an idle-timeout policy changes resources,
    never values).
    """
    e = (
        events_stream.filter(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        .withWatermark("ts", watermark)
        .select(
            "user_id",
            # ts survives the projection (watermark attribute — see
            # the counter twin)
            "ts",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            # NULL event_id -> LONG_MIN (nulls-first total order)
            F.coalesce(
                F.col("event_id").cast("long"), F.lit(-(2**63))
            ).alias("event_id"),
            F.col("event_type").alias("state"),
        )
    )

    def fold(rows, prev_us, prev_state, acc):
        for ts_us, _eid, st in rows:
            a = acc.setdefault(st, [0, 0])
            a[0] += 1
            if prev_us is not None:
                acc[prev_state][1] += ts_us - prev_us
            prev_us, prev_state = ts_us, st
        return prev_us, prev_state

    def step(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (prev_us, prev_state, sts, ents, held,
             p_ts, p_eid, p_st) = state.get
            acc = {s: [e_, h] for s, e_, h in zip(sts, ents, held)}
            pending = list(zip(p_ts, p_eid, p_st))
        else:
            prev_us = prev_state = None
            acc = {}
            pending = []
        for pdf in pdfs:
            pending.extend(
                (int(t), int(i), st)
                for t, i, st in zip(pdf["ts_us"], pdf["event_id"], pdf["state"])
            )
        # strictly < wm is value-bearing HERE: a same-timestamp
        # straggler with an earlier tiebreak re-orders the LOCF chain
        done, pending = _commit_split(pending, state.getCurrentWatermarkMs() * 1000)
        prev_us, prev_state = fold(done, prev_us, prev_state, acc)
        sts = sorted(acc)
        state.update((
            prev_us, prev_state,
            sts,
            [acc[s][0] for s in sts],
            [acc[s][1] for s in sts],
            [p[0] for p in pending],
            [p[1] for p in pending],
            [p[2] for p in pending],
        ))
        # provisional: committed fold + pending folded on a DEEP copy
        pacc = {s: list(v) for s, v in acc.items()}
        fold(pending, prev_us, prev_state, pacc)
        n_obs = sum(v[0] for v in pacc.values())
        if n_obs == 0:
            return
        yield pd.DataFrame(
            [{
                "user_id": key[0],
                "state": s,
                "n_entries": v[0],
                "held_us": v[1],
                "n_obs": n_obs,
            } for s, v in sorted(pacc.items())]
        )

    return e.groupBy("user_id").applyInPandasWithState(
        step,
        STATE_DUR_OUTPUT_SCHEMA,
        STATE_DUR_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


_DAY_US = 86_400_000_000


def _valid_readings(events_stream: DataFrame, watermark: str) -> DataFrame:
    """The value twins' input filter — the batch operators' NULL, NaN
    and overflow guards — plus the ``ts`` watermark."""
    return events_stream.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan(F.col("value"))
        & (F.abs(F.col("value")) < F.lit(1e9))
    ).withWatermark("ts", watermark)


def _cents():
    """Readings quantized to integer cents, exactly as in batch."""
    return (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("cents")


def _daily_cents(events_stream: DataFrame, watermark: str) -> DataFrame:
    """Per-row (day, cents) input of the closed-day twins; ``ts``
    survives the projection as the watermark attribute."""
    return _valid_readings(events_stream, watermark).select(
        "user_id",
        "ts",
        F.unix_micros(F.date_trunc("DAY", F.col("ts"))).alias("day_us"),
        _cents(),
    )


def _closed_day_step(keep: int, emit):
    """The ``applyInPandasWithState`` step of the closed-day twins
    (EWMA, Holt): commit discipline at DAY granularity. A day folds
    into the committed deque only once the watermark has passed its
    END (``day_end <= wm`` — a row AT the watermark belongs to a day
    whose end is still ahead of it, so the strict row bound of
    ``_commit_split`` is implied); open days accumulate in a pending
    per-day partial-sum buffer and fold provisionally on a copy, so
    every update-mode emission reflects all data seen so far in
    event-time order. In-contract stragglers sit at/above the
    watermark, so pending days are always newer than every committed
    day. The deque keeps the last ``keep`` days; ``emit(days, n_days)``
    maps the provisional ``(day_us, cents)`` deque to the twin's
    output columns."""

    def step(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, n_obs, days, xs, p_days, p_xs = state.get
            deque = list(zip(days, xs))
            pending = dict(zip(p_days, p_xs))
        else:
            n, n_obs, deque, pending = 0, 0, [], {}
        for pdf in pdfs:
            for day_us, cents in zip(pdf["day_us"], pdf["cents"]):
                d = int(day_us)
                n_obs += 1
                pending[d] = pending.get(d, 0) + int(cents)
        wm_us = state.getCurrentWatermarkMs() * 1000
        for d, x in sorted(pending.items()):
            if d + _DAY_US <= wm_us:
                n += 1
                deque.append((d, pending.pop(d)))
        deque = deque[-keep:]
        pend = sorted(pending.items())
        state.update((
            n,
            n_obs,
            [d for d, _ in deque],
            [x for _, x in deque],
            [d for d, _ in pend],
            [x for _, x in pend],
        ))
        pn, pdq = n + len(pend), (deque + pend)[-keep:]
        if pn == 0:
            return
        yield pd.DataFrame(
            [{
                "user_id": key[0],
                "n_days": pn,
                "n_obs": n_obs,
                "last_day": pd.to_datetime(pdq[-1][0], unit="us"),
                **emit(pdq, pn),
            }]
        )

    return step


EWMA_STATE_SCHEMA = (
    "n_days long, n_obs long, days array<long>, xs array<long>, "
    "pend_days array<long>, pend_xs array<long>"
)
EWMA_OUTPUT_SCHEMA = (
    "user_id long, n_days long, n_obs long, last_day timestamp, "
    "last_total double, ewma double"
)

_EWMA_TRUNC_BITS = 24
_EWMA_KEEP = _EWMA_TRUNC_BITS + 1  # all days that can carry weight


def streaming_ewma_smoothed(
    events_stream: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Streaming twin of ``timeseries.ewma_last`` (alpha = 1/2 EWMA
    of per-day totals — the FIFTH stateful hyperfunction under the
    strict-watermark commit discipline). The batch operator's
    24-halving truncation is what makes the streaming register O(1):
    only the last 25 OBSERVED days can carry weight, so state is a
    bounded (day, total) deque plus the day count — the fold
    recomputes the truncated closed form exactly, in Python integers,
    and the final emission is bit-identical to the batch entry
    (same integer shift sum, same single IEEE division).

    Commit discipline at DAY granularity: ``_closed_day_step``.

    ``n_days`` is non-decreasing but NOT strict (a late partial
    merges into an existing day), so every emission also carries
    ``n_obs`` — the per-user folded-row count, strictly growing with
    every arrival — and consumers (and the parity tests) pick the
    final emission by max ``n_obs``, the state_durations pattern.

    State lifecycle: one bounded deque per active user (25 longs) +
    the watermark-bounded pending buffer; no event-time eviction.
    """

    def emit(deque, n):
        m = len(deque)
        total = 0
        for j, (_d, x) in enumerate(deque, start=1):
            rn = n - m + j
            ex = n - 1 if rn == 1 else n - rn + 1
            if ex <= _EWMA_TRUNC_BITS:
                total += x << (_EWMA_TRUNC_BITS - ex)
        ewma = total / float((1 << _EWMA_TRUNC_BITS) * 100)
        return {"last_total": deque[-1][1] / 100.0, "ewma": ewma}

    e = _daily_cents(events_stream, watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        _closed_day_step(_EWMA_KEEP, emit),
        EWMA_OUTPUT_SCHEMA,
        EWMA_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_incremental_dedup(
    docs_stream: DataFrame,
    existing_fp: DataFrame,
    watermark: str = "1 day",
    key_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    source_col: str = "source",
) -> DataFrame:
    """Streaming twin of ``docs_incremental_dedup`` (the SIXTH
    stateful surface): continuous-ingest exact dedup — each arriving
    document is dropped if its fingerprint matches (a) the
    already-loaded corpus or (b) any earlier arrival still inside the
    watermark window; survivors are the rows a downstream loader
    appends. Emits ``(doc_id, source, fp, ts)`` per surviving doc in
    append mode.

    Construction (all engine-native, zero Python state):

    - fingerprint = ``text.fingerprint`` (md5 of normalized text) —
      the identical 16-byte key the batch entry anti-joins on;
    - vs-EXISTING: stream-static LEFT ANTI join against the loaded
      corpus's fingerprint column — the static side contributes only
      ``fp`` (never text), so per-batch cost is proportional to the
      batch, exactly the batch entry's incremental-cost claim;
    - within-stream: ``dropDuplicatesWithinWatermark([fp])`` —
      first-ARRIVAL-wins dedup whose state store evicts a
      fingerprint once the watermark passes its event time. That
      eviction bound is the documented contract (and what makes
      state O(arrival rate × watermark), not O(corpus)): a duplicate
      redelivered LATER than the watermark window re-admits, which
      production closes by folding committed fingerprints back into
      ``existing_fp`` — the same loop the batch entry's
      history-table design implies. Measured nuance (pinned by the
      straggler test): in-batch dedup runs BEFORE state eviction, so
      the first micro-batch whose watermark passes a fingerprint's
      expiry still drops its redeliveries; re-admission starts the
      batch after.

    Batch-twin parity: over the same rows, survivors equal the batch
    entry's anti-join + first-wins result whenever arrival order is
    doc_id order (the parity test's framing); the batch entry
    (`docs_incremental_dedup`, driver-hashed) remains the semantic
    spec.

    Scale: the anti-join broadcasts nothing by default — Spark plans
    the static side per its size (a 100 TB corpus's fp index is a
    bucketed table; the stream side shuffles only the micro-batch).
    Dedup state is a per-fp token in the state store, watermark
    bounded.
    """
    from ..operators.text import fingerprint

    e = (
        docs_stream.filter(
            F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .withWatermark(ts_col, watermark)
        .select(
            F.col(key_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            fingerprint(F.col(text_col)).alias("fp"),
            F.col(ts_col).alias("ts"),
        )
    )
    ex = existing_fp.select(F.col("fp"))
    return (
        e.join(ex, "fp", "left_anti")
        .dropDuplicatesWithinWatermark(["fp"])
        .select("doc_id", "source", "fp", "ts")
    )


HOLT_STATE_SCHEMA = (
    "n_days long, n_obs long, days array<long>, xs array<long>, "
    "pend_days array<long>, pend_xs array<long>"
)
HOLT_OUTPUT_SCHEMA = (
    "user_id long, n_days long, n_obs long, last_day timestamp, "
    "level double, trend double, forecast double"
)


def _holt_fold(xs):
    """The batch Holt fold replayed over clamped day totals,
    bit-for-bit — by construction: it IS ``timeseries.holt_fold_xs``,
    the single shared exact-integer fold, after the batch side's
    clamp (which the batch plan applies in SQL before its fold)."""
    from ..operators.timeseries import HOLT_CLAMP_CENTS, holt_fold_xs

    xs = [max(-HOLT_CLAMP_CENTS, min(HOLT_CLAMP_CENTS, x)) for x in xs]
    return holt_fold_xs(xs)


def streaming_holt_linear(
    events_stream: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Streaming twin of ``timeseries.holt_linear`` (alpha = beta =
    1/2 Holt linear trend over per-day totals — the SIXTH stateful
    hyperfunction under the strict-watermark commit discipline, and
    the first whose batch side is itself a sequential Arrow fold:
    twin parity here means stream-fold == batch-fold, not
    stream-fold == closed form). The batch operator's last-24-days
    declaration is what makes the streaming register O(1): only the
    trailing 24 observed days ever fold, so state is a bounded
    (day, total) deque plus the day count. The emission replays the
    batch fold exactly — same clamped integers, same 4^t scaling,
    same micro-dollar HALF-UP quantization — so parity is
    bit-identical.

    Commit discipline at DAY granularity, the EWMA twin's
    ``_closed_day_step``.

    ``n_obs`` strictly grows with every arrival; consumers (and the
    parity tests) pick the final emission by max ``n_obs``.

    State lifecycle: one bounded deque per active user (24 day/total
    pairs) + the watermark-bounded pending buffer; no event-time
    eviction.
    """
    from ..operators.timeseries import HOLT_MAX_OBS

    def emit(deque, n):
        level, trend, forecast = _holt_fold([x for _, x in deque])
        return {"level": level, "trend": trend, "forecast": forecast}

    e = _daily_cents(events_stream, watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        _closed_day_step(HOLT_MAX_OBS, emit),
        HOLT_OUTPUT_SCHEMA,
        HOLT_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


BITMAP_STATE_SCHEMA = "mask long, n_obs long"
BITMAP_OUTPUT_SCHEMA = (
    "user_id long, n_obs long, n_active_days long, has_streak3 int"
)


def streaming_activity_bitmap(
    events_stream: DataFrame,
    anchor_day,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming twin of ``events_activity_bitmap`` (the EIGHTH
    stateful surface) — and the simplest possible state shape in the
    family: the day-activity mask is a COMMUTATIVE, IDEMPOTENT monoid
    (bit OR), so unlike every fold twin there is NO commit discipline,
    no pending buffer and no deque — any event, however late or
    re-delivered, merges by OR-ing one bit, and every emission is
    final-correct for the data seen so far. The watermark exists only
    for state eviction policy, not correctness. State per user: one
    8-byte mask + the n_obs emission counter.

    ``anchor_day`` is the day-0 anchor (the batch entry derives it as
    the corpus MIN day; a stream cannot know the corpus minimum, so
    the deployment pins it — the stream-static parameter precedent of
    ``streaming_incremental_dedup``'s loaded fingerprints). Offsets
    outside [0, 61] are excluded BY DECLARATION, as in batch.

    Emission per update: the user's popcount and the shift-AND 3-day
    streak flag; the batch histogram is a stateless rollup consumers
    run over final emissions (max n_obs per user — the parity test's
    shape).
    """
    anchor_us = int(pd.Timestamp(anchor_day).value // 1000)
    e = (
        events_stream.filter(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        .withWatermark("ts", watermark)
        .select(
            "user_id",
            "ts",
            (
                (
                    F.unix_micros(F.date_trunc("DAY", F.col("ts")))
                    - F.lit(anchor_us)
                )
                / F.lit(_DAY_US)
            )
            .cast("long")
            .alias("off"),
        )
        .filter((F.col("off") >= 0) & (F.col("off") <= 61))
    )

    def step(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            mask, n_obs = state.get
        else:
            mask, n_obs = 0, 0
        if state.hasTimedOut:  # pragma: no cover - no timeout is set
            state.remove()
            return
        for pdf in pdfs:
            for off in pdf["off"]:
                mask |= 1 << int(off)
                n_obs += 1
        state.update((mask, n_obs))
        yield pd.DataFrame(
            [{
                "user_id": key[0],
                "n_obs": n_obs,
                "n_active_days": bin(mask).count("1"),
                "has_streak3": int((mask & (mask >> 1) & (mask >> 2)) != 0),
            }]
        )

    return e.groupBy("user_id").applyInPandasWithState(
        step,
        BITMAP_OUTPUT_SCHEMA,
        BITMAP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


_SESSION_GAP_US = 1_800_000_000  # 30 min — events_sessionization's gap

SEGMENTS_STATE_SCHEMA = "open_s long, open_e long, pending array<long>"
SEGMENTS_OUTPUT_SCHEMA = "user_id long, day long, cs long, ce long"


def streaming_session_concurrency(
    events_stream: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Streaming twin of ``events_session_concurrency`` (the NINTH
    stateful surface). The batch operator factors into a stateful
    half (per-user 30-min-gap sessionization, day-clipped segments)
    and a stateless half (the two-level sweep-line rollup,
    ``timeseries.concurrency_from_segments``); the twin streams the
    STATEFUL half and emits each finalized session's day-clipped
    segments ``(user_id, day, cs, ce)`` EXACTLY ONCE — consumers (and
    the parity test) run the same shared sweep over the emitted
    segments, so stream/batch parity is by construction, not by a
    parallel copy of the rollup.

    Commit discipline at EVENT granularity (the watch-time twin's
    strict bound): an event folds into the session chain only once
    its timestamp is STRICTLY below the watermark (Spark still
    delivers rows AT the watermark); later events stay in the pending
    buffer, bounded by arrival rate x watermark. A session FINALIZES
    — and its segments emit — when the watermark passes its last
    committed event by more than the gap (``wm > e_us + 30min``):
    every event any future micro-batch can admit has
    ``ts >= wm > e_us + gap`` and must start a NEW session, so the
    emission can never be contradicted. Out-of-order arrivals within
    the watermark re-sort inside pending before committing, so the
    gap splits are computed on event-time order exactly as batch.

    State per user: the open session's ``(start, last-event)`` pair
    (-1 sentinels when none) + the pending buffer — O(rate x
    watermark), independent of history. An idle user's last session
    flushes via EventTimeTimeout at ``last_seen + gap`` (clamped past
    the current watermark), then the state is REMOVED — a later event
    necessarily opens a fresh session, so eviction loses nothing.
    """
    e = (
        events_stream.filter(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        .withWatermark("ts", watermark)
        .select("user_id", "ts", F.unix_micros(F.col("ts")).alias("us"))
    )

    def segments(uid: int, s_us: int, e_us: int) -> list[dict]:
        ce_open = e_us + 1  # half-open [s, e+1): zero-length counts
        out = []
        for day in range(s_us // _DAY_US, e_us // _DAY_US + 1):
            out.append(
                {
                    "user_id": uid,
                    "day": day,
                    "cs": max(s_us, day * _DAY_US),
                    "ce": min(ce_open, (day + 1) * _DAY_US),
                }
            )
        return out

    def step(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            open_s, open_e, pending = state.get
            pending = list(pending)
        else:
            open_s, open_e, pending = -1, -1, []
        uid = key[0]
        rows: list[dict] = []
        for pdf in pdfs:
            pending.extend(int(u) for u in pdf["us"])
        # a timed-out user: the watermark passed everything it holds by
        # more than the gap, so all of pending commits and the open
        # session finalizes below
        wm_us = math.inf if state.hasTimedOut else state.getCurrentWatermarkMs() * 1000
        done, pending = _commit_split(pending, wm_us, order=None, event_us=None)
        for u in done:
            if open_s < 0:
                open_s = open_e = u
            elif u - open_e <= _SESSION_GAP_US:
                open_e = u
            else:
                rows.extend(segments(uid, open_s, open_e))
                open_s = open_e = u
        # finalize the open session once nothing admissible can extend
        # it (wm already past its end by more than the gap) AND no
        # buffered event precedes that bound
        if (
            open_s >= 0
            and wm_us > open_e + _SESSION_GAP_US
            and (not pending or pending[0] > open_e + _SESSION_GAP_US)
        ):
            rows.extend(segments(uid, open_s, open_e))
            open_s, open_e = -1, -1
        last_seen = max([open_e] + pending) if (pending or open_e >= 0) else -1
        if last_seen >= 0:
            state.update((open_s, open_e, pending))
            flush_at_ms = (last_seen + _SESSION_GAP_US) // 1000 + 1
            state.setTimeoutTimestamp(
                max(flush_at_ms, state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            # nothing open, nothing pending: drop the state row instead
            # of keeping (-1, -1, []) with no timeout — always the case
            # after a timeout; otherwise unreachable while Spark's
            # late-row filter keeps every delivered row >= watermark,
            # but a leaked empty register with no eviction path is the
            # one shape that would never die.
            state.remove()
        if rows:
            yield pd.DataFrame(rows)

    return e.groupBy("user_id").applyInPandasWithState(
        step,
        SEGMENTS_OUTPUT_SCHEMA,
        SEGMENTS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_rolling_hll_7d(
    events_stream: DataFrame, watermark: str = "1 day", lg_k: int = 12
) -> DataFrame:
    """Streaming twin of ``events_rolling_hll_7d`` (the TENTH
    streaming surface) — sliding 7-day distinct users as a NATIVE
    windowed sketch aggregation: ``hll_sketch_agg`` over
    ``window(ts, '7 days', '1 day')`` in APPEND mode, so a window
    emits exactly once, when the watermark passes its end and no
    admissible event can change it. No Python state machine at all:
    the sketch union is commutative and idempotent (register maxima),
    so like the activity-bitmap twin there is no commit discipline —
    arrival order and redelivery cannot change the final registers,
    and the engine's own watermark close IS the finalization.

    Emission ``day`` matches the batch entry's keying: the trailing
    window ENDING on day d covers [d-6, d], i.e. window.end - 1 day.
    The batch entry additionally gates the merged estimate against
    the exact cover-explode twin and restricts to days present in the
    corpus; consumers of the stream apply the day restriction on
    read (the parity test's shape — a stream cannot know the corpus
    day domain).

    State: one KB-sized sketch per OPEN window — at most 7 + lateness
    per slide grain, independent of user cardinality; the 100 TB
    story of the batch entry (KB blobs, not user-day rows) carried
    into the stream.
    """
    e = (
        events_stream.filter(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        )
        .withWatermark("ts", watermark)
    )
    return (
        e.groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", lg_k)
            ).alias("wau_7d_est")
        )
        .select(
            (F.col("w.end") - F.expr("INTERVAL 1 DAY")).alias("day"),
            "wau_7d_est",
        )
    )


_FUNNEL_WINDOW_US = 7 * 86_400_000_000  # events_window_funnel's 7 days
_FUNNEL_CODES = {"view": 0, "click": 1, "purchase": 2}

FUNNEL_STATE_SCHEMA = "pending array<long>"
FUNNEL_OUTPUT_SCHEMA = "user_id long, t_v long, level integer"


def streaming_window_funnel(
    events_stream: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Streaming twin of ``events_window_funnel`` (the ELEVENTH
    stateful surface): per-user sliding-window funnel levels under the
    strict-watermark commit discipline. Each VIEW opens a 7-day
    chain window; the emitted level is the greedy
    view → earliest-click → purchase chain inside it — exactly the
    batch entry's per-start computation, emitted as one
    ``(user_id, t_v, level)`` row per start EXACTLY ONCE, when the
    start FINALIZES. The batch histogram (max level per user,
    shares) is a stateless rollup consumers run over the finalized
    emissions — the session-concurrency twin's factoring: stream the
    stateful half, share the rollup.

    Commit discipline at START granularity: a start finalizes only
    when ``wm > t_v + 7d`` — every event a future micro-batch can
    deliver has ``ts >= wm > t_v + 7d``, outside the window, so the
    emitted level can never be contradicted. Until then the start and
    every event that might join its chain sit in the pending buffer;
    out-of-order arrivals within the watermark re-sort before any
    level is computed, so chains see event-time order exactly as
    batch.

    State per user: ONE packed-long array (``us * 4 + code``) pruned
    each step to events that can still matter — when unfinalized
    starts exist, events newer than ``wm - 7d`` (an unfinalized start
    has ``t_v >= wm - 7d`` and chain events are strictly later);
    otherwise only the not-yet-admissible tail (``ts >= wm``). Bound:
    O(arrival rate x (window + lateness)), independent of history —
    the sessionization envelope with a 7-day horizon. An idle user
    drains via EventTimeTimeout at the earliest unfinalized start's
    ``t_v + 7d`` (clamped past the current watermark); when nothing
    pending remains the state row is REMOVED.
    """
    e = (
        events_stream.filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isin(*_FUNNEL_CODES)
        )
        .withWatermark("ts", watermark)
        .select(
            "user_id",
            "ts",
            (
                F.unix_micros(F.col("ts")) * F.lit(4)
                + F.element_at(
                    F.create_map(
                        *[
                            F.lit(x)
                            for kv in _FUNNEL_CODES.items()
                            for x in kv
                        ]
                    ),
                    F.col("event_type"),
                )
            ).alias("packed"),
        )
    )

    def _finalize(
        uid: int, pending: list[int], wm_us: int
    ) -> tuple[list[dict], list[int], int]:
        """Emit every start with a fully-closed window; return
        (rows, kept pending, earliest unfinalized start us or -1).

        ``set()`` collapses redelivered events (identical packed
        us+code): the batch entry's GROUP BY start / DISTINCT user
        shape is insensitive to duplicate rows, so the twin dedups in
        the buffer to keep per-start emission exactly-once under
        at-least-once delivery."""
        pending = sorted(set(pending))
        evs = [(p >> 2, p & 3) for p in pending]
        rows: list[dict] = []
        v_open = -1
        for us, code in evs:
            if code != 0:
                continue
            if us + _FUNNEL_WINDOW_US < wm_us:
                end = us + _FUNNEL_WINDOW_US
                c1 = next(
                    (u for u, c in evs if c == 1 and us < u <= end), -1
                )
                if c1 < 0:
                    level = 1
                elif any(c == 2 and c1 < u <= end for u, c in evs):
                    level = 3
                else:
                    level = 2
                rows.append({"user_id": uid, "t_v": us, "level": level})
            elif v_open < 0:
                v_open = us
        cutoff = wm_us - _FUNNEL_WINDOW_US if v_open >= 0 else wm_us
        keep = [p for p in pending if (p >> 2) >= cutoff]
        return rows, keep, v_open

    def step(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pending = list(state.get[0]) if state.exists else []
        uid = key[0]
        for pdf in pdfs:
            pending.extend(int(p) for p in pdf["packed"])
        wm_us = state.getCurrentWatermarkMs() * 1000
        rows, keep, v_open = _finalize(uid, pending, wm_us)
        if state.hasTimedOut and not keep:
            state.remove()
        elif not keep and state.exists:
            # nothing open, nothing admissible later: drop the register
            # (the sessionizer's defensive-removal rule)
            state.remove()
        elif keep:
            state.update((keep,))
            # wake when the earliest unfinalized start's window closes;
            # with no open start, garbage-collect once the buffer's
            # tail is a full window old
            anchor = v_open if v_open >= 0 else (keep[-1] >> 2)
            flush_at_ms = (anchor + _FUNNEL_WINDOW_US) // 1000 + 1
            state.setTimeoutTimestamp(
                max(flush_at_ms, state.getCurrentWatermarkMs() + 1)
            )
        if rows:
            yield pd.DataFrame(rows)

    return e.groupBy("user_id").applyInPandasWithState(
        step,
        FUNNEL_OUTPUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )
