"""Fact transform: media-engagement rollup at (media_id, visitor_id,
date) grain, including the reference's stateful watch-time operator.

Behavioral source (what to compute, not how):
``/root/reference/process_wistia_data_v2.py:350-531`` —
grouping/null-key filter (:360-389), play count with progress fallback
(:397-400), the sequential watch-time fold (:402-465), duration clamp
(:467-469), play-rate ratio + zero-forcing (:472-481, :526-530), first
event timestamp (:484-492), max percent (:495-497), first non-null
ip/country (:499-513).

Two formulations, cross-checked in tests:

1. **Window formulation** (`fact_media_engagement`, default) — fully
   native: the fold's state is lag-1 once tracking starts, so interval
   credit is a gated expression over ``lag``; everything else is one
   hash aggregate of struct-min/max. Exact when timestamps are
   strictly increasing within a group after tracking start (equal
   timestamps: the reference's anchor freezes while lag-1 does not —
   divergence bounded by the duplicate-ts credit, asserted ≈0 in
   tests).
2. **The sequential state machine** — the bit-exact port, written
   once: ``watch_step`` advances the (anchor, last_pct, total) state
   over event-time-ordered rows and ``watch_finish`` closes a group
   (play count, duration cap, zeroing, HALF_UP rounding). Three
   callers run it: the grouped-map oracle
   (`fact_media_engagement_fold`, the golden-test reference), the
   partition scan (`fact_media_engagement_fold_scan`) and the
   streaming twin (`streaming.pipeline.streaming_watch_time`), which
   folds its committed prefix and a provisional copy.

Quirk resolution (SURVEY §2.6, engine defaults vs `legacy` flag):

- Q1: events carry no ``name`` in observed data; all ``name`` logic is
  null-safe (play_count falls back to "any progress → 1").
- Q2: ``percent_viewed`` is a 0-1 fraction, but the reference divides
  the delta by 100 again. Default: credit ``Δpct × duration``.
  ``legacy_percent_semantics=True`` reproduces ``Δpct/100 × duration``
  for byte-compat with the reference.

Determinism: per-group ordering is (received_at, event_key) — the
reference relied on file order (SURVEY §7 hard-part 2). The
first-non-null ip/country fallback is the sorted-first event, not the
unsorted-first (documented deviation; the reference's fallback order is
irreproducible by design).
"""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

FACT_OUTPUT_SCHEMA = (
    "media_id string, visitor_id string, date date, play_count bigint, "
    "total_watch_time double, max_percent_viewed double, play_rate double, "
    "event_timestamp timestamp, last_event_timestamp timestamp, "
    "ip string, country string, ingestion_timestamp timestamp"
)


def _valid_events(events: DataFrame) -> DataFrame:
    """P4 null-key filter (process_wistia_data_v2.py:374)."""
    return events.filter(
        F.col("media_id").isNotNull()
        & F.col("visitor_key").isNotNull()
        & F.col("received_at").isNotNull()
    )


def _with_duration(events: DataFrame, dim_media: DataFrame) -> DataFrame:
    """J1 broadcast duration lookup (process_wistia_data_v2.py:721-728)."""
    dur = dim_media.select("media_id", "duration")
    return events.join(F.broadcast(dur), "media_id", "left")


def _fold_input(events: DataFrame, dim_media: DataFrame) -> DataFrame:
    """The shared input projection of the window formulation and
    both batch callers of the state machine (grouped-map, partition
    scan): valid events + broadcast duration dim, one column set, one
    set of casts. A single copy so a schema tweak cannot silently
    split the pytest-pinned equivalence between them."""
    return _with_duration(_valid_events(events), dim_media).select(
        "media_id",
        F.col("visitor_key").alias("visitor_id"),
        F.to_date("received_at").alias("date"),
        "received_at",
        "event_key",
        F.col("percent_viewed").cast("double").alias("pct"),
        F.col("name").alias("event_name"),
        "ip",
        "country",
        F.col("duration").cast("double").alias("duration"),
    )


def fact_media_engagement(
    events: DataFrame,
    dim_media: DataFrame,
    run_ts: dt.datetime,
    legacy_percent_semantics: bool = False,
) -> DataFrame:
    """Window-native fact rollup (the 100 TB path).

    Plan shape: one shuffle on (media_id, visitor_key) for the window
    sort, then one hash aggregate on (media_id, visitor_key, date).
    The dim join is broadcast. No Python in the hot path.
    """
    e = _fold_input(events, dim_media)

    keys = ["media_id", "visitor_id", "date"]
    w_ord = W.partitionBy(*keys).orderBy("received_at", "event_key")
    w_all = w_ord.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)

    # tracking starts at the first event with progress or an explicit
    # play (null-safe on name — Q1). A null-pct row can neither start
    # tracking nor join the lag chain: the fold skips such rows
    # entirely, and (NULL | name=='play') would otherwise evaluate
    # true and start tracking one row early.
    is_start_candidate = F.col("pct").isNotNull() & (
        (F.col("pct") > 0) | (F.col("event_name") == "play")
    )
    start_marker = F.min(
        F.when(is_start_candidate, F.struct("received_at", "event_key"))
    ).over(w_all)
    cur_marker = F.struct("received_at", "event_key")

    e = e.withColumn("_start", start_marker)
    tracked = F.col("_start").isNotNull() & (cur_marker >= F.col("_start"))
    e = e.withColumn("_tracked", tracked)

    # lag-1 within the tracked suffix of each group; null-pct rows are
    # invisible to the credit chain (fold parity: isna → continue)
    t = e.filter(F.col("_tracked") & F.col("pct").isNotNull())
    prev_ts = F.lag("received_at").over(w_ord)
    prev_pct = F.lag("pct").over(w_ord)
    dt_s = (
        (F.unix_micros(F.col("received_at")) - F.unix_micros(prev_ts)).cast("double")
        / 1000000.0
    )
    dpct = F.col("pct") - prev_pct
    scale = (dpct / 100.0) if legacy_percent_semantics else dpct
    credit = F.when(
        prev_ts.isNotNull()
        & (dt_s > 0)
        & (F.col("pct") > prev_pct)
        & (F.col("duration").isNotNull())
        & (F.col("duration") > 0)
        & (~F.coalesce(F.col("event_name").isin("pause", "end"), F.lit(False))),
        F.least(dt_s, scale * F.col("duration")),
    ).otherwise(F.lit(0.0))
    t = t.select(*keys, credit.alias("credit")).groupBy(*keys).agg(
        F.sum("credit").alias("raw_watch_time")
    )

    first_truthy = lambda c: F.min(  # noqa: E731
        F.when(
            F.col(c).isNotNull() & (F.col(c) != ""),
            F.struct("received_at", "event_key", F.col(c).alias("v")),
        )
    )
    g = e.groupBy(*keys).agg(
        F.count(F.when(F.col("event_name") == "play", 1)).alias("n_play_events"),
        F.max(F.when(F.col("pct") > 0, True)).alias("any_progress"),
        F.max("pct").alias("max_percent_viewed"),
        F.min(F.struct("received_at", "event_key")).getField("received_at").alias(
            "event_timestamp"
        ),
        F.max("received_at").alias("last_event_timestamp"),
        first_truthy("ip").getField("v").alias("ip"),
        first_truthy("country").getField("v").alias("country"),
        F.first("duration").alias("duration"),
    )

    out = g.join(t, keys, "left").withColumn(
        "raw_watch_time", F.coalesce("raw_watch_time", F.lit(0.0))
    )
    play_count = F.when(F.col("n_play_events") > 0, F.col("n_play_events")).otherwise(
        F.when(F.coalesce(F.col("any_progress"), F.lit(False)), F.lit(1)).otherwise(
            F.lit(0)
        )
    )
    clamped = F.when(
        F.col("duration").isNotNull(),
        F.least(F.col("raw_watch_time"), F.col("duration")),
    ).otherwise(F.col("raw_watch_time"))
    out = (
        out.withColumn("play_count", play_count.cast("bigint"))
        .withColumn("_wt", F.when(F.col("play_count") > 0, clamped).otherwise(F.lit(0.0)))
        .withColumn("total_watch_time", F.round(F.col("_wt"), 2))
        .withColumn(
            "play_rate",
            F.when(
                (F.col("play_count") > 0)
                & (F.col("duration").isNotNull())
                & (F.col("duration") > 0)
                & (F.col("_wt") > 0),
                F.round(F.col("_wt") / F.col("duration"), 2),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("ingestion_timestamp", F.lit(run_ts).cast("timestamp"))
    )
    return out.select(
        "media_id",
        "visitor_id",
        "date",
        "play_count",
        "total_watch_time",
        "max_percent_viewed",
        "play_rate",
        "event_timestamp",
        "last_event_timestamp",
        "ip",
        "country",
        "ingestion_timestamp",
    )


# ---------------------------------------------------------------------------
# The sequential watch-time state machine and its batch callers
# ---------------------------------------------------------------------------


def _round2(x: float) -> float:
    """HALF_UP 2-decimal rounding over the double's shortest repr —
    the same semantics as Spark's F.round on doubles. Python's built-in
    round() is half-to-even and diverges on exact halves (0.125 →
    0.12 vs 0.13)."""
    return float(
        Decimal(repr(float(x))).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    )


def watch_step(state: tuple, rows, duration, legacy: bool) -> tuple:
    """The reference's lag-1 watch-time transition
    (process_wistia_data_v2.py:402-465), the one Python copy.

    ``state`` is ``(anchor_us, last_pct, total)``, anchor ``None``
    until tracking starts; ``rows`` yields ``(ts_us, pct, name)`` in
    (received_at, event_key) order. NaN-pct rows are invisible to the
    chain. A group without a positive duration never credits.
    ``elapsed`` is one correctly-rounded division of the integer µs
    delta, so every caller computes the same double."""
    anchor, last_pct, total = state
    if duration is None or not duration > 0:
        return state
    for ts, pct, name in rows:
        if pct != pct:
            continue
        if anchor is None:
            if pct > 0 or name == "play":
                anchor, last_pct = ts, pct
            continue
        elapsed = (ts - anchor) / 1e6
        if elapsed > 0 and pct > last_pct:
            if name not in ("pause", "end"):
                change = pct - last_pct
                expected = (change / 100.0 if legacy else change) * duration
                total += min(elapsed, expected)
            anchor, last_pct = ts, pct
        elif pct > last_pct + 0.01 or (elapsed > 0 and pct <= last_pct):
            anchor, last_pct = ts, pct
    return anchor, last_pct, total


def watch_finish(n_play: int, any_progress: bool, duration, total: float):
    """Close a folded group: play count with the any-progress fallback
    (Q1), the duration cap, zeroing when nothing played, HALF_UP
    rounding. Returns ``(play_count, total_watch_time, play_rate)``."""
    play_count = n_play if n_play > 0 else (1 if any_progress else 0)
    if play_count == 0:
        return 0, 0.0, 0.0
    if duration is not None:
        total = min(total, duration)
    play_rate = 0.0
    if duration is not None and duration > 0 and total > 0:
        play_rate = _round2(total / duration)
    return play_count, _round2(total), play_rate


def _first_text(values) -> str | None:
    return next((v for v in values if isinstance(v, str) and v), None)


def _fold_groups(pdf: pd.DataFrame, bounds, run_ts: dt.datetime, legacy: bool):
    """One fact row per key-group ``pdf[bounds[i]:bounds[i + 1]]`` of
    an event-time-sorted frame. Columns are extracted once per call,
    so a group costs no pandas object (a per-group slice cost ~1.2 ms
    of fixed overhead, ~50 CPU-s per 100k events at visitor-day grain,
    r11). The first non-empty ip/country is the sorted-first one."""
    recv = pdf["received_at"].to_numpy()
    ts_us = recv.astype("datetime64[us]").view("int64").tolist()
    pct = pdf["pct"].to_numpy(dtype="float64").tolist()
    names = pdf["event_name"].tolist()
    dur = pdf["duration"].to_numpy(dtype="float64").tolist()
    ips, countries = pdf["ip"].tolist(), pdf["country"].tolist()
    keys = pdf[["media_id", "visitor_id", "date"]].to_numpy(dtype=object)

    rows = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        duration = dur[a] if dur[a] == dur[a] else None
        seen = [p for p in pct[a:b] if p == p]
        _, _, total = watch_step(
            (None, 0.0, 0.0), zip(ts_us[a:b], pct[a:b], names[a:b]),
            duration, legacy,
        )
        play_count, watch, rate = watch_finish(
            names[a:b].count("play"), any(p > 0 for p in seen), duration, total
        )
        rows.append(
            {
                "media_id": keys[a, 0],
                "visitor_id": keys[a, 1],
                "date": keys[a, 2],
                "play_count": play_count,
                "total_watch_time": watch,
                # all-null pct surfaces as NULL (window parity: F.max
                # skips nulls), never as NaN
                "max_percent_viewed": max(seen, default=None),
                "play_rate": rate,
                "event_timestamp": pd.Timestamp(recv[a]),
                "last_event_timestamp": pd.Timestamp(recv[b - 1]),
                "ip": _first_text(ips[a:b]),
                "country": _first_text(countries[a:b]),
                "ingestion_timestamp": run_ts,
            }
        )
    return pd.DataFrame(rows)


def fact_media_engagement_fold(
    events: DataFrame,
    dim_media: DataFrame,
    run_ts: dt.datetime,
    legacy_percent_semantics: bool = False,
) -> DataFrame:
    """Sequential-fold implementation via grouped-map applyInPandas.

    One Arrow batch per (media, visitor, date) group, sorted by
    (received_at, event_key) and folded as one range; the state
    machine is the reference's, verbatim in semantics. Used as the
    correctness oracle for the window formulation and for golden
    tests; also the fallback if a future semantics change stops being
    lag-1.
    """
    e = _fold_input(events, dim_media)

    legacy = legacy_percent_semantics

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["received_at", "event_key"], kind="mergesort", ignore_index=True
        )
        return _fold_groups(pdf, [0, len(pdf)], run_ts, legacy)

    return e.groupBy("media_id", "visitor_id", "date").applyInPandas(
        fold, FACT_OUTPUT_SCHEMA
    )


def fact_media_engagement_fold_scan(
    events: DataFrame,
    dim_media: DataFrame,
    run_ts: dt.datetime,
    legacy_percent_semantics: bool = False,
    dedup_event_rows: bool = False,
) -> DataFrame:
    """Partition-scan formulation of the sequential fold — identical
    semantics to ``fact_media_engagement_fold`` (pytest-pinned
    equivalence), restructured for group-count scale: grouped-map
    ``applyInPandas`` materializes ONE pandas DataFrame per group,
    which at visitor-day grain means billions of tiny Arrow slices —
    per-group conversion overhead dominates the fold itself ~10×.
    Here the plan is repartition-by-key + sortWithinPartitions + one
    ``mapInPandas`` pass of ``_scan.group_carry_scan``, so conversion
    cost is per-BATCH while state still never crosses a group
    boundary (groups can span batches WITHIN a partition — the carry
    stitches them; they cannot span partitions, the shuffle hashes
    the full group key). The scan's exchange already sorted each
    group by (received_at, event_key), the ordering the window
    formulation's ``orderBy`` trusts too, so groups fold unsorted.

    ``dedup_event_rows=True`` resolves duplicate ``(received_at,
    event_key)`` rows deterministically BEFORE the fold, keeping the
    ``(pct, event_name)``-least row, nulls last. It rides the fold's
    OWN exchange: rows sharing the duplicate key necessarily share
    the group key, so the existing repartition already co-locates
    them — the sort gains two tie-break columns and the scan drops
    repeats, zero extra shuffles (review r05: the first cut paid a
    second full window exchange for what is a no-op on unique-id
    corpora). The drop runs per carried batch of COMPLETE groups,
    which always holds every duplicate of its rows. Matches a SQL
    ``QUALIFY row_number() OVER (PARTITION BY key, received_at,
    event_key ORDER BY pct ASC NULLS LAST, name ASC NULLS LAST) = 1``.
    """
    from ._scan import group_bounds, group_carry_scan, pinned_partitions

    e = _fold_input(events, dim_media)
    keys = ["media_id", "visitor_id", "date"]
    legacy = legacy_percent_semantics
    dedup_subset = [*keys, "received_at", "event_key"]

    def fold_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        if dedup_event_rows:
            # rows arrive sorted (…, received_at, event_key, pct
            # nulls-last, name nulls-last), so keep-first == the
            # (pct, name)-least row
            pdf = pdf.drop_duplicates(subset=dedup_subset, ignore_index=True)
        return _fold_groups(pdf, group_bounds(pdf, keys), run_ts, legacy)

    def scan(batches):
        yield from group_carry_scan(batches, keys, fold_groups)

    # explicit partition count: a bare repartition(cols) exchange is
    # fair game for AQE coalescing, which at small SF collapses to ONE
    # partition and serializes the Python fold (see _scan.py)
    n_part = pinned_partitions(events)
    sort_cols: list = [*keys, "received_at", "event_key"]
    if dedup_event_rows:
        # nulls-last pinned explicitly: Spark defaults asc nulls FIRST
        # while the SQL QUALIFY twin is NULLS LAST
        sort_cols += [
            F.col("pct").asc_nulls_last(),
            F.col("event_name").asc_nulls_last(),
        ]
    return (
        e.repartition(n_part, *[F.col(k) for k in keys])
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(scan, FACT_OUTPUT_SCHEMA)
    )
