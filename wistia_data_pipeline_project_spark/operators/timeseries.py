"""Time-series regularization operators: per-key daily resampling with
gap fill and forward fill.

A training/telemetry pipeline consumes REGULAR series (one row per key
per day) but event streams are sparse; the resample operator densifies
each key's span and carries observations forward. Design:

- The day grid is GENERATED per key from its own (min, max) day — a
  narrow ``sequence`` + ``explode``, no calendar table join and no
  global grid (a key active for a week costs 7 rows, not the corpus
  span). Fan-out is bounded by Σ per-key spans.
- Gap rows join back to the sparse dailies with a co-partitioned left
  join on (key, day), then forward fill is one ``last(..,
  ignorenulls=True)`` window per key ordered by day — a single
  shuffle on the key, sort within key only over that key's days.
- All day arithmetic stays in ``date_trunc('day')`` timestamps (the
  catalog's cross-engine day convention), and the "value of the day"
  is the deterministic ``max_by(value, (ts, tiebreak))`` so both
  engines pick the same observation inside a day.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ._scan import group_bounds

# Decimal digits of summation room the quantized time-decay path
# reserves below decimal(38,q) capacity; windows with more than
# 10^DECAY_SUM_HEADROOM touch weights flag decay_overflow instead.
# Shared with the catalog oracle so both gates stay bit-identical.
DECAY_SUM_HEADROOM = 6


def decay_overflow_limit(quantize: int | None) -> float:
    """The per-row exponent bound (in halflife doublings) past which
    ``time_decay_attribution`` NULLs the weight and flags the window:
    2^900 for the double path, the decimal capacity minus
    ``DECAY_SUM_HEADROOM`` digits (and a -1 rounding-carry margin)
    when quantized. The catalog oracle interpolates this EXACT double
    so the SQL gate matches bit-for-bit."""
    if quantize is None:
        return 900.0
    return min(900.0, (38 - quantize - DECAY_SUM_HEADROOM) * math.log2(10) - 1.0)


def resample_daily_ffill(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """One row per (key, day) across each key's active span:
    ``n_events`` (0 on gap days) and ``value_ffill`` (the last
    observed day-closing value carried forward).

    Day-closing value = ``max_by(value, (ts, tiebreak))`` within the
    day — map-side combinable and deterministic under ties.
    """
    day = F.date_trunc("day", F.col(ts_col))
    daily = (
        df.groupBy(F.col(key_col), day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max_by(
                F.col(value_col), F.struct(ts_col, tiebreak_col)
            ).alias("_day_value"),
        )
    )
    bounds = daily.groupBy(key_col).agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    grid = bounds.select(
        key_col,
        F.explode(
            F.sequence("_d0", "_d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    filled = grid.join(daily, [key_col, "day"], "left")
    w = (
        W.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return filled.select(
        F.col(key_col),
        F.col("day"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("_day_value", ignorenulls=True).over(w).alias("value_ffill"),
    )


def last_touch_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    purchase_type: str = "purchase",
    lookback_days: int = 7,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-purchase last-touch attribution: for each ``purchase_type``
    event, the channel of the most recent strictly-earlier touch event
    by the same key within ``lookback_days``, else ``'organic'``.
    Returns one row per purchase: every input column plus
    (``channel``, ``lag_us`` — NULL for organic). Events must carry a
    unique ``event_id`` column (the total-order tiebreak). This is
    the pre-aggregation core of the ``events_attribution`` catalog
    entry, factored out so a pure-Python fold can property-test it
    (the watch-time pattern, ``fact.py``).

    The as-of argmax packs (epoch_us, channel code) into ONE BIGINT
    (``us*10 + code``, codes from position in ``touch_types``) so a
    single running MAX over the key window carries both the touch
    time and its channel: no argmax-struct (cross-engine ordering
    hazard), no self-join, and ties at the same microsecond resolve
    to the highest code in both engines. Requires
    ``len(touch_types) <= 9`` (one decimal digit of packing).

    Scale: one shuffle on the key shared with the whole window
    family; payload past the window is three narrow columns.
    """
    if not 1 <= len(touch_types) <= 9:
        raise ValueError("touch_types must carry 1..9 channels (one packed digit)")
    from pyspark.sql import Window as W

    us = F.unix_micros(F.col(ts_col))
    code = F.lit(None)
    for i, t in enumerate(touch_types):
        code = F.when(F.col(type_col) == t, i + 1).otherwise(code)
    packed = F.when(F.col(type_col).isin(*touch_types), us * 10 + code)
    w = (
        W.partitionBy(key_col)
        .orderBy(ts_col, "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    t = events.withColumn("_us", us).withColumn("_lt", F.max(packed).over(w))
    lookback_us = lookback_days * 86400000000
    # FLOOR-division decode (via pmod, exact on bigints): `div`
    # truncates toward zero, so a pre-1970 (negative epoch-micros)
    # packed value would decode to the wrong touch time AND the wrong
    # channel code; `(_lt - pmod(_lt,10)) div 10` floors for any sign
    # and matches the DuckDB oracle's `//`.
    lt_code = F.expr("pmod(_lt, 10)")
    touch_us = F.expr("(_lt - pmod(_lt, 10)) div 10")
    in_window = F.col("_lt").isNotNull() & (F.col("_us") - touch_us <= lookback_us)
    channel = F.lit("organic")
    for i, tname in enumerate(touch_types):
        channel = F.when(in_window & (lt_code == i + 1), tname).otherwise(channel)
    return t.filter(F.col(type_col) == purchase_type).select(
        *events.columns,
        channel.alias("channel"),
        F.when(in_window, F.col("_us") - touch_us).alias("lag_us"),
    )


def linear_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    purchase_type: str = "purchase",
    lookback_days: int = 7,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-purchase LINEAR multi-touch attribution: every touch by the
    same key in the ``lookback_days`` window strictly before the
    purchase shares the credit equally (1/k each); a purchase with no
    window touch is ``'organic'``. Returns one row per purchase per
    credited channel: every input column plus (``channel``,
    ``n_touches`` — that channel's touch count in the window,
    ``credit`` — n_touches/k_total, 1.0 for organic).

    Construction: NO purchase⋈touch join. Per-channel touch counts
    come from conditional COUNTs over a RANGE frame on the event-time
    axis (``rangeBetween(-lookback_us, -1)`` ordered by epoch
    micros) — the credit arithmetic is then a row-local integer
    division. The range frame is the natural Spark expression of "all
    touches in the trailing 7 days": one shuffle on the key, frame
    scan bounded by per-key window density. Credits are exact
    RATIONALS materialized as one integer/integer division per row —
    both engines divide the same two integers, so no float-sum order
    exists. (``time_decay_attribution`` rides the same frame via the
    2^((t−B)/h)·2^(−(p−B)/h) factorization.)

    Scale: RANGE frames sort within key like ROWS frames (same single
    exchange); a bot key with millions of window touches makes the
    frame scan quadratic in ITS OWN density only — the session-cap
    knob documented at events_session_paths applies.
    """
    if not touch_types:
        raise ValueError("touch_types must not be empty")
    from pyspark.sql import Window as W

    us = F.unix_micros(F.col(ts_col))
    lookback_us = lookback_days * 86400000000
    t = events.withColumn("_us", us)
    w = (
        W.partitionBy(key_col)
        .orderBy("_us")
        .rangeBetween(-lookback_us, -1)
    )
    counted = t.withColumns(
        {
            f"_k_{i}": F.count(
                F.when(F.col(type_col) == typ, F.lit(1))
            ).over(w)
            for i, typ in enumerate(touch_types)
        }
    )
    k_total = None
    for i in range(len(touch_types)):
        c = F.col(f"_k_{i}")
        k_total = c if k_total is None else k_total + c
    p = counted.filter(F.col(type_col) == purchase_type).withColumn(
        "_k_total", k_total
    )
    # ONE pass: explode a (k+1)-entry channel array and keep the live
    # rows with a codegen'd filter — k+1 union branches would re-scan
    # the window output per channel (and an F.filter HOF on the array
    # would run interpreted per purchase, the documented hot-path trap)
    base_cols = [*events.columns]
    entries = F.array(
        *[
            F.struct(
                F.lit(typ).alias("channel"),
                F.col(f"_k_{i}").alias("n_touches"),
            )
            for i, typ in enumerate(touch_types)
        ],
        F.struct(
            F.lit("organic").alias("channel"),
            F.lit(0).cast("long").alias("n_touches"),
        ),
    )
    exploded = p.select(
        *base_cols, "_k_total", F.explode(entries).alias("_e")
    ).filter(
        (F.col("_e.n_touches") > 0)
        | ((F.col("_e.channel") == "organic") & (F.col("_k_total") == 0))
    )
    return exploded.select(
        *base_cols,
        F.col("_e.channel").alias("channel"),
        F.col("_e.n_touches").alias("n_touches"),
        F.when(
            F.col("_e.channel") == "organic", F.lit(1.0)
        ).otherwise(
            F.col("_e.n_touches").cast("double") / F.col("_k_total")
        ).alias("credit"),
    )


def time_decay_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    purchase_type: str = "purchase",
    lookback_days: int = 7,
    halflife_hours: float = 24.0,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    quantize: int | None = None,
) -> DataFrame:
    """Per-purchase TIME-DECAY multi-touch attribution: each window
    touch carries weight 2^(−age/halflife); credits are the
    channel-weight shares. Same output shape as
    ``linear_attribution`` (``channel``, ``weight`` — the channel's
    decayed weight sum, ``credit``), 'organic' when no window touch.

    ``quantize``: round each touch weight w_t to that many decimals
    and run the window sums in DECIMAL(38,q) — double window sums
    have no pinned addition order across engines, so the hash-gated
    catalog entry needs the exact associative form (the
    ``docs_unigram_nll`` pattern). Bound: the decimal must hold the
    window SUM, not just each weight, so the per-row gate reserves 6
    digits of summation headroom — key activity spans up to
    ~(38-q-6)·log2(10) halflives (~85 doublings at q=6, ~2.8 months
    at halflife 24 h), paired with a window-count guard past 10^6
    touches — far tighter than the double path's 900 but generous
    for real attribution windows. Past-bound weights are NULLed
    BEFORE the cast — an out-of-range decimal cast throws under ANSI
    (the session default) and NULLs silently without it, where
    ``SUM`` would drop the touch from the credit shares with no
    signal — and the affected purchase rows flag ``decay_overflow``.

    The decay factorizes: 2^(−(p−t)/h) = 2^((t−B)/h) · 2^(−(p−B)/h)
    for any per-key constant B — and the second factor CANCELS in the
    credit normalization, so per-channel decayed sums are plain
    conditional window SUMs of w_t = 2^((t−B)/h) over the SAME range
    frame as the linear variant, with B = the key's first event time
    (one extra unbounded-window MIN, no join). The reported absolute
    ``weight`` re-applies the 2^(−(p−B)/h) factor row-locally.

    Numeric bound: exponents span (key activity span)/halflife
    doublings; beyond ~900 the weights overflow double (beyond the
    headroom-adjusted decimal capacity above when quantized). A
    purchase past the bound — which, because expo grows with time,
    is implied whenever ANY of its window touches is past bound —
    reports NULL credit/weight with ``decay_overflow = true`` on
    every emitted row, including the organic fallback (s_total
    degenerating to 0 because every touch overflowed must not
    masquerade as an organic purchase). Re-run those keys with a
    larger halflife, or pre-split their history. At halflife 24h the
    double bound is ~2.5 years of per-key history, the q=6 decimal
    bound ~2.8 months — generous for attribution windows.

    Scale: identical shuffle profile to ``linear_attribution`` (one
    key exchange shared by both windows).
    """
    if not touch_types:
        raise ValueError("touch_types must not be empty")
    from pyspark.sql import Window as W

    h_us = halflife_hours * 3600.0 * 1e6
    us = F.unix_micros(F.col(ts_col))
    lookback_us = lookback_days * 86400000000
    t = events.withColumn("_us", us)
    wk = W.partitionBy(key_col)
    t = t.withColumn("_b", F.min("_us").over(wk))
    expo = (F.col("_us") - F.col("_b")) / F.lit(h_us)
    raw_w = F.pow(F.lit(2.0), expo)
    # The window SUM is what must not overflow, not just each weight:
    # N in-capacity weights can sum past the decimal. Reserve
    # DECAY_SUM_HEADROOM decimal digits of summation room in the
    # per-row gate (decay_overflow_limit — decimal(38,q) holds
    # < 10^(38-q); an out-of-range value throws on the cast under
    # ANSI, the session default, or NULLs silently without it, where
    # SUM would skip the touch), and flag any window with more than
    # 10^DECAY_SUM_HEADROOM touch weights. Together these keep the
    # quantized path crash-free and flagged for any window of up to
    # 10^6 touch rows; beyond that count AND near-max weights both
    # engines raise on the sum itself (the aggregate evaluates
    # before any flag can suppress it) — a regime no real
    # attribution window approaches.
    overflow_limit = decay_overflow_limit(quantize)
    overflow = expo > F.lit(overflow_limit)
    if quantize is not None:
        qd = f"decimal(38,{quantize})"
        # cast only in-capacity weights: past-bound rows carry NULL
        # and are accounted for via the _overflow_row flag instead
        raw_w = F.when(~overflow, F.round(raw_w, quantize).cast(qd))
        zero = F.lit(0).cast(qd)
        neg_one = F.lit(-1).cast(qd)
    else:
        # double's finite range ends at 2^1024; capping rows at 2^900
        # leaves 2^124 of summation headroom — no count can reach it.
        # NULL past-bound weights here too: 2^expo would reach inf
        # and poison the window sums with inf/NaN arithmetic instead
        # of the flagged-NULL contract
        raw_w = F.when(~overflow, raw_w)
        zero = F.lit(0.0)
        neg_one = F.lit(-1.0)
    t = t.withColumn("_w", raw_w).withColumn("_overflow_row", overflow)
    w = W.partitionBy(key_col).orderBy("_us").rangeBetween(-lookback_us, -1)
    sums = {
        f"_s_{i}": F.sum(
            F.when(F.col(type_col) == typ, F.col("_w"))
        ).over(w)
        for i, typ in enumerate(touch_types)
    }
    # The purchase row's OWN gate subsumes a per-touch window check:
    # expo is strictly increasing in _us within a key and every frame
    # row precedes the purchase, so a past-bound touch implies a
    # past-bound purchase — no windowed any-overflow aggregate needed.
    bad = F.col("_overflow_row")
    if quantize is not None:
        # decimal-SUM safety only (the double path has 2^124 of
        # summation headroom and needs no count guard): count the
        # frame's summed TOUCH weights — non-touch rows never enter
        # a sum — and flag past the reserved headroom. Conservative
        # on magnitude (10^6 small weights can't overflow either),
        # which errs toward flagging, never toward a wrong credit.
        sums["_n_win"] = F.count(
            F.when(F.col(type_col).isin(*touch_types), F.col("_w"))
        ).over(w)
        bad = bad | (F.col("_n_win") > F.lit(10 ** DECAY_SUM_HEADROOM))
    counted = t.withColumns(sums)
    s_total = None
    for i in range(len(touch_types)):
        c = F.coalesce(F.col(f"_s_{i}"), zero)
        s_total = c if s_total is None else s_total + c
    p = counted.filter(F.col(type_col) == purchase_type).withColumn(
        "_s_total", s_total
    )
    unscale = F.pow(F.lit(2.0), -(F.col("_us") - F.col("_b")) / F.lit(h_us))
    # single-pass explode + codegen filter (see linear_attribution)
    base_cols = [*events.columns]
    entries = F.array(
        *[
            F.struct(
                F.lit(typ).alias("channel"),
                F.coalesce(F.col(f"_s_{i}"), zero).alias("s"),
            )
            for i, typ in enumerate(touch_types)
        ],
        F.struct(F.lit("organic").alias("channel"), neg_one.alias("s")),
    )
    exploded = p.select(
        *base_cols,
        "_s_total",
        "_us",
        "_b",
        bad.alias("_bad"),
        F.explode(entries).alias("_e"),
    ).filter(
        (F.col("_e.s") > 0)
        | ((F.col("_e.channel") == "organic") & (F.col("_s_total") == 0))
    )
    is_org = F.col("_e.channel") == "organic"
    # explicit double casts: in the quantized path s/s_total are
    # decimals, and the credit must be ONE double/double division of
    # bit-identical operands in every engine (decimal division has
    # engine-specific scale rules)
    s_d = F.col("_e.s").cast("double")
    st_d = F.col("_s_total").cast("double")
    null_d = F.lit(None).cast("double")
    return exploded.select(
        *base_cols,
        F.col("_e.channel").alias("channel"),
        # _bad first: a window containing ANY past-bound touch (or a
        # past-bound purchase row) must not report numbers — not even
        # the organic fallback, which a fully-overflowed window (all
        # touch sums NULLed to 0) would otherwise masquerade as
        F.when(F.col("_bad"), null_d)
        .when(is_org, F.lit(0.0))
        .otherwise(s_d * unscale)
        .alias("weight"),
        F.when(F.col("_bad"), null_d)
        .when(is_org, F.lit(1.0))
        .otherwise(s_d / st_d)
        .alias("credit"),
        F.col("_bad").alias("decay_overflow"),
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """LOCF time-weighted average per key (the TimescaleDB
    ``time_weight('LOCF', ...)`` operator): each observation's value is
    held until the NEXT observation, so the average is the integral of
    the step function over the key's span divided by the span. Distinct
    from a plain AVG (which ignores how long each value was in effect)
    and from the daily resample (which regularizes to a fixed grid).

    Output per key: ``n_events`` (all observations, NULL-valued
    included), ``span_us`` (microseconds covered by segments with a
    DEFINED LOCF value — first non-NULL observation to last
    observation; NULL for keys with no such segment), ``twa`` (NULL
    when the span is zero or undefined).

    NULL handling (true LOCF): a NULL-valued observation anchors a
    segment but carries NO new value — the previous non-NULL value
    holds across it (``last(value, ignorenulls=True)`` over the same
    window partitioning, no extra shuffle). Segments BEFORE the
    key's first non-NULL observation have no defined value and are
    excluded from both the weighted sum and the span denominator —
    the alternative (counting their duration with zero weight) would
    silently average in value 0, which is not LOCF.

    Determinism: segment durations are exact integer microseconds from
    ``unix_micros`` over the total order ``(ts, tiebreak)`` — duplicate
    timestamps are ordered identically in both engines, and a
    zero-length segment contributes nothing regardless. Values are
    2-decimal by the data contract and are scaled to INTEGER cents
    before the ``cents × dt_us`` sum: the sum stays an integer-valued
    DECIMAL(38,0), whose double cast is correctly rounded in BOTH
    engines (a fractional decimal→double cast is NOT — DuckDB divides
    the int128 by 10^scale in floating point, a second rounding the
    JVM's conversion doesn't take), and the trailing ``/ span / 100.0``
    is two bit-identical IEEE ops.

    Scale: one shuffle on the key, sort within key (the watch-time fold
    family's shape); the aggregate is a map-side-combinable sum over
    the lead-segment rows. No grid fan-out — cost is O(events).
    """
    w = W.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    seg = (
        df.select(key_col, ts_col, tiebreak_col, value_col)
        .withColumn(
            "_dt_us",
            F.unix_micros(F.lead(ts_col).over(w))
            - F.unix_micros(F.col(ts_col)),
        )
        .withColumn(
            "_v_locf",
            F.last(value_col, ignorenulls=True).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )
    cents = (F.col("_v_locf").cast("decimal(12,2)") * 100).cast(
        "decimal(18,0)"
    )
    wsum = F.sum(cents * F.col("_dt_us"))
    # span counts only segments whose LOCF value is defined — after
    # the first non-NULL observation _v_locf is always set, so this
    # only trims the leading-NULL prefix
    span = F.sum(F.when(F.col("_v_locf").isNotNull(), F.col("_dt_us")))
    return seg.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        span.cast("long").alias("span_us"),
        F.when(
            span > 0, wsum.cast("double") / span.cast("double") / F.lit(100.0)
        ).alias("twa"),
    )


def open_interval_backlog(
    intervals: DataFrame,
    open_col: str = "open_d",
    close_col: str = "close_d",
) -> DataFrame:
    """Per-day count of open intervals (orders in flight, sessions
    active, tickets unresolved) via the sweep-line delta trick: +1 on
    the open day, −1 the day AFTER the close day, then a running sum
    over the distinct delta days. An interval is open on day d iff
    ``open_d <= d <= close_d``.

    Output: one row per day carrying a delta — ``n_opened`` (intervals
    opening that day), ``n_expired`` (intervals whose open range ended
    the previous day), ``open_backlog`` (running count).

    NULL handling: a NULL ``close_col`` means STILL OPEN — the
    interval contributes its +1 but never expires (the natural
    semantics for unresolved tickets / live sessions; without this
    the NULL expiry day would sort FIRST in the running-sum window
    and silently understate every real day's backlog). Rows with a
    NULL ``open_col`` carry no information and are dropped.

    Scale: this is the range-join-avoidance pattern — the naive
    formulation joins intervals against a calendar on an inequality
    (O(intervals × days) expansion); the sweep-line reduces it to one
    map-side-combinable aggregate over 2×intervals delta rows plus a
    running-sum window over DISTINCT DAYS ONLY. That final window is
    unpartitioned, but its input is the day domain (thousands of rows
    at any corpus size), not the interval table — the single-partition
    sort is bounded and intentional.
    """
    intervals = intervals.filter(F.col(open_col).isNotNull())
    opens = intervals.select(
        F.col(open_col).alias("day"),
        F.lit(1).alias("_opened"),
        F.lit(0).alias("_expired"),
    )
    exps = intervals.filter(F.col(close_col).isNotNull()).select(
        F.date_add(close_col, 1).alias("day"),
        F.lit(0).alias("_opened"),
        F.lit(1).alias("_expired"),
    )
    daily = (
        opens.unionByName(exps)
        .groupBy("day")
        .agg(
            F.sum("_opened").alias("n_opened"),
            F.sum("_expired").alias("n_expired"),
        )
    )
    run = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day",
        F.col("n_opened").cast("long").alias("n_opened"),
        F.col("n_expired").cast("long").alias("n_expired"),
        F.sum(F.col("n_opened") - F.col("n_expired"))
        .over(run)
        .cast("long")
        .alias("open_backlog"),
    )


def concurrency_from_segments(segs: DataFrame) -> DataFrame:
    """Per-day interval-overlap concurrency rollup over day-clipped
    session segments ``(user_id, day, cs, ce)`` — the sweep-line /
    two-level parallel-prefix half of ``events_session_concurrency``,
    extracted so the BATCH catalog entry and the STREAMING twin's
    stateless consumer run the SAME implementation (the shared-Holt-
    fold discipline: parity by construction, not by parallel copies).

    Contract: ``day`` is the epoch-day integer, ``[cs, ce)`` the
    segment's half-open microsecond range already clipped to the day
    (``cs >= day*86400e6``, ``ce <= (day+1)*86400e6``), one row per
    (session, day) — exactly what the batch sessionizer and the
    streaming twin's finalized emissions both produce.

    Scale: see ``events_session_concurrency`` — level-1 sweeps per
    (day, hour) bucket, level-2 carry over the tiny (day, hr) set; no
    global ordered window at any scale.
    """
    day_us = F.lit(86400000000)
    # one pass over segments: explode each into its +1 start / -1 end
    # instants (NOT a self-union — the union would rebuild the whole
    # upstream lineage per branch; post-explode, both consumers below
    # share one identical subtree and Spark reuses its exchange)
    inst = segs.select(
        "user_id",
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.col("cs").alias("t"),
                    F.lit(1).alias("s"),
                    F.lit(0).alias("en"),
                ),
                F.struct(
                    F.col("ce").alias("t"),
                    F.lit(0).alias("s"),
                    F.lit(1).alias("en"),
                ),
            )
        ).alias("ev"),
    ).select("user_id", "day", "ev.t", "ev.s", "ev.en")
    coll = inst.groupBy("day", "t").agg(
        F.sum("s").alias("st"), F.sum("en").alias("en")
    )
    # level 1: independent sweep per (day, hour-of-day bucket); ends
    # clipped to the day boundary land in bucket 24
    coll = coll.withColumn(
        "hr", (F.col("t") - F.col("day") * day_us) / F.lit(3600000000)
    ).withColumn("hr", F.col("hr").cast("long"))
    wb = W.partitionBy("day", "hr").orderBy("t").rowsBetween(
        W.unboundedPreceding, 0
    )
    local = (
        coll.withColumn("run", F.sum(F.col("st") - F.col("en")).over(wb))
        .groupBy("day", "hr")
        .agg(
            F.sum(F.col("st") - F.col("en")).alias("net"),
            F.max(F.col("run") + F.col("en")).alias("local_peak"),
        )
    )
    # level 2: carry-in per bucket over the tiny collapsed (day, hr) set
    wc = W.partitionBy("day").orderBy("hr").rowsBetween(
        W.unboundedPreceding, -1
    )
    pk = (
        local.withColumn(
            "carry", F.coalesce(F.sum("net").over(wc), F.lit(0))
        )
        .groupBy("day")
        .agg(
            F.max(F.col("carry") + F.col("local_peak")).alias(
                "peak_concurrent"
            )
        )
    )
    # day aggregates from the SAME instant stream (busy time telescopes:
    # sum(ce - cs) = sum over instants of t * (en - s))
    ag = inst.groupBy("day").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            (F.col("t") * (F.col("en") - F.col("s"))).cast("decimal(38,0)")
        ).alias("busy_us"),
    )
    return ag.join(pk, "day").select(
        F.timestamp_micros(F.col("day") * day_us).alias("day"),
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("peak_concurrent").cast("long").alias("peak_concurrent"),
        (F.col("busy_us").cast("double") / F.lit(1000000.0)).alias(
            "busy_seconds"
        ),
        (F.col("busy_us").cast("double") / F.lit(86400000000.0)).alias(
            "avg_concurrency"
        ),
    )


def counter_delta(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Reset-aware counter aggregation per key (the TimescaleDB
    ``counter_agg`` / PromQL ``increase`` operator): readings are
    samples of a monotone counter that occasionally RESETS to zero
    (process restart); the true growth over the span is the sum of
    per-step increases where a step that goes DOWN is a reset and
    contributes the new reading (counting from the implied zero).

    Output per key: ``n_samples``, ``n_resets`` (down-steps),
    ``delta`` (total reset-adjusted growth), ``first_reading``,
    ``last_reading`` — so ``delta - (last - first)`` is exactly the
    mass restored by resets, a standard counter sanity invariant.

    The first sample per key anchors the series and contributes no
    increase (its prior value is unobserved — TimescaleDB makes the
    same choice; assuming an implied zero would mint phantom growth
    equal to the first reading).

    Determinism: readings are 2-decimal by the data contract and are
    scaled to INTEGER cents before any sum — the running total stays
    an integer-valued DECIMAL whose double cast is correctly rounded
    in both engines (the time_weighted_avg rule); the per-key order
    is the total order ``(ts, tiebreak)``.

    Scale: one shuffle on the key + sort within key (lag-1 window),
    then a map-side-combinable aggregate — the watch-time fold shape;
    no state beyond the lag row, no grid fan-out.
    """
    w = W.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    cents = (F.col(val_col).cast("decimal(12,2)") * 100).cast(
        "decimal(18,0)"
    )
    stepped = df.select(
        key_col, ts_col, tiebreak_col, cents.alias("_cents")
    ).withColumn("_prev", F.lag("_cents").over(w))
    inc = F.when(F.col("_prev").isNull(), F.lit(0)).when(
        F.col("_cents") >= F.col("_prev"), F.col("_cents") - F.col("_prev")
    ).otherwise(F.col("_cents"))
    is_reset = (
        F.col("_prev").isNotNull() & (F.col("_cents") < F.col("_prev"))
    ).cast("long")
    return stepped.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(is_reset).cast("long").alias("n_resets"),
        (
            F.sum(inc.cast("decimal(38,0)")).cast("double") / F.lit(100.0)
        ).alias("delta"),
        (
            F.min_by("_cents", F.struct(ts_col, tiebreak_col)).cast("double")
            / F.lit(100.0)
        ).alias("first_reading"),
        (
            F.max_by("_cents", F.struct(ts_col, tiebreak_col)).cast("double")
            / F.lit(100.0)
        ).alias("last_reading"),
    )


def state_durations(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Time-in-state per (key, state) (the TimescaleDB ``state_agg``
    hyperfunction): each observation holds its state until the key's
    NEXT observation (LOCF on the state column); the last observation
    has no defined end and contributes no duration — the same
    open-interval convention as ``time_weighted_avg``'s span.

    Output per (key, state): ``n_entries`` (observations that entered
    the state, the last open one included), ``held_us`` (total
    microseconds the state was held; 0 when only the open tail entered
    it).

    Determinism: durations are exact integer microseconds over the
    total order ``(ts, tiebreak)``; no doubles anywhere.

    Scale: one shuffle on the key for the lead-1 window, then a
    map-side-combinable aggregate keyed (key, state) — output is
    |keys| x |states| rows regardless of event volume.
    """
    w = W.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    seg = df.select(key_col, ts_col, tiebreak_col, state_col).withColumn(
        "_dur_us",
        F.unix_micros(F.lead(ts_col).over(w)) - F.unix_micros(F.col(ts_col)),
    )
    return seg.groupBy(key_col, state_col).agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.coalesce(F.sum("_dur_us"), F.lit(0)).cast("long").alias("held_us"),
    )


def ohlc_bars(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("event_type",),
    bucket_col: str = "bar_day",
    ts_col: str = "ts",
    val_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Open/high/low/close bars per (key, bucket) (the TimescaleDB
    ``ohlc`` / candlestick rollup). Open/close are the first/last
    readings by the total order ``(ts, tiebreak)``; high/low are
    max/min with DETERMINISTIC value ties (the reading values
    themselves — no row identity leaks into the output).

    Determinism: every output is a PICKED reading (``min_by`` /
    ``max_by`` on the total order) or a plain min/max — no summation,
    so raw doubles round-trip exactly through both engines.

    Scale: one map-side-combinable aggregate keyed (key, bucket);
    min_by/max_by partials carry one (value, order-key) pair per
    group per mapper. No window, no sort.
    """
    ordk = F.struct(ts_col, tiebreak_col)
    return df.groupBy(*key_cols, bucket_col).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.min_by(val_col, ordk).alias("open"),
        F.max(val_col).alias("high"),
        F.min(val_col).alias("low"),
        F.max_by(val_col, ordk).alias("close"),
    )


def m4_downsample(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    tiebreak_col: str = "event_id",
    n_buckets: int = 100,
) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB'14): split each
    key's span into ``n_buckets`` equal-width time buckets and keep,
    per bucket, the four error-free extrema a pixel-perfect line
    rendering needs — first/last (by time) and min/max (by value) —
    instead of shipping every point to the client.

    Bucket assignment uses each key's own (min, max) timestamp: index
    = (ts - min) * n div (max - min + 1) in PURE integer microsecond
    arithmetic (the +1 makes the right edge land in bucket n-1
    without a conditional). Integer ``div``, never a double divide +
    floor: a multi-year span times n exceeds 2^52 microseconds, where
    the rounded double can land on the wrong side of an integer and
    the two engines' floors silently diverge. A single-point key
    degenerates to bucket 0.

    Value ties inside a bucket resolve by the reading value itself for
    min/max and by the total order ``(ts, tiebreak)`` for first/last —
    all four are PICKED readings, no summation, so doubles are exact.

    Scale: the span table is |keys| rows (map-side-combinable min/max)
    joined back broadcast; the bucket rollup is one combinable
    aggregate keyed (key, bucket) — output 4 points x n_buckets x
    |keys| at ANY corpus size, the whole point of M4.
    """
    spans = df.groupBy(key_col).agg(
        F.min(F.unix_micros(F.col(ts_col))).alias("_t0"),
        (F.max(F.unix_micros(F.col(ts_col))) + 1).alias("_t1"),
    )
    bucketed = (
        df.join(F.broadcast(spans), key_col)
        .withColumn(
            "_off", F.unix_micros(F.col(ts_col)) - F.col("_t0")
        )
        .withColumn(
            "bucket",
            F.expr(f"(_off * {int(n_buckets)}) div (_t1 - _t0)").cast(
                "long"
            ),
        )
    )
    ordk = F.struct(ts_col, tiebreak_col)
    return bucketed.groupBy(key_col, "bucket").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min_by(val_col, ordk).alias("first_v"),
        F.max_by(val_col, ordk).alias("last_v"),
        F.min(val_col).alias("min_v"),
        F.max(val_col).alias("max_v"),
    )


def interpolate_daily(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Linear interpolation onto a daily grid (the TimescaleDB
    ``interpolate`` gapfill mode — the LOCF resampler's sibling):
    per key, days WITH observations carry that day's value; days
    between two observed days carry the linear blend; days outside
    the observed range are absent (no extrapolation).

    The day value is the deterministic LAST reading of the day by
    ``(ts, tiebreak)`` — the same pick as ``resample_daily_ffill`` —
    and the grid is generated per key from its own (min, max) observed
    day (no calendar join, fan-out = Σ per-key spans).

    Determinism: readings are scaled to integer cents; an interpolated
    day is the exact rational ``(prev_cents*(next_d - d) +
    next_cents*(d - prev_d)) / (next_d - prev_d)`` evaluated as ONE
    double division of two exact integers (numerator < 2^52 for any
    2-decimal reading under 10^7 and gap under 10^3 days) followed by
    the /100 descale — two bit-identical IEEE ops in both engines; no
    decimal division (whose rounding rules the engines do NOT share).

    Scale: dailies collapse to |keys| x |days| rows map-side; the
    spine explode, the two LOCF/NOCB windows, and the final join are
    all keyed on ``key_col`` — one shuffle family, sort within key
    over that key's days only.
    """
    day = F.date_trunc("DAY", F.col(ts_col))
    dailies = (
        df.select(key_col, ts_col, tiebreak_col, val_col)
        .groupBy(key_col, day.alias("day"))
        .agg(
            (
                F.max_by(
                    (F.col(val_col).cast("decimal(12,2)") * 100).cast(
                        "decimal(18,0)"
                    ),
                    F.struct(ts_col, tiebreak_col),
                )
            ).alias("_cents"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
    spine = (
        dailies.groupBy(key_col)
        .agg(F.min("day").alias("_d0"), F.max("day").alias("_d1"))
        .select(
            key_col,
            F.explode(
                F.sequence("_d0", "_d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    w = W.partitionBy(key_col).orderBy("day")
    grid = (
        spine.join(dailies, [key_col, "day"], "left")
        .withColumn("_dnum", F.datediff("day", F.lit("1970-01-01")))
        .withColumn(
            "_pc",
            F.last("_cents", ignorenulls=True).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .withColumn(
            "_pd",
            F.last(
                F.when(F.col("_cents").isNotNull(), F.col("_dnum")),
                ignorenulls=True,
            ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .withColumn(
            "_nc",
            F.first("_cents", ignorenulls=True).over(
                w.rowsBetween(W.currentRow, W.unboundedFollowing)
            ),
        )
        .withColumn(
            "_nd",
            F.first(
                F.when(F.col("_cents").isNotNull(), F.col("_dnum")),
                ignorenulls=True,
            ).over(w.rowsBetween(W.currentRow, W.unboundedFollowing)),
        )
    )
    num = F.col("_pc") * (F.col("_nd") - F.col("_dnum")) + F.col("_nc") * (
        F.col("_dnum") - F.col("_pd")
    )
    interp = F.when(
        F.col("_cents").isNotNull(), F.col("_cents").cast("double")
    ).otherwise(
        num.cast("double") / (F.col("_nd") - F.col("_pd")).cast("double")
    )
    return grid.select(
        key_col,
        "day",
        F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
        (interp / F.lit(100.0)).alias("value"),
        (F.col("_cents").isNull()).alias("interpolated"),
    )


def heartbeat_uptime(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tolerance_us: int = 300_000_000,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Union-of-intervals liveness per key (the TimescaleDB
    ``heartbeat_agg`` hyperfunction): each heartbeat asserts liveness
    for ``[ts, ts + tolerance)``; uptime is the length of the UNION of
    those intervals — overlaps never double-count. Because the
    intervals are uniform-width and processed in time order, the union
    telescopes to a per-row sum: a non-last beat contributes
    ``min(next_ts - ts, tolerance)``, the last beat contributes
    ``tolerance`` — no gaps-and-islands grouping pass needed for the
    LENGTH (islands are still counted: a break is a step whose gap
    exceeds the tolerance).

    Output per key: ``n_beats``, ``uptime_us`` (union length),
    ``n_islands`` (maximal live stretches), ``span_us`` (first beat →
    last beat + tolerance — the window the key could have covered) and
    ``coverage`` (uptime/span, one exact-integer double division).

    Determinism: exact integer microseconds on the total order
    ``(ts, tiebreak)``; duplicate timestamps contribute zero-length
    steps. The one double division divides two exact integers.

    Scale: one key shuffle + lead-1 window + combinable aggregate —
    O(events), no interval join, no grid.
    """
    w = W.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    us = F.unix_micros(F.col(ts_col))
    tol = F.lit(int(tolerance_us))
    seg = df.select(key_col, ts_col, tiebreak_col).withColumn(
        "_gap_us", F.unix_micros(F.lead(ts_col).over(w)) - us
    )
    live = F.when(
        F.col("_gap_us").isNotNull(), F.least(F.col("_gap_us"), tol)
    ).otherwise(tol)
    brk = (
        F.col("_gap_us").isNotNull() & (F.col("_gap_us") > tol)
    ).cast("long")
    uptime = F.sum(live)
    span = (
        F.max(F.unix_micros(F.col(ts_col)))
        - F.min(F.unix_micros(F.col(ts_col)))
        + tol
    )
    return seg.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_beats"),
        uptime.cast("long").alias("uptime_us"),
        (F.sum(brk) + 1).cast("long").alias("n_islands"),
        span.cast("long").alias("span_us"),
        (uptime.cast("double") / span.cast("double")).alias("coverage"),
    )


def ewma_last(
    df: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
    cents_col: str = "cents",
    trunc_bits: int = 24,
) -> DataFrame:
    """Exponentially smoothed daily total per key (alpha = 1/2 — the
    halving EWMA a monitoring pipeline keeps next to raw daily
    rollups; pandas ``ewm(alpha=.5)`` over the observed days, gaps
    ignored): with per-day totals x_1..x_n on the key's day order,

        ewma_1 = x_1;  ewma_i = x_i/2 + ewma_{i-1}/2

    so ewma_n = 2^-(n-1)*x_1 + sum_{i>=2} 2^-(n-i+1)*x_i — every
    weight an exact power of two. Terms older than ``trunc_bits``
    halvings (relative weight < 2^-24 ~ 6e-8) are truncated to ZERO by
    declaration, which makes the whole sum exact integer arithmetic:
    each kept term is x_i (integer cents, DECIMAL) times the integer
    2^(trunc_bits - exponent), summed in DECIMAL(38,0), with ONE final
    IEEE division by 2^trunc_bits * 100 — no double summation order
    anywhere, so the oracle replays it bit-for-bit. (The quantized
    ``time_decay_attribution`` needed ROUND-to-decimal because its
    weights 2^(t/h) are non-integer reals; the observation-indexed
    EWMA's weights are dyadic, so truncation alone buys exactness.)

    Output per key: ``n_days``, ``last_day``, ``last_total`` (the
    final day's raw total), ``ewma`` (the smoothed total at the last
    day).

    Scale: daily pre-agg first (map-combinable, rows collapse to
    key x days), then ONE key shuffle shared by the row_number
    window and the final combinable aggregate — O(events) with the
    window over the already-collapsed daily rows. No grid fan-out, no
    recursion: the closed form replaces the sequential fold.
    """
    daily = df.groupBy(key_col, day_col).agg(
        F.sum(F.col(cents_col)).cast("decimal(28,0)").alias("_x")
    )
    wo = W.partitionBy(key_col).orderBy(day_col)
    wk = W.partitionBy(key_col)
    r = (
        daily.withColumn("_rn", F.row_number().over(wo))
        .withColumn("_n", F.count(F.lit(1)).over(wk))
    )
    # halving exponent: first observation decays (n-1) times, every
    # later one (n-i+1); n = 1 degenerates to exponent 0 (ewma = x_1)
    ex = F.when(F.col("_rn") == 1, F.col("_n") - 1).otherwise(
        F.col("_n") - F.col("_rn") + 1
    )
    # 2^(trunc_bits - ex) is an exact integer-valued double for
    # ex <= trunc_bits; the decimal cast is exact
    wgt = F.when(
        ex <= F.lit(trunc_bits),
        F.pow(F.lit(2.0), F.lit(trunc_bits) - ex).cast("decimal(18,0)"),
    ).otherwise(F.lit(0).cast("decimal(18,0)"))
    scale = float(2**trunc_bits) * 100.0
    return r.groupBy(key_col).agg(
        F.max("_n").cast("long").alias("n_days"),
        F.max(F.col(day_col)).alias("last_day"),
        (
            F.max(F.struct(F.col(day_col), F.col("_x")))["_x"].cast(
                "double"
            )
            / F.lit(100.0)
        ).alias("last_total"),
        (
            F.sum(F.col("_x") * wgt).cast("double") / F.lit(scale)
        ).alias("ewma"),
    )


# Holt fold constants, shared with the catalog oracle so the two
# engines stay bit-identical: the fold keeps at most the key's last
# HOLT_MAX_OBS observed days (warm-started at the window head), and
# daily totals clamp to +-HOLT_CLAMP_CENTS BY DECLARATION. Bounds the
# clamp buys (|l_t|, |b_t| <= t * X cents unscaled, so the scaled
# state |L_t| <= t * X * 4^t):
#   - integer state <= 24 * 1e9 * 4^24 ~ 6.7e24 — 13+ digits of
#     int128 headroom in the oracle's HUGEINT fold;
#   - output micros <= 24 * 1e9 / 100 * 1e6 = 2.4e14 < 2^53, so the
#     final int->double conversion is EXACT (no rounding, no
#     half-ULP tie: DuckDB's HUGEINT->DOUBLE cast and Python's
#     float(int) disagree on negative ties, measured in round 9).
HOLT_MAX_OBS = 24
HOLT_CLAMP_CENTS = 10**9


def _halfup(n: int, d: int) -> int:
    """floor(n/d) + [2*floormod(n,d) >= d] — the declared HALF-UP
    integer quantization, matching the oracle's floormod construction
    (Python divmod floors)."""
    q, rem = divmod(n, d)
    return q + (1 if 2 * rem >= d else 0)


def holt_fold_xs(xs, on_step=None):
    """THE exact dyadic-integer Holt fold (see ``holt_linear`` for the
    derivation). Single definition shared by ``holt_linear``,
    ``holt_backtest`` and the streaming twin
    (``streaming.pipeline._holt_fold``) — the documented bit-parity
    guarantee across all three surfaces holds because they all call
    this one function.

    ``xs``: the key's clamped daily-total cents in observed-day order.
    Returns micro-dollar-quantized ``(level, trend, forecast)``
    doubles. ``on_step(forecast_micro_int, actual_micro_int)``, when
    given, fires once per transition t=2..m BEFORE the state update
    with the one-step-ahead forecast and the actual, both as EXACT
    micro-dollar integers (the backtest consumer).
    """
    L, B, p = 4 * xs[0], 0, 4  # p = 4^t carried alongside the state
    for t in range(2, len(xs) + 1):
        if on_step is not None:
            on_step(_halfup((L + B) * 10**4, p), xs[t - 1] * 10**4)
        x_hat = xs[t - 1] * p  # x_t * 4^(t-1)
        L, B = 2 * x_hat + 2 * L + 2 * B, x_hat - L + 3 * B
        p *= 4

    def micro(v):
        # halfup(v * 10^4, p): v/(p*100) dollars at micro resolution
        return float(_halfup(v * 10**4, p)) / 1e6

    return micro(L), micro(B), micro(L + B)


def _holt_prepared(
    df: DataFrame,
    key_col: str,
    day_col: str,
    cents_col: str,
    max_obs: int,
    with_meta: bool = True,
) -> DataFrame:
    """Shared fit/backtest input prep: daily pre-agg (map-side
    combine), +-1e9-cent clamp, last-``max_obs``-observed-days window,
    observed-day rank ``_rn``. ``with_meta`` adds the day column and
    the total-day-count window ``_n`` the FIT surface reports; the
    backtest passes False and skips that count aggregate plus two
    columns through the key shuffle and every Arrow batch."""
    daily = df.groupBy(key_col, day_col).agg(
        F.sum(F.col(cents_col)).cast("decimal(38,0)").alias("_x0")
    )
    clamp = F.lit(HOLT_CLAMP_CENTS).cast("decimal(38,0)")
    daily = daily.withColumn(
        "_x", F.greatest(F.least(F.col("_x0"), clamp), -clamp)
    )
    wk = W.partitionBy(key_col)
    r = daily.withColumn(
        "_rd", F.row_number().over(wk.orderBy(F.col(day_col).desc()))
    )
    if with_meta:
        r = r.withColumn("_n", F.count(F.lit(1)).over(wk))
    r = r.filter(F.col("_rd") <= max_obs).withColumn(
        "_rn", F.row_number().over(wk.orderBy(F.col(day_col)))
    )
    cols = (
        [key_col, day_col, "_x", "_rn", "_n"]
        if with_meta
        else [key_col, "_x", "_rn"]
    )
    return r.select(*cols)


def _holt_scan(
    prepared: DataFrame, key_col: str, fold_groups, out_schema: str
) -> DataFrame:
    """Shared physical plan tail: pinned-width key repartition,
    within-partition (key, _rn) sort, one ``mapInPandas`` pass with
    the group-carry iterator (``_scan.group_carry_scan``)."""
    from ._scan import group_carry_scan, pinned_partitions

    def scan(batches):
        yield from group_carry_scan(batches, [key_col], fold_groups)

    return (
        prepared.repartition(pinned_partitions(prepared), F.col(key_col))
        .sortWithinPartitions(key_col, "_rn")
        .mapInPandas(scan, out_schema)
    )


def holt_linear(
    df: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
    cents_col: str = "cents",
    max_obs: int = HOLT_MAX_OBS,
) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing of per-key
    daily totals with alpha = beta = 1/2 — the trend-aware sibling of
    ``ewma_last`` (Holt-Winters family, no seasonality; reference
    north-star rollup ``/root/reference/process_wistia_data_v2.py:402``
    generalized the same way as the counter/EWMA entries). With daily
    totals x_1..x_m on the key's observed-day order::

        l_1 = x_1                ;  b_1 = 0
        l_t = (x_t + l_{t-1} + b_{t-1}) / 2
        b_t = (l_t - l_{t-1}) / 2 + b_{t-1} / 2

    Outputs the final level, trend and one-step forecast (l + b).

    Determinism: alpha = beta = 1/2 makes every state a DYADIC
    rational — scale step t by 4^t and the recurrence is pure integer
    arithmetic::

        L_t = 2 * x_t * 4^(t-1) + 2 * L_{t-1} + 2 * B_{t-1}
        B_t =     x_t * 4^(t-1) -     L_{t-1} + 3 * B_{t-1}

    The fold runs in arbitrary-precision ints (Python) / HUGEINT
    (the DuckDB oracle). Outputs quantize to MICRO-dollars by an
    exact integer division with declared HALF-UP ties::

        level_micro = halfup(L * 10^4, 4^m)     # L/(4^m * 100) * 1e6

    where halfup(n, d) = floor(n/d) + [2 * floormod(n, d) >= d] —
    pure integer arithmetic in both engines (no closed form exists
    here: the Holt transition matrix has complex eigenvalues
    5/8 +- i*sqrt(7)/8, so the sequential fold is irreducible).
    Three declarations bound the integers: only the last ``max_obs``
    observed days fold (warm-start l = x, b = 0 at the window head),
    daily totals clamp to +-1e9 cents, and outputs are micro-dollar
    quantized. The clamp keeps every output micro-int < 2^53, so the
    final int->double conversion is exact and the one division by
    1e6 is a single identically-rounded IEEE op on both engines
    (a raw big-int->double cast is NOT cross-engine safe: DuckDB's
    HUGEINT cast rounds negative half-ULP ties toward zero where
    Python rounds half-even — measured, round 9).

    Scale: daily pre-agg collapses events map-side to key x days; ONE
    key shuffle serves the ordering window and the fold. The fold is
    the PARTITION-SCAN formulation (``fact_media_engagement_fold_scan``
    precedent): repartition-by-key + sortWithinPartitions + one
    ``mapInPandas`` pass slicing contiguous <= max_obs-row groups out
    of each Arrow batch — grouped-map ``applyInPandas`` materializes
    one pandas frame PER KEY, and at 150k+ keys that per-group
    conversion dominated the fold ~5x (measured sf1 -> sf10, round 9).
    O(1) state per key, O(events) end to end, no grid fan-out.
    """
    r = _holt_prepared(df, key_col, day_col, cents_col, max_obs)

    out_schema = (
        f"{key_col} long, n_days long, n_used long, "
        f"last_day timestamp, level double, trend double, "
        f"forecast double"
    )

    def fold_groups(pdf):
        import pandas as pd

        ks = pdf[key_col].values
        bounds = group_bounds(pdf, [key_col])
        days = pdf[day_col].values
        xs_all = pdf["_x"].values
        ns = pdf["_n"].values
        out = []
        for a, b in zip(bounds[:-1], bounds[1:]):
            xs = [int(v) for v in xs_all[a:b]]
            level, trend, forecast = holt_fold_xs(xs)
            out.append(
                {
                    key_col: ks[a],
                    "n_days": int(ns[a]),
                    "n_used": b - a,
                    "last_day": days[b - 1],
                    "level": level,
                    "trend": trend,
                    "forecast": forecast,
                }
            )
        return pd.DataFrame(out)

    return _holt_scan(r, key_col, fold_groups, out_schema)


def holt_backtest(
    df: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
    cents_col: str = "cents",
    max_obs: int = HOLT_MAX_OBS,
) -> DataFrame:
    """One-step-ahead backtest of the Holt fold (``holt_linear``):
    walking each key's observed-day sequence, the state at day t-1
    issues a forecast for day t; the entry reports per-key forecast
    error (MAE and worst step) over the same declared window — the
    eval surface next to the fit, the way the recall self-evals sit
    next to the ANN entries.

    Determinism: identical integer fold; each step's forecast and the
    actual both quantize to micro-dollars by the same HALF-UP integer
    division, so the per-step error is an EXACT integer. MAE is one
    <2^53 int cast and one division by the exact double
    n_steps * 1e6. Keys with a single observed day have no step and
    are excluded BY DECLARATION (both engines).

    Scale: identical shape to ``holt_linear`` — daily pre-agg, one
    key shuffle, partition-scan mapInPandas (shared ``_holt_prepared``
    / ``_holt_scan`` plumbing; the fold itself is the one shared
    ``holt_fold_xs`` with the per-step ``on_step`` hook).
    """
    r = _holt_prepared(
        df, key_col, day_col, cents_col, max_obs, with_meta=False
    )

    out_schema = (
        f"{key_col} long, n_steps long, mae double, worst_err double"
    )

    def fold_groups(pdf):
        import pandas as pd

        ks = pdf[key_col].values
        bounds = group_bounds(pdf, [key_col])
        xs_all = pdf["_x"].values
        out = []
        for a, b in zip(bounds[:-1], bounds[1:]):
            xs = [int(v) for v in xs_all[a:b]]
            if len(xs) < 2:
                continue
            errs = []

            def on_step(fc, actual):
                errs.append(abs(actual - fc))

            holt_fold_xs(xs, on_step)
            n_steps = len(xs) - 1
            out.append(
                {
                    key_col: ks[a],
                    "n_steps": n_steps,
                    "mae": float(sum(errs)) / (n_steps * 1e6),
                    "worst_err": float(max(errs)) / 1e6,
                }
            )
        return pd.DataFrame(out)

    return _holt_scan(r, key_col, fold_groups, out_schema)
