"""Golden tests for the Wistia-surface transforms: Spark outputs vs an
independent plain-Python implementation of the reference semantics
(SURVEY.md §5 strategy items 2-4)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from wistia_data_pipeline_project_spark.operators.dims import (
    asset_inventory,
    explode_media_assets,
    filter_media_by_ids,
    transform_media_data,
    transform_visitor_data,
)
from wistia_data_pipeline_project_spark.operators.fact import (
    fact_media_engagement,
    fact_media_engagement_fold,
)
from wistia_data_pipeline_project_spark.schemas import (
    WISTIA_EVENT_SCHEMA,
    WISTIA_MEDIA_SCHEMA,
    nullable_copy,
)

from tests.wistia_fixtures import RUN_TS, golden_fact, make_events, make_media

MEDIA = make_media()
EVENTS = make_events(MEDIA)


@pytest.fixture(scope="module")
def media_df(spark):
    return spark.createDataFrame(MEDIA, nullable_copy(WISTIA_MEDIA_SCHEMA))


@pytest.fixture(scope="module")
def events_df(spark):
    return spark.createDataFrame(EVENTS, nullable_copy(WISTIA_EVENT_SCHEMA))


@pytest.fixture(scope="module")
def dim_media(media_df):
    return transform_media_data(media_df, RUN_TS)


def test_dim_media_projection_and_channel(dim_media):
    rows = {r.media_id: r for r in dim_media.collect()}
    assert len(rows) == len(MEDIA)
    for m in MEDIA:
        r = rows[m["hashed_id"]]
        assert r.wistia_id == m["id"]
        assert r.title == m["name"]
        assert r.project_id == m["project"]["id"]
        name = m["name"]
        if "Facebook" in name or "FB" in name:
            assert r.channel == "Facebook"
        elif "Youtube" in name or "YT" in name:
            assert r.channel == "YouTube"
        else:
            assert r.channel is None


def test_media_in_list_filter(spark, media_df):
    ids = ["med000", "med003"]
    got = {r.hashed_id for r in filter_media_by_ids(media_df, ids).collect()}
    assert got == set(ids)


def test_dim_visitor_first_wins(spark, events_df):
    dim = transform_visitor_data(events_df, RUN_TS)
    rows = {r.visitor_id: r for r in dim.collect()}
    # golden: earliest (received_at, event_key) per visitor
    best: dict[str, dict] = {}
    for e in EVENTS:
        if e["visitor_key"] is None or e["received_at"] is None:
            continue
        k = e["visitor_key"]
        cur = best.get(k)
        if cur is None or (e["received_at"], e["event_key"]) < (
            cur["received_at"],
            cur["event_key"],
        ):
            best[k] = e
    assert set(rows) == set(best)
    for k, e in best.items():
        assert rows[k].first_seen_at == e["received_at"].replace(tzinfo=None)
        assert rows[k].ip == e["ip"]
        assert rows[k].browser == e["user_agent_details"]["browser"]
    # grain: one row per visitor
    assert dim.count() == dim.select("visitor_id").distinct().count()


def test_media_stats_nested_roundtrip(spark, media_df, tmp_path):
    """v0 media_stats: nested thumbnail/project/assets survive to the
    sink; summary columns match plain-Python."""
    from wistia_data_pipeline_project_spark.operators.dims import (
        transform_media_stats,
    )

    ms = transform_media_stats(media_df, RUN_TS)
    path = str(tmp_path / "media_stats")
    ms.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    rows = {r.hashed_id: r for r in back.collect()}
    assert len(rows) == len(MEDIA)
    for m in MEDIA:
        r = rows[m["hashed_id"]]
        assert r.project["id"] == m["project"]["id"]  # nested struct intact
        assets = m["assets"] or []
        assert r.n_assets == len(assets)
        assert r.total_asset_bytes == sum(a["fileSize"] or 0 for a in assets)
        assert [a["url"] for a in (r.assets or [])] == [a["url"] for a in assets]


def test_explode_media_assets_golden(spark, media_df):
    """media.assets explode (media_stats_schema.json:96-109): one row
    per asset, NULL-asset placeholder for asset-less media."""
    rows = explode_media_assets(media_df).collect()
    want = []
    for m in MEDIA:
        if m["assets"]:
            for a in m["assets"]:
                want.append((m["hashed_id"], a["url"], a["fileSize"], a["contentType"], a["type"]))
        else:
            want.append((m["hashed_id"], None, None, None, None))
    got = sorted((r.media_id, r.url, r.file_size, r.content_type, r.asset_type) for r in rows)
    assert got == sorted(want)


def test_asset_inventory_golden(spark, media_df):
    inv = {r.content_type: r for r in asset_inventory(media_df).collect()}
    per_ct: dict[str, list] = {}
    for m in MEDIA:
        for a in m["assets"] or []:
            per_ct.setdefault(a["contentType"], []).append((m["hashed_id"], a))
    assert set(inv) == set(per_ct)
    for ct, pairs in per_ct.items():
        r = inv[ct]
        assert r.n_assets == len(pairs)
        assert r.total_bytes == sum(a["fileSize"] for _, a in pairs)
        assert r.n_media == len({mid for mid, _ in pairs})
        assert r.max_width == max(a["width"] for _, a in pairs)


@pytest.mark.parametrize("legacy", [False, True])
def test_fact_fold_matches_golden(spark, events_df, dim_media, legacy):
    fact = fact_media_engagement_fold(events_df, dim_media, RUN_TS, legacy)
    got = {(r.media_id, r.visitor_id, r.date): r for r in fact.collect()}
    want = golden_fact(EVENTS, MEDIA, RUN_TS, legacy)
    want = {
        (m, v, d): r for (m, v, d), r in want.items()
    }
    assert set(got) == set(want)
    for key, w in want.items():
        g = got[key]
        assert g.play_count == w["play_count"], key
        assert g.total_watch_time == pytest.approx(w["total_watch_time"], abs=1e-9), key
        assert g.max_percent_viewed == pytest.approx(w["max_percent_viewed"]), key
        assert g.play_rate == pytest.approx(w["play_rate"], abs=1e-9), key
        assert g.event_timestamp == w["event_timestamp"].replace(tzinfo=None), key
        assert g.ip == w["ip"], key
        assert g.country == w["country"], key


@pytest.mark.parametrize("legacy", [False, True])
def test_fact_fold_scan_matches_fold_bitexact(spark, events_df, dim_media, legacy):
    """The partition-scan fold (mapInPandas + carry buffer) must be
    BIT-IDENTICAL to the grouped-map fold — same _fold_group state
    machine, different batching — and invariant to the shuffle width
    (group↔batch boundaries move with partition count; the carry
    stitching must hide that entirely)."""
    from wistia_data_pipeline_project_spark.operators.fact import (
        fact_media_engagement_fold_scan,
    )

    fdf = fact_media_engagement_fold(events_df, dim_media, RUN_TS, legacy)
    f = {(r.media_id, r.visitor_id, r.date): r.asDict() for r in fdf.collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_part in ("4", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            sdf = fact_media_engagement_fold_scan(
                events_df, dim_media, RUN_TS, legacy
            )
            s = {
                (r.media_id, r.visitor_id, r.date): r.asDict()
                for r in sdf.collect()
            }
            assert s == f, f"shuffle.partitions={n_part}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("legacy", [False, True])
def test_fact_window_matches_fold(spark, events_df, dim_media, legacy):
    """Dual-implementation cross-check (SURVEY §5 item 3): the native
    window formulation must agree with the sequential fold."""
    wdf = fact_media_engagement(events_df, dim_media, RUN_TS, legacy)
    fdf = fact_media_engagement_fold(events_df, dim_media, RUN_TS, legacy)
    w = {(r.media_id, r.visitor_id, r.date): r for r in wdf.collect()}
    f = {(r.media_id, r.visitor_id, r.date): r for r in fdf.collect()}
    assert set(w) == set(f)
    for key in f:
        a, b = w[key], f[key]
        assert a.play_count == b.play_count, key
        # rounding mode differs (HALF_UP vs banker's): tolerance 0.011
        assert a.total_watch_time == pytest.approx(
            b.total_watch_time, abs=0.011
        ), key
        assert a.play_rate == pytest.approx(b.play_rate, abs=0.011), key
        assert a.max_percent_viewed == pytest.approx(b.max_percent_viewed), key
        assert a.event_timestamp == b.event_timestamp, key
        assert a.last_event_timestamp == b.last_event_timestamp, key
        assert a.ip == b.ip, key
        assert a.country == b.country, key


def test_fact_properties(spark, events_df, dim_media):
    """Property checks (SURVEY §5 item 4)."""
    fact = fact_media_engagement(events_df, dim_media, RUN_TS)
    rows = fact.collect()
    durations = {m["hashed_id"]: m["duration"] for m in MEDIA}
    assert fact.count() == fact.select("media_id", "visitor_id", "date").distinct().count()
    for r in rows:
        d = durations.get(r.media_id)
        assert r.total_watch_time >= 0
        if d is not None:
            assert r.total_watch_time <= d + 1e-6
        assert 0.0 <= r.play_rate <= 1.0 + 1e-9
        assert r.play_count >= 0
        if r.play_count == 0:
            assert r.total_watch_time == 0.0
            assert r.play_rate == 0.0


def test_null_key_rows_dropped(spark, events_df, dim_media):
    fact = fact_media_engagement(events_df, dim_media, RUN_TS)
    assert (
        fact.filter(
            F.col("media_id").isNull()
            | F.col("visitor_id").isNull()
            | F.col("date").isNull()
        ).count()
        == 0
    )


def test_unknown_media_no_watch_time(spark, events_df, dim_media):
    fact = fact_media_engagement(events_df, dim_media, RUN_TS)
    unk = fact.filter(F.col("media_id") == "unknown_med").collect()
    assert unk, "unknown-media group should still aggregate"
    for r in unk:
        assert r.total_watch_time == 0.0
        assert r.play_rate == 0.0
        assert r.play_count == 1  # progress fallback


@pytest.mark.parametrize("legacy", [False, True])
def test_fold_groups_matches_golden(legacy):
    """The single batch watch-time fold (``fact._fold_groups`` over
    ``watch_step``/``watch_finish``) must equal the independent
    plain-Python golden EXACTLY on key-sorted input — randomized over
    NaN pct/duration, missing ip/country, jitter-sized timestamp
    deltas and 1-5 row groups, plus three fixed edge groups (wider
    input space than the Spark fixture; the Spark-level pin is
    test_fact_fold_scan_matches_fold_bitexact)."""
    import numpy as np
    import pandas as pd

    from wistia_data_pipeline_project_spark.operators._scan import group_bounds
    from wistia_data_pipeline_project_spark.operators.fact import _fold_groups

    rng = np.random.default_rng(11)
    names_pool = ["play", "percent", "pause", "seek", "end"]
    rows = []
    for g in range(500):
        m = int(rng.integers(0, 7))
        ts0 = pd.Timestamp("2024-01-01") + pd.Timedelta(
            seconds=int(rng.integers(0, 86400))
        )
        dur = float(120.0 + 60 * m) if rng.random() > 0.1 else np.nan
        for i in range(int(rng.integers(1, 6))):
            rows.append(
                dict(
                    media_id=f"m{m}",
                    visitor_id=f"v{g}",
                    date=dt.date(2024, 1, 1),
                    received_at=ts0
                    + pd.Timedelta(seconds=int(rng.integers(0, 600))),
                    event_key=f"e{g}_{i}",
                    pct=float(rng.random())
                    if rng.random() > 0.2
                    else np.nan,
                    event_name=str(rng.choice(names_pool)),
                    duration=dur,
                    ip="1.2.3.4" if rng.random() > 0.7 else None,
                    country="US" if rng.random() > 0.6 else None,
                )
            )
    # edges the random draws rarely hit: the 0.01 jitter re-anchor at
    # an equal timestamp, the equal-pct re-anchor, an exact-half rate
    t, sec = pd.Timestamp("2024-01-01 06:00"), pd.Timedelta(seconds=1)
    edges = {
        "jitter": [(t, 0.1, "play"), (t, 0.115, "percent"), (t + 100 * sec, 0.2, "percent")],
        "equal_pct": [(t, 0.5, "play"), (t + 10 * sec, 0.5, "percent"), (t + 15 * sec, 0.6, "percent")],
        "half_rate": [(t, 0.1, "play"), (t + 15 * sec, 0.3, "percent")],  # 15/120
    }
    for v, evs in edges.items():
        for i, (ts, p, name) in enumerate(evs):
            rows.append(
                dict(media_id="m0", visitor_id=v, date=dt.date(2024, 1, 1),
                     received_at=ts, event_key=f"{v}_{i}", pct=p,
                     event_name=name, duration=120.0, ip=None, country=None)
            )
    pdf = pd.DataFrame(rows).sort_values(
        ["media_id", "visitor_id", "date", "received_at", "event_key"],
        ignore_index=True,
    )
    keys = ["media_id", "visitor_id", "date"]
    bounds = group_bounds(pdf, keys)
    got = _fold_groups(pdf, bounds, RUN_TS, legacy)
    assert len(got) == len(bounds) - 1 == 500 + len(edges)
    for j, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        grp = pdf.iloc[a:b]
        # the golden keys groups by received_at's date, the fold by the
        # date column: rebase each group to start at midnight (the fold
        # only sees time deltas) so a group straddling midnight stays
        # one golden group. NaN pct and duration are the golden's NULLs.
        t0 = grp["received_at"].iloc[0]
        shift = t0 - t0.normalize()
        duration = grp["duration"].iloc[0]
        media = [{"hashed_id": grp["media_id"].iloc[0],
                  "duration": None if np.isnan(duration) else duration}]
        events = [
            {
                "media_id": r.media_id,
                "visitor_key": r.visitor_id,
                "received_at": (r.received_at - shift).to_pydatetime(),
                "event_key": r.event_key,
                "percent_viewed": None if np.isnan(r.pct) else r.pct,
                "name": r.event_name,
                "ip": r.ip,
                "country": r.country,
            }
            for r in grp.itertuples()
        ]
        (want,) = golden_fact(events, media, RUN_TS, legacy).values()
        g = got.iloc[j]
        assert (g.media_id, g.visitor_id, g.date) == tuple(grp[keys].iloc[0])
        for c in ("play_count", "total_watch_time", "play_rate", "ip", "country"):
            assert g[c] == want[c], (j, c)
        if want["max_percent_viewed"] is None:
            assert pd.isna(g.max_percent_viewed), j
        else:
            assert g.max_percent_viewed == want["max_percent_viewed"], j
        assert g.event_timestamp == want["event_timestamp"] + shift, j
        assert g.last_event_timestamp == grp["received_at"].iloc[-1], j
