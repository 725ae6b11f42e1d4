"""Every catalog query must hash-match its DuckDB oracle (the driver's
correctness gate, replicated at sf0.001 for speed — the driver runs
sf0.01)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.check_oracle import compare, duck_connection

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connection(sf_dir)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert len(df.columns) > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        pytest.skip(f"{name}: rows-only check (no oracle)")
    ddf = duck.sql(ORACLES[name]).df()
    issues = compare(name, sdf, ddf)
    assert not issues, f"{name}: {issues}"


def test_oracles_are_fully_rendered_sql():
    """Builder-generated oracles (e.g. the time-decay gate
    interpolation) must leave no template tokens behind — an
    unrendered __TOKEN__ would surface as a cryptic DuckDB parse
    error in the driver's gate instead of a test failure here."""
    for name, sql in ORACLES.items():
        assert isinstance(sql, str) and sql.strip(), name
        assert "__" not in sql, f"{name}: unrendered template token"


def test_stateful_watch_oracle_rounds_tiny_rate_to_zero():
    """A play_rate below 1e-4 prints in exponent form, which DuckDB
    1.0.0 casts to DECIMAL wrongly ('9.5e-05' -> 0.01). The oracle must
    round it HALF_UP like the fold does: 0.0."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from wistia_data_pipeline_project_spark.plans.catalog_windows import (
        STATEFUL_WATCH_SQL,
    )

    t0 = dt.datetime(2024, 1, 14, 12)
    # user 0 -> media m0 (duration 120 s); two 'percent' events 11.4 ms
    # apart credit 0.0114 s, so capped / duration = 9.5e-05
    events = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": [t0, t0 + dt.timedelta(microseconds=11_400)],
            "user_id": [0, 0],
            "event_type": ["view", "view"],
            "value": [10.0, 20.0],
            "props": [None, None],
        }
    )
    con = duckdb.connect()
    con.register("events", events)
    (row,) = con.sql(STATEFUL_WATCH_SQL).df().to_dict("records")
    assert 0 < 0.0114 / 120 < 1e-4
    assert row["total_watch_time"] == 0.01
    assert row["play_rate"] == 0.0
