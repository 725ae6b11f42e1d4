"""Seeded inputs for the benchmark.

Two corpora, both a pure function of the seed:

* ``write_catalog_corpus`` writes the ten parquet tables the query
  catalog reads (TPC-H-shaped star schema, an ``events`` table, a
  ``documents`` table with planted near-duplicates and an
  ``embeddings`` table with weak label clusters), in the column types
  and value domains of the catalog's declared table schemas.
* ``wistia_events`` / ``wistia_media`` build Wistia-shaped raw events
  and the media catalog for the pipeline workload:
  about 2% re-delivered ``event_key`` rows, one hot media key, and
  ``split_increments`` re-delivers the last second of the first
  increment inside the second one.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=UTC).timestamp() * 1_000_000)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one or
            # two marker tokens (Jaccard well above 0.9)
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    centers = rng.standard_normal((N_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = 1.2 * centers[labels] + rng.standard_normal((n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": labels,
    }


def write_catalog_corpus(out_dir: str, seed: int, sf: float) -> None:
    """Write the catalog's ten tables at scale factor ``sf`` (sf 0.01:
    60k lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PART_TYPES, n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    lo, hi = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    odate = lo + rng.integers(0, (hi - lo) // _DAY_US + 1, n_ord) * _DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord)),
    })
    l_ord = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    first = np.r_[True, l_ord[1:] != l_ord[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": (np.arange(n_line) - run_start + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(odate[l_ord] + rng.integers(1, 122, n_line) * _DAY_US),
    })
    ev0 = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(ev0 + rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vec))


# --- Wistia raw events -----------------------------------------------------

WISTIA_BASE = dt.datetime(2025, 5, 1, tzinfo=UTC)
N_MEDIA = 40


def wistia_media() -> list[dict]:
    """The media catalog rows (fixed; one media has no duration)."""
    names = ["Launch Video FB", "Tutorial Youtube", "Plain Demo"]
    return [
        {
            "id": 1000 + k,
            "name": f"{names[k % 3]} {k}",
            "type": "Video",
            "archived": False,
            "created": WISTIA_BASE - dt.timedelta(days=30 + k),
            "updated": WISTIA_BASE - dt.timedelta(days=k % 9),
            "duration": None if k == N_MEDIA - 1 else 30.0 + (k * 7) % 570,
            "hashed_id": f"hash{k:04d}",
            "description": None,
            "project": {"id": 1, "name": "proj", "hashed_id": "p1"},
        }
        for k in range(N_MEDIA)
    ]


def wistia_events(seed: int, n: int, days: int) -> list[dict]:
    """``n`` raw events over ``days`` days in received_at order, as
    dicts with fixed-width ISO-8601 timestamps (so they sort as text).
    Events come in half-hour viewing sessions of one visitor on one
    media; a fifth of the sessions watch ``hash0000``, the hot key.
    About 2% of rows re-deliver the previous row's ``event_key`` with
    the same payload."""
    rng = np.random.default_rng([seed, 2])
    n_vis = max(25, n // 20)
    base = _us(WISTIA_BASE.replace(tzinfo=None))
    sessions = max(1, n // 6)
    s_start = base + rng.integers(0, days * _DAY_US, sessions)
    s_media = np.where(
        rng.random(sessions) < 0.2, 0, rng.integers(1, N_MEDIA, sessions)
    )
    s_vis = rng.integers(0, n_vis, sessions)
    sess = rng.integers(0, sessions, n)
    ts = s_start[sess] + rng.integers(0, 1_800_000_000, n)
    order = np.argsort(ts, kind="stable")
    sess, ts = sess[order], ts[order]
    pct = np.round(np.clip(rng.normal(0.4, 0.3, n), 0.0, 1.0), 4)
    names = rng.choice(["play", "pause", "end", ""], n, p=[0.15, 0.05, 0.05, 0.75])
    browsers = ["Chrome", "Safari", "Firefox"]
    rows: list[dict] = []
    for i in range(n):
        if i and rng.random() < 0.02:
            rows.append(dict(rows[-1]))
            continue
        s = int(sess[i])
        when = dt.datetime.fromtimestamp(ts[i] / 1e6, UTC)
        rows.append({
            "received_at": when.isoformat(timespec="microseconds").replace("+00:00", "Z"),
            "event_key": f"ev{seed % 1000:03d}{i:09d}",
            "ip": f"10.{s % 250}.{(s // 250) % 250}.{s % 7}",
            "country": ["US", "DE", "BR", "IN"][s % 4],
            "percent_viewed": float(pct[i]),
            "visitor_key": f"vis{int(s_vis[s]):07d}",
            "user_agent_details": {
                "browser": browsers[s % 3],
                "browser_version": "1.0",
                "platform": ["MacOS", "Windows", "iOS"][s % 3],
                "mobile": bool(s % 2),
            },
            "media_id": f"hash{int(s_media[s]):04d}",
            "name": names[i] or None,
        })
    return rows


def write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def split_increments(rows: list[dict]) -> tuple[list[dict], list[dict]]:
    """Split ``rows`` into two increments at the middle event's
    timestamp; the second re-delivers every event of the first
    increment's last second (the 1 s HWM overlap)."""
    cut = rows[len(rows) // 2]["received_at"]
    first = [r for r in rows if r["received_at"] < cut]
    second = [r for r in rows if r["received_at"] >= cut]
    last = dt.datetime.fromisoformat(first[-1]["received_at"].replace("Z", "+00:00"))
    edge = last - dt.timedelta(seconds=1)
    overlap = [
        r for r in first
        if dt.datetime.fromisoformat(r["received_at"].replace("Z", "+00:00")) >= edge
    ]
    return first, overlap + second
