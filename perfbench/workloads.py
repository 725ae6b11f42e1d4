"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one ends. Each returns a ``Result``:
one ``Op`` per operation (a catalog entry, a scheduled pipeline run or
the stream drain), the wall of the measured work, the workload's own
figures under their user-facing names, and the per-layer figures when
the tracer is on.

Correctness is checked after the measured loop, untimed. A wrong or
failed operation is marked ``ok=False`` and counts in ``failed``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from corpus import (
    WISTIA_BASE,
    split_increments,
    wistia_events,
    wistia_media,
    write_catalog_corpus,
    write_jsonl,
)
from tracer import Tracer

LLM_FAMILIES = ("docs", "emb", "mm", "training")
CATALOG_SF = 0.01
# Work per second of --seconds. The work of a run is fixed by --seconds
# and --seed alone, so a faster program finishes the same work sooner
# instead of doing more of it. Sized so that a whole run, set-up and
# checks included, takes about a minute on a 4-core host.
ENTRIES_PER_S = 0.6
PIPELINE_EVENTS_PER_S = 200


@dataclass
class Op:
    name: str
    latency_s: float
    ok: bool = True
    error: str = ""


@dataclass
class Result:
    ops: list[Op]
    work_s: float
    figures: dict = field(default_factory=dict)  # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # per-layer name -> value
    counters: dict = field(default_factory=dict)  # Spark counters, traced runs


def percentile_tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten values beyond it when
    there are 100 or more values (p90 and up); below that, p90 by
    nearest rank. Returns (value, percentile)."""
    xs = sorted(values)
    n = len(xs)
    rank = n - 10 if n >= 100 else max(1, -(-9 * n // 10))
    return xs[rank - 1], round(100 * rank / n)


def _fail(op: Op, exc: BaseException) -> None:
    op.ok = False
    op.error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
    traceback.print_exc(file=sys.stderr)


# --- catalog -----------------------------------------------------------------


def _family(name: str) -> str:
    return name.split("_")[0]


def catalog_entries(queries, seed: int, seconds: float) -> list[str]:
    """The dedup, similarity, text and multimodal entries, sorted by name
    so the program's own registry order plays no part; a fixed subset of
    them, the midpoints of ``k`` equal slices (so each family is sampled
    in proportion to its size), in an order drawn from the seed."""
    pool = sorted(n for n in queries if _family(n) in LLM_FAMILIES)
    k = min(len(pool), max(3, round(seconds * ENTRIES_PER_S)))
    names = [pool[((2 * i + 1) * len(pool)) // (2 * k)] for i in range(k)]
    random.Random(seed).shuffle(names)
    return names


def warm_catalog(spark) -> None:
    """The analyst session's generic warm-up: the Python worker pool,
    which would otherwise start on the first entry with a pandas UDF.
    At least one task per slot, so every slot starts its worker."""

    def identity(batches):  # nested, so workers receive it by value
        yield from batches

    slots = 2 * spark.sparkContext.defaultParallelism
    spark.range(0, slots, 1, slots).mapInPandas(identity, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def prepare_catalog(work: str, seed: int, sf: float = CATALOG_SF) -> str:
    corpus = os.path.join(work, "corpus")
    write_catalog_corpus(corpus, seed, sf)
    return corpus


def run_catalog(spark, tracer: Tracer, queries, oracles, names, corpus) -> Result:
    ops, frames, build_s = [], {}, []
    t_begin = time.perf_counter()
    for name in names:
        op = Op(name, 0.0)
        t0 = time.perf_counter()
        t1 = None
        try:
            with tracer.span("catalog.entry", run_id=name):
                with tracer.span("plans.build"):
                    df = queries[name](spark, corpus)
                t1 = time.perf_counter()
                with tracer.span("plans.execute"):
                    df.write.format("noop").mode("overwrite").save()
            frames[name] = df
        except Exception as exc:  # one failed entry must not end the pass
            _fail(op, exc)
        t2 = time.perf_counter()
        op.latency_s = t2 - t0
        build_s.append((t1 or t2) - t0)
        ops.append(op)
    work_s = time.perf_counter() - t_begin

    check_catalog(ops, frames, oracles, corpus)

    lat = [o.latency_s for o in ops]
    tail, pct = percentile_tail(lat)
    res = Result(ops, work_s)
    res.figures = {
        "pass_s": (sum(lat), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        f"query_tail_s (p{pct} of {len(lat)})": (tail, "s"),
        "builder_s": (sum(build_s), "s"),
    }
    if tracer.enabled:
        build = tracer.named("plans.build")
        res.layers = {
            "plans.build_s": tracer.total("plans.build"),
            "plans.build_jobs": sum(s.counters["jobs"] for s in build),
            "plans.execute_s": tracer.total("plans.execute"),
        }
        res.counters = tracer.counter_totals()
    return res


def check_catalog(ops, frames, oracles, corpus) -> None:
    saved = list(sys.path)
    from tools.check_oracle import compare, duck_connection

    sys.path[:] = saved  # the tool prepends its own checkout path on import
    con = duck_connection(corpus)
    for op in ops:
        if not op.ok:
            continue
        try:
            issues = compare(
                op.name,
                frames[op.name].toPandas(),
                con.sql(oracles[op.name]).df(),
            )
        except Exception as exc:
            _fail(op, exc)
            continue
        if issues:
            op.ok = False
            op.error = "oracle mismatch: " + "; ".join(issues)[:300]
    con.close()


# --- pipeline ------------------------------------------------------------------

# module attribute -> span name; run_incremental_pipeline resolves each
# of these at call time, so wrapping the attribute traces the call
PIPELINE_WRAPS = (
    ("incremental", "rollback_uncommitted", "operators.incremental.rollback"),
    ("incremental", "filter_increment", "operators.build"),
    ("incremental", "dedup_events", "operators.build"),
    ("incremental", "merge_dim_visitor", "operators.build"),
    ("dims", "transform_media_data", "operators.build"),
    ("dims", "transform_visitor_data", "operators.build"),
    ("fact", "fact_media_engagement", "operators.build"),
    ("quality", "run_expectations", "operators.build"),
    ("incremental", "spill_checkpoint", "ckpt.checkpoint"),
    ("incremental", "write_dim", "operators.incremental.write_dim"),
    ("incremental", "write_fact_append_atomic", "operators.incremental.append"),
)

PIPELINE_RUNS = ("initial", "increment", "noop")
# the stream drains the two staged increment files, one per micro-batch
STREAM_FILES_PER_TRIGGER = 1
STREAM_TABLE = "perfbench_watch_time"


@dataclass
class PipelineInputs:
    increments: tuple[list[dict], list[dict]]  # the raw rows of each staged file
    paths: tuple[str, str, str]  # JSONL read by each scheduled run
    run_ts: tuple[dt.datetime, ...]
    warehouse: str
    staged: str  # the directory of the two increment files
    input_bytes: int


def prepare_pipeline(work: str, seed: int, seconds: float) -> PipelineInputs:
    n = max(2000, int(seconds * PIPELINE_EVENTS_PER_S))
    increments = split_increments(wistia_events(seed, n, days=8))
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    first, second = (os.path.join(staged, f"increment_{i}.jsonl") for i in (1, 2))
    for i, (path, rows) in enumerate(zip((first, second), increments)):
        write_jsonl(path, rows)
        # a file stream lists files by modification time: arrival order
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    paths = (first, second, second)
    run_ts = tuple(WISTIA_BASE + dt.timedelta(days=10 + i) for i in range(3))
    return PipelineInputs(
        increments, paths, run_ts, os.path.join(work, "warehouse"), staged,
        sum(os.path.getsize(p) for p in paths),
    )


def _media_df(spark):
    from wistia_data_pipeline_project_spark.schemas import (
        WISTIA_MEDIA_SCHEMA,
        nullable_copy,
    )

    return spark.createDataFrame(wistia_media(), nullable_copy(WISTIA_MEDIA_SCHEMA))


def run_pipeline(spark, tracer: Tracer, inp: PipelineInputs) -> Result:
    """The three scheduled runs, then the stream drain over the same
    increments; the wall of all four is the work."""
    from wistia_data_pipeline_project_spark.operators import (
        dims,
        fact,
        incremental,
        quality,
    )
    from wistia_data_pipeline_project_spark.sources.io import read_events_jsonl_audited

    modules = {"incremental": incremental, "dims": dims, "fact": fact, "quality": quality}
    undo = []
    if tracer.enabled:
        undo = [tracer.wrap(modules[m], a, s) for m, a, s in PIPELINE_WRAPS]
    media = _media_df(spark)
    ops, outcomes = [], []
    t_begin = time.perf_counter()
    try:
        for run, path, run_ts in zip(PIPELINE_RUNS, inp.paths, inp.run_ts):
            op = Op(run, 0.0)
            t0 = time.perf_counter()
            try:
                with tracer.span("pipeline.run", run_id=run):
                    with tracer.span("sources.read"):
                        good, _corrupt, raw = read_events_jsonl_audited(spark, path)
                    with tracer.span("operators.incremental.run"):
                        counts = incremental.run_incremental_pipeline(
                            spark, good, media, inp.warehouse, run_ts
                        )
                    raw.unpersist()
                outcomes.append(counts)
            except Exception as exc:
                _fail(op, exc)
                outcomes.append(None)
            op.latency_s = time.perf_counter() - t0
            ops.append(op)
    finally:
        for u in undo:
            u()
    stream_op, progress = drain_stream(spark, tracer, inp, media)
    ops.append(stream_op)
    work_s = time.perf_counter() - t_begin

    check_pipeline(spark, ops, outcomes, inp)
    check_stream(spark, stream_op, inp)

    res = Result(ops, work_s)
    res.figures = {f"run_{o.name}_s": (o.latency_s, "s") for o in ops[:3]}
    res.figures["rows_appended"] = (
        sum((c or {}).get("fact_appended", 0) for c in outcomes), "rows"
    )
    res.figures.update(stream_figures(stream_op, progress))
    if tracer.enabled:
        res.layers = pipeline_layers(tracer, outcomes, inp)
        res.layers.update(stream_layers(progress))
        res.counters = tracer.counter_totals()
    return res


def drain_stream(spark, tracer: Tracer, inp: PipelineInputs, media):
    """Drain the staged increments through ``streaming_watch_time`` into
    the memory sink. Returns the operation and the query's progress
    reports, one per micro-batch."""
    from wistia_data_pipeline_project_spark.operators.dims import transform_media_data
    from wistia_data_pipeline_project_spark.schemas import WISTIA_EVENT_SCHEMA
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_watch_time,
    )

    op, progress = Op("stream", 0.0), []
    t0 = time.perf_counter()
    try:
        with tracer.span("streaming.drain", run_id="stream"):
            events = (
                spark.readStream.schema(WISTIA_EVENT_SCHEMA)
                .option("maxFilesPerTrigger", STREAM_FILES_PER_TRIGGER)
                .json(inp.staged)
            )
            dim = transform_media_data(media, inp.run_ts[-1])
            q = run_stream_to_memory(
                streaming_watch_time(events, dim), STREAM_TABLE, output_mode="update"
            )
            q.stop()
            # the stream runs its jobs under its own job group
            tracer.adopt_group(str(q.runId))
            progress = q.recentProgress
    except Exception as exc:
        _fail(op, exc)
    op.latency_s = time.perf_counter() - t0
    return op, progress


def stream_figures(op: Op, progress) -> dict:
    rows = sum(p.numInputRows for p in progress)
    batch_s = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in progress]
    if not batch_s:
        return {}
    tail, pct = percentile_tail(batch_s)
    return {
        "stream_rows_per_s": (rows / op.latency_s, "rows/s"),
        "batch_p50_s": (statistics.median(batch_s), "s"),
        f"batch_tail_s (p{pct} of {len(batch_s)})": (tail, "s"),
    }


def stream_layers(progress) -> dict:
    def ms(key):
        return sum(p.durationMs.get(key, 0) for p in progress) / 1e3

    ops = [s for p in progress for s in p.stateOperators]
    return {
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(p.numInputRows for p in progress),
        "streaming.add_batch_s": ms("addBatch"),
        "streaming.planning_s": ms("queryPlanning"),
        "streaming.get_batch_s": ms("getBatch"),
        "streaming.wal_commit_s": ms("walCommit"),
        "streaming.state_rows": max((s.numRowsTotal for s in ops), default=0),
        "streaming.state_memory_bytes": max((s.memoryUsedBytes for s in ops), default=0),
        "streaming.state_rows_updated": sum(s.numRowsUpdated for s in ops),
        "streaming.state_commit_s": sum(s.commitTimeMs for s in ops) / 1e3,
    }


def pipeline_layers(tracer: Tracer, outcomes, inp: PipelineInputs) -> dict:
    self_s = self_jobs = 0.0
    for idx, s in enumerate(tracer.spans):
        if s.name == "operators.incremental.run":
            self_s += s.wall - tracer.children_wall(idx)
            self_jobs += s.counters["jobs"]
    appends = tracer.named("operators.incremental.append")
    out_bytes = sum(
        s.counters["output_bytes"] for s in tracer.spans if s.run_id in PIPELINE_RUNS
    )
    return {
        "sources.read_s": tracer.total("sources.read"),
        "operators.pipeline_build_s": tracer.total("operators.build"),
        "operators.incremental.rollback_s": tracer.total("operators.incremental.rollback"),
        "operators.incremental.write_dim_s": tracer.total("operators.incremental.write_dim"),
        "operators.incremental.append_s": tracer.total("operators.incremental.append"),
        "operators.incremental.files_committed": sum(
            s.attrs.get("result") or 0 for s in appends
        ),
        "operators.incremental.rows_appended": sum(
            (c or {}).get("fact_appended", 0) for c in outcomes
        ),
        "operators.incremental.pipeline_self_s": self_s,
        "operators.incremental.pipeline_self_jobs": self_jobs,
        "operators.incremental.bytes_written_per_input_byte": out_bytes / inp.input_bytes,
        "ckpt.checkpoint_s": tracer.total("ckpt.checkpoint"),
    }


def _utc(value) -> dt.datetime:
    """A naive UTC timestamp as Spark's pandas conversion returns it."""
    return value.astimezone(dt.timezone.utc).replace(tzinfo=None)


def _golden_events(rows: list[dict], after: dt.datetime | None) -> list[dict]:
    """The staged rows a run should fold: past the HWM, one per
    ``event_key`` (a re-delivered row repeats its payload)."""
    seen, out = set(), []
    for r in rows:
        ts = dt.datetime.fromisoformat(r["received_at"].replace("Z", "+00:00"))
        if (after is not None and ts <= after) or r["event_key"] in seen:
            continue
        seen.add(r["event_key"])
        out.append(dict(r, received_at=ts))
    return out


def _fact_issues(got: dict, want: dict) -> list[str]:
    """Fact rows keyed by (media, visitor, date) against the golden."""
    issues = []
    if set(got) != set(want):
        issues.append(
            f"{len(set(got) ^ set(want))} groups differ "
            f"({len(got)} written, {len(want)} expected)"
        )
    for key in sorted(set(got) & set(want), key=str):
        g, w = got[key], want[key]
        bad = [
            c for c in ("play_count", "total_watch_time", "max_percent_viewed", "play_rate")
            if not _same(g[c], w[c])
        ]
        if _utc(w["event_timestamp"]) != g["event_timestamp"]:
            bad.append("event_timestamp")
        if bad:
            issues.append(f"{key}: {', '.join(bad)} differ")
    return issues[:5]


def _same(a, b) -> bool:
    if a is None or b is None or a != a or b != b:  # NULL reads back as NaN
        return (a is None or a != a) and (b is None or b != b)
    return abs(float(a) - float(b)) <= 1e-9


def check_pipeline(spark, ops, outcomes, inp: PipelineInputs) -> None:
    """Each run's fact rows equal the test suite's plain-Python golden
    fold over the staged events past the previous HWM, one per
    ``event_key``: the same groups, so appended rows equal the count of
    distinct (media, visitor, date) groups, and the same values. The
    no-op run appends nothing and leaves the HWM where it was; every
    contract passed."""
    from tests.wistia_fixtures import golden_fact

    def ts(row):
        return dt.datetime.fromisoformat(row["received_at"].replace("Z", "+00:00"))

    hwm1 = max(ts(r) for r in inp.increments[0])
    want_hwm = _utc(max(hwm1, max(ts(r) for r in inp.increments[1])))
    golden = (
        golden_fact(_golden_events(inp.increments[0], None), wistia_media(), inp.run_ts[0]),
        golden_fact(_golden_events(inp.increments[1], hwm1), wistia_media(), inp.run_ts[1]),
        {},
    )
    fact = _warehouse_fact(spark, inp.warehouse)
    hwm_after = None if fact is None else fact["last_event_timestamp"].max()
    for op, counts, want, run_ts in zip(ops, outcomes, golden, inp.run_ts):
        if not op.ok:
            continue
        problems = []
        if counts["fact_appended"] != len(want):
            problems.append(f"appended {counts['fact_appended']} rows, want {len(want)}")
        if counts["contract_passed"] != 1:
            problems.append("expectation contract failed")
        if op.name == "noop" and hwm_after != want_hwm:
            problems.append(f"HWM {hwm_after} after the no-op run, want {want_hwm}")
        mine = [] if fact is None else fact[fact["ingestion_timestamp"] == _utc(run_ts)]
        got = {
            (r["media_id"], r["visitor_id"], r["date"]): r
            for r in (mine.to_dict("records") if len(mine) else [])
        }
        problems += _fact_issues(got, want)
        if problems:
            op.ok = False
            op.error = "; ".join(problems)[:300]


def _warehouse_fact(spark, warehouse: str):
    """Every committed fact row, as pandas."""
    from wistia_data_pipeline_project_spark.operators.incremental import (
        read_fact_committed,
    )

    fact = read_fact_committed(spark, os.path.join(warehouse, "fact_media_engagement"))
    return None if fact is None else fact.toPandas()


def check_stream(spark, op: Op, inp: PipelineInputs) -> None:
    """Each group's last update equals the golden fold over the same
    events, deduped by ``event_key`` (the test suite checks that golden
    against ``fact_media_engagement_fold``, the stream's batch twin)."""
    if not op.ok:
        return
    from tests.wistia_fixtures import golden_fact

    try:
        final = {}
        for r in spark.table(STREAM_TABLE).collect():  # in micro-batch order
            final[(r["media_id"], r["visitor_id"], r["date"])] = r
    except Exception as exc:
        _fail(op, exc)
        return
    events = _golden_events(inp.increments[0] + inp.increments[1], None)
    want = golden_fact(events, wistia_media(), inp.run_ts[-1])
    last_ts = {}
    for e in events:
        key = (e["media_id"], e["visitor_key"], e["received_at"].date())
        last_ts[key] = max(last_ts.get(key, e["received_at"]), e["received_at"])
    issues = []
    if set(final) != set(want):
        issues.append(f"{len(set(final) ^ set(want))} groups differ")
    for key in sorted(set(final) & set(want), key=str):
        g, w = final[key], want[key]
        bad = [c for c in ("play_count", "max_percent_viewed") if not _same(g[c], w[c])]
        if abs(g["total_watch_time"] - w["total_watch_time"]) > 0.01 + 1e-9:
            bad.append("total_watch_time")
        if g["event_timestamp"] != _utc(w["event_timestamp"]):
            bad.append("event_timestamp")
        if g["last_event_timestamp"] != _utc(last_ts[key]):
            bad.append("last_event_timestamp")
        if bad:
            issues.append(f"{key}: {', '.join(bad)} differ")
    if issues:
        op.ok = False
        op.error = "stream/golden mismatch: " + "; ".join(issues[:5])[:300]
