"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload catalog_llm --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists): ``catalog_llm`` runs
a fixed subset of the catalog's dedup, similarity, text and multimodal
entries once each in a fresh session, in an order drawn from the seed;
``pipeline`` runs three scheduled incremental loads over seeded Wistia
events, then drains the same events through the streaming watch-time
fold.

Inputs are generated from ``--seed`` inside the checkout (under
``.perfbench/``, removed at exit). ``--seconds`` sizes the work of a run
(the same seconds give the same work on any host). Outputs are checked,
untimed, after the measured loop: catalog entries against their DuckDB
oracles, the pipeline's fact rows and the stream's output against the
test suite's plain-Python golden fold.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
and no counters are read. With ``--trace 1`` it carries the per-layer
metrics: spans around the calls into each layer plus Spark's own
counters, and the end-to-end figures as measured with tracing on
(``trace.*``) so the tracing overhead can be read against an untraced
run; the spans themselves go to ``.perfbench/trace-<workload>-seed<n>.jsonl``.
Lines before the last one are a readable report, including every
failed operation by name.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_llm", "pipeline")
CORES = 4

# Per-operation latencies are printed but not gated: a run has fewer
# than 21 operations, so no percentile above the median has ten beyond
# it, and the catalog's cross-entry caches move cost between entries
# with the seeded order while the pass time stays put.
END_TO_END = (("setup_s", "s"), ("work_s", "s"))

PER_LAYER = (
    ("session.import_s", "s"),
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.execute_s", "s"),
    ("sources.read_s", "s"),
    ("operators.pipeline_build_s", "s"),
    ("operators.incremental.rollback_s", "s"),
    ("operators.incremental.write_dim_s", "s"),
    ("operators.incremental.append_s", "s"),
    ("operators.incremental.files_committed", "count"),
    ("operators.incremental.rows_appended", "rows"),
    ("operators.incremental.pipeline_self_s", "s"),
    ("operators.incremental.pipeline_self_jobs", "count"),
    ("operators.incremental.bytes_written_per_input_byte", "ratio"),
    ("ckpt.checkpoint_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "rows"),
    ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"),
    ("streaming.get_batch_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("streaming.state_rows", "rows"),
    ("streaming.state_memory_bytes", "bytes"),
    ("streaming.state_rows_updated", "rows"),
    ("streaming.state_commit_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.slot_busy_frac", "ratio"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("trace.setup_s", "s"),
    ("trace.work_s", "s"),
)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and pin the
    program's environment options to their defaults."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM keeps its temp files, and no perf-data file, in the run
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
    })
    time.tzset()
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work: str, warm=None):
    """Session start, then the workload's ``warm(spark)`` if given.
    Returns (spark, timings)."""
    from wistia_data_pipeline_project_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    if warm is not None:
        warm(spark)
    t3 = time.perf_counter()
    return spark, {
        "session.start_s": t2 - t1,
        "session.warmup_s": t3 - t2,
    }


def stop_session(spark) -> float:
    """Stop Spark and the JVM, wait for it to exit; returns the JVM's
    peak resident set in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    peak = 0.0
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = int(line.split()[1]) / 1024
        except OSError:
            pass
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    # so that a later session in this process launches a new JVM
    SparkContext._gateway = SparkContext._jvm = None
    return peak


def trace_path(args) -> str:
    return os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.jsonl")


def run(args, work: str) -> dict:
    import workloads as W

    # inputs first: their generation is not part of set-up
    catalog = args.workload == "catalog_llm"
    if catalog:
        corpus = W.prepare_catalog(work, args.seed)
    else:
        inputs = W.prepare_pipeline(work, args.seed, args.seconds)

    # set-up: the package import (it registers the catalog), session, warmup
    t0 = time.perf_counter()
    from wistia_data_pipeline_project_spark.plans import ORACLE, QUERIES

    import_s = time.perf_counter() - t0
    # a scheduled pipeline run starts cold, so only the catalog warms up
    spark, session = start_session(work, W.warm_catalog if catalog else None)
    session["session.import_s"] = import_s
    setup_s = sum(session.values())
    try:
        from tracer import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        if catalog:
            names = W.catalog_entries(QUERIES, args.seed, args.seconds)
            res = W.run_catalog(spark, tracer, QUERIES, ORACLE, names, corpus)
        else:
            res = W.run_pipeline(spark, tracer, inputs)
        if args.trace:
            tracer.dump(trace_path(args))
    finally:
        session["session.jvm_peak_rss_mb"] = stop_session(spark)

    e2e = {"setup_s": setup_s, "work_s": res.work_s}
    failed = [o for o in res.ops if not o.ok]
    report(args, e2e, res, failed)
    if args.trace:
        print(f"  spans: {os.path.relpath(trace_path(args), ROOT)}")
        values = dict.fromkeys((n for n, _ in PER_LAYER), 0)
        values.update(session)
        values.update(res.layers)
        c = res.counters
        for k, v in c.items():
            values[f"spark.{k}"] = v
        values["spark.slot_busy_frac"] = c.get("executor_run_s", 0) / (res.work_s * CORES)
        for k, v in e2e.items():
            values[f"trace.{k}"] = v
        metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    return {
        "correct": not failed,
        "attempted": len(res.ops),
        "failed": len(failed),
        "metrics": metrics,
    }


def report(args, e2e, res, failed) -> None:
    n = len(res.ops)
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}: {n} operations")
    for name, unit in END_TO_END:
        print(f"  {name:<28} {e2e[name]:12.4f} {unit}")
    for name, (value, unit) in res.figures.items():
        print(f"  {name:<28} {value:12.4f} {unit}")
    print(f"  {'error_rate':<28} {len(failed) / n:12.4f} ratio  ({len(failed)} of {n})")
    for o in res.ops:
        status = "ok" if o.ok else f"FAILED {o.error}"
        print(f"    op {o.name:<40} {o.latency_s:9.4f} s  {status}")


def main(argv=None) -> int:
    args = parse_args(argv)
    needed = (
        os.path.join(ROOT, "wistia_data_pipeline_project_spark", "__init__.py"),
        os.path.join(ROOT, "tools", "check_oracle.py"),
        os.path.join(ROOT, "tests", "wistia_fixtures.py"),
    )
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: program sources not found: {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
