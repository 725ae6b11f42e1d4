"""Self-test of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Tiny runs of every workload (a few catalog entries, a few thousand
events) check that every metric named in BENCHMARK.json prints with its
unit and every correctness check passes; a deliberately wrong entry
must count as failed. The tiny runs start a JVM each and take a few
minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _bench(cwd, workload, trace, seconds=3):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_spec_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == list(run.PER_LAYER)
    layer_map = json.load(open(os.path.join(HERE, "layer_map.json")))
    assert set(layer_map) == {m["name"] for m in SPEC["per_layer"]}
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    for name, entry in layer_map.items():
        assert set(entry["moves"]) <= e2e, name
        assert set(entry["workloads"]) <= set(run.WORKLOADS), name


def test_percentile_tail():
    assert workloads.percentile_tail([float(i) for i in range(1, 151)]) == (140.0, 93)
    assert workloads.percentile_tail([float(i) for i in range(1, 101)]) == (90.0, 90)
    assert workloads.percentile_tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_entry_subset_is_fixed_and_order_follows_seed():
    names = {f"q{i}_x": None for i in range(40)} | {f"docs_{i}": None for i in range(40)}
    a = workloads.catalog_entries(names, 1, 12)
    b = workloads.catalog_entries(names, 2, 12)
    assert a == workloads.catalog_entries(names, 1, 12)
    assert sorted(a) == sorted(b) and a != b
    assert all(n.startswith("docs") for n in a)


def test_increments_overlap_by_a_second():
    rows = workloads.wistia_events(4, 300, days=2)
    first, second = workloads.split_increments(rows)
    assert second[0]["received_at"] <= first[-1]["received_at"]
    assert {r["event_key"] for r in first + second} == {r["event_key"] for r in rows}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_prints_every_metric_and_passes_checks(workload, trace):
    proc = _bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for m in SPEC["end_to_end"]:
        assert any(line.split()[:1] == [m["name"]] and m["unit"] in line for line in lines)
    assert any(line.split()[:1] == ["error_rate"] for line in lines)
    if trace:
        _check_spans(os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed5.jsonl"))


def _check_spans(path):
    """Children partition their parent: a catalog entry's wall is its
    build plus its execution, and every parent covers its children."""
    spans = [json.loads(line) for line in open(path)]
    os.remove(path)
    assert spans
    for s in spans:
        kids = [k for k in spans if k["parent"] == s["id"]]
        covered = sum(k["end"] - k["start"] for k in kids)
        wall = s["end"] - s["start"]
        assert covered <= wall + 1e-6, s["name"]
        if s["name"] == "catalog.entry":
            assert {k["name"] for k in kids} == {"plans.build", "plans.execute"}
            assert wall - covered < 0.05, s  # span bookkeeping only
        if s["name"] == "streaming.drain":
            assert s["counters"]["jobs"] > 0  # the query's own job group
        assert set(s["counters"]) >= {"jobs", "stages", "tasks"}


def test_without_the_program_it_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(tmp_path, "catalog_llm", 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_wrong_result_counts_as_failed(tmp_path):
    run.isolate(str(tmp_path))
    from wistia_data_pipeline_project_spark.plans import ORACLE, QUERIES

    corpus = workloads.prepare_catalog(str(tmp_path), seed=3, sf=0.001)
    good, bad = sorted(n for n in QUERIES if n.startswith(("q1_", "q6_")))

    def extra_row(spark, sf_dir):
        df = QUERIES[bad](spark, sf_dir)
        return df.unionByName(df.limit(1))

    queries = dict(QUERIES, **{bad: extra_row})
    spark, _ = run.start_session(str(tmp_path))
    try:
        tracer = workloads.Tracer(spark, enabled=False)
        res = workloads.run_catalog(spark, tracer, queries, ORACLE, [good, bad], corpus)
    finally:
        run.stop_session(spark)
    by_name = {o.name: o for o in res.ops}
    assert by_name[good].ok
    assert not by_name[bad].ok and "rowcount" in by_name[bad].error


def test_broken_dedup_counts_as_failed(tmp_path, monkeypatch):
    """Re-delivered rows repeat their payload, so only the fact values
    (play counts) show a dedup that keeps duplicates."""
    run.isolate(str(tmp_path))
    from wistia_data_pipeline_project_spark.operators import incremental

    monkeypatch.setattr(incremental, "dedup_events", lambda events, key_col="event_key": events)
    inp = workloads.prepare_pipeline(str(tmp_path), seed=6, seconds=3)
    spark, _ = run.start_session(str(tmp_path))
    try:
        tracer = workloads.Tracer(spark, enabled=False)
        res = workloads.run_pipeline(spark, tracer, inp)
    finally:
        run.stop_session(spark)
    by_name = {o.name: o for o in res.ops}
    assert not by_name["initial"].ok and "play_count" in by_name["initial"].error
    assert by_name["stream"].ok  # the stream dedups by itself
