"""Build-vs-exec split probe (guide §1: measure first).

For each catalog entry, separately times
- ``build``: the Python builder call (logical-plan construction —
  py4j round-trips, driver-side collects/jobs inside the builder), and
- ``exec``: the noop-sink write of the already-built DataFrame

under the SAME session/warmup protocol as ``bench.py``. The split says
whether an entry's bench bill is plan-construction (attack with parsed
expressions / memoized collects, r11 changes 1 & 7) or execution
(attack with shuffle/join/UDF work, guide §2-4).

Usage: ``python tools/build_split_probe.py [query ...]``
Env: ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
``SPARK_GRAFT_PROBE_REPS`` (default 2; min over reps, matching bench).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wistia_data_pipeline_project_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "2")))

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = sys.argv[1:] or list(qs)

    spark = get_spark(app_name="build-split-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # bench.py's warmup: JVM/codegen + the Python worker pool; any
    # entry warms the JVM if the usual one is gone from the catalog
    warm = qs.get("events_high_water_mark") or next(iter(qs.values()))
    warm(spark, sf_dir).write.format("noop").mode("overwrite").save()
    n_slots = spark.sparkContext.defaultParallelism

    def _identity(batches):
        yield from batches

    (
        spark.range(0, n_slots * 2, 1, n_slots * 2)
        .mapInPandas(_identity, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    out: dict[str, dict[str, float]] = {}
    for name in names:
        builds, execs = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        out[name] = {
            "build": round(min(builds), 3),
            "exec": round(min(execs), 3),
            "total": round(min(b + e for b, e in zip(builds, execs)), 3),
        }
        print(
            f"{name}: build={out[name]['build']} exec={out[name]['exec']}",
            file=sys.stderr,
        )
    print(json.dumps({"sf_dir": sf_dir, "reps": reps, "entries": out}))


if __name__ == "__main__":
    main()
