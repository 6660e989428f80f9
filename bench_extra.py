"""Extra benchmarks for optimization work (round 6).

``bench.py`` is the frozen driver-facing harness; this file exists for
query-level isolation work (guide §1.4): timing a subset of queries with
the same steady-state protocol (one reused DataFrame, warm pass,
best-of-N) and capturing ``explain("formatted")`` plans.

Usage::

    python bench_extra.py time  <sf_dir> <query> [query ...]
    python bench_extra.py plan  <sf_dir> <out_dir> <suffix> <query> [...]
    python bench_extra.py noop  <sf_dir> <query> [query ...]
    python bench_extra.py fresh <sf_dir> <query> [query ...]
    python bench_extra.py jobs  <sf_dir> [query ...]
    python bench_extra.py build <sf_dir> [query ...]

``time`` prints one JSON line {"queries": {name: best_sec}, "sf": dir}.
``fresh`` follows the per-pass protocol of ``perfbench``'s near-dup
workload instead: every rep rebuilds the query's DataFrame, runs its
``toArrow()`` and then calls ``release_cached()``, so no rep reads a
relation an earlier rep persisted; the timed span is the build plus
``toArrow()`` (building runs jobs for some queries, e.g. the one edge
count of ``connected_components`` behind ``dedup_groups_scalable``).  It
prints the median of 5 reps after 1 warm-up rep in the same JSON shape.  ``time`` reuses one
DataFrame for its warm and timed passes, so a query that persists an
intermediate is timed reading that cache.
``jobs`` counts, for each named query (all of ``queries()`` when none is
named), the Spark jobs launched while building its DataFrame and those
its ``toArrow()`` launches: one line ``<query> <build> <run>`` each, then
a ``total`` line.  A query should launch none before its action runs; a
schema-less read or an eager intermediate shows up in the build column.
``build`` measures building a query's DataFrame on the driver, before any
action: for each named query (all of ``queries()`` when none is named)
it builds the DataFrame once to warm up, then ``BUILD_REPS`` more times,
and prints one line ``<query> <wall_ms> <cpu_ms> <py4j>`` with the
medians of the driver's wall and process CPU milliseconds and of the py4j
commands it sent (``plans.session.count_py4j``: memory-release commands
are not counted), then a ``total`` line of the per-query medians.
``noop`` times a full-materialization noop write instead of count()
(count() is what bench.py measures; noop shows whether column pruning
was hiding work).
``plan`` writes ``<out_dir>/<query>_<suffix>.txt`` per query, with every
expression id and exchange plan id stripped of its number
(``doc_id#123L`` -> ``doc_id#``, ``[plan_id=4351]`` -> ``[plan_id=]``):
both are session-wide counters that depend on what the session planned
and ran before, so two trees' plans of the same query can be compared
with a plain ``diff``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

BUILD_REPS = 10  # timed builds per query after one warm-up build

_SESSION_IDS = re.compile(r"(#|plan_id=)\d+L?")


def _get(queries, name):
    if name not in queries:
        raise SystemExit(f"unknown query {name!r}")
    return queries[name]


def main() -> None:
    mode = sys.argv[1]
    sf_dir = sys.argv[2]
    import __spark_entry__ as entry_mod
    from qwen_ocr_spark.plans.session import (count_jobs, count_py4j,
                                              gc_hint, get_spark,
                                              release_cached)

    spark = get_spark(app_name=f"bench-extra-{mode}")
    queries = entry_mod.queries()

    if mode == "plan":
        out_dir, suffix = sys.argv[3], sys.argv[4]
        os.makedirs(out_dir, exist_ok=True)
        for name in sys.argv[5:]:
            df = _get(queries, name)(spark, sf_dir)
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(_SESSION_IDS.sub(r"\1", df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")))
            print(f"wrote {path}")
            spark.catalog.clearCache()
        spark.stop()
        return

    if mode == "jobs":
        totals = [0, 0]
        for name in sys.argv[3:] or list(queries):
            query = _get(queries, name)
            df, build = count_jobs(spark, lambda: query(spark, sf_dir))
            run = count_jobs(spark, df.toArrow)[1]
            release_cached()
            totals = [totals[0] + build, totals[1] + run]
            print(f"{name:28s} {build:5d} {run:5d}", flush=True)
        print(f"{'total':28s} {totals[0]:5d} {totals[1]:5d}")
        spark.stop()
        return

    if mode == "build":
        totals = [0.0, 0.0, 0]
        for name in sys.argv[3:] or list(queries):
            query = _get(queries, name)
            query(spark, sf_dir)
            release_cached()
            reps = []
            for _ in range(BUILD_REPS):
                t0, c0 = time.perf_counter(), time.process_time()
                _, sent = count_py4j(spark, lambda: query(spark, sf_dir))
                reps.append(((time.perf_counter() - t0) * 1e3,
                             (time.process_time() - c0) * 1e3, sent))
                release_cached()
            wall, cpu, sent = (statistics.median(r[i] for r in reps)
                               for i in range(3))
            totals = [totals[0] + wall, totals[1] + cpu, totals[2] + sent]
            print(f"{name:28s} {wall:8.1f} {cpu:8.1f} {sent:6.0f}", flush=True)
        print(f"{'total':28s} {totals[0]:8.1f} {totals[1]:8.1f} "
              f"{totals[2]:6.0f}")
        spark.stop()
        return

    timings = {}
    for name in sys.argv[3:]:
        spark.sparkContext.setJobDescription(name)
        if mode == "fresh":
            query = _get(queries, name)
            times = []
            for _ in range(6):  # 1 warm-up + 5 timed reps
                t0 = time.perf_counter()
                query(spark, sf_dir).toArrow()
                times.append(time.perf_counter() - t0)
                release_cached()
            timings[name] = round(statistics.median(times[1:]), 3)
            continue
        df = _get(queries, name)(spark, sf_dir)
        gc_hint(spark)

        def act():
            if mode == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()

        act()  # warm pass
        best = float("inf")
        for _ in range(2):
            gc_hint(spark)
            t0 = time.perf_counter()
            act()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        spark.catalog.clearCache()
    spark.stop()
    print(json.dumps({"queries": timings, "sf": sf_dir, "mode": mode}))


if __name__ == "__main__":
    main()
