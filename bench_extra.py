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
    python bench_extra.py alloc <sf_dir> [query ...]
    python bench_extra.py commit [--seed N]

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
``alloc`` measures what running a query costs the driver JVM: for each
named query (all of ``queries()`` when none is named) it runs one warm-up
rep and ``ALLOC_REPS`` more, each a fresh build, ``toArrow()`` and
``release_cached()`` as in ``fresh``, and prints one line
``<query> <alloc_mb> <compiles>`` with the medians of the heap the
driver JVM allocated (``ThreadMXBean.getTotalThreadAllocatedBytes``, the
source of perfbench's ``heap_alloc_mb``) and of the generated classes it
compiled (``CodegenMetrics``), then a ``total`` line of the medians.  A
query whose steady state still compiles code has a value in its
generated code (a literal codegen inlines).
``commit`` replays perfbench's append_resume commits at its sizes (same
seeded pages): ``COMMIT_HISTORY_RUNS`` history runs of
``COMMIT_HISTORY_DOCS`` pages in all, committed unmeasured, then
``COMMIT_INCREMENTS`` increments of ``COMMIT_NEW`` new and
``COMMIT_REPLAYED`` already-committed pages, each committed through the
calls ``scripts/run_extract.py --figures`` makes, in its order.  It prints
one line per call, ``<call> <wall_ms> <driver_ms> <jvm_ms> <workers_ms>
<heap_mb> <jobs> <py4j>``, with the medians over the increments of: wall
milliseconds; CPU milliseconds of the driver process, of the JVM (its JIT
and GC threads included) and of the Python workers (every process under
the JVM, with the reaped children of each), read from ``/proc``; the heap
the driver JVM allocated (the source of perfbench's ``heap_alloc_mb``);
the Spark jobs the call launched; and the py4j commands it sent.  A
``total`` line sums the medians.  ``read_pages`` is the workload's own
schema-less read of the increment, ``extract_pages`` only builds the
extraction plan (its work runs in ``write_figures``, which fills the
cache the output write reads).
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
ALLOC_REPS = 5   # measured runs per query after one warm-up run
# ``commit``: perfbench append_resume's sizes (``workloads.Sizes``)
COMMIT_HISTORY_DOCS = 150
COMMIT_HISTORY_RUNS = 3
COMMIT_INCREMENTS = 8
COMMIT_NEW = 32
COMMIT_REPLAYED = 8
COMMIT_CALLS = ("reconcile_manifest", "read_pages", "resume_filter",
                "extract_pages", "write_figures", "write_output")

_SESSION_IDS = re.compile(r"(#|plan_id=)\d+L?")


def _get(queries, name):
    if name not in queries:
        raise SystemExit(f"unknown query {name!r}")
    return queries[name]


def _cpu_ms(jvm_pid: int) -> list[float]:
    """[driver, JVM, Python workers] CPU milliseconds used so far, from the
    ``/proc/<pid>/stat`` fields [11:13] (a process's own user + system
    time) and [13:15] (its reaped children's)."""
    from perfbench.probes import _TICK_S, _stat_ticks, _tree_pids

    def ticks(pid, fields):
        return _stat_ticks(f"/proc/{pid}/stat", fields)

    workers = ticks(jvm_pid, slice(13, 15))
    for p in _tree_pids(jvm_pid)[1:]:
        try:
            workers += ticks(p, slice(11, 15))
        except OSError:
            continue  # exited since the listing; its parent counts it
    own = [ticks(os.getpid(), slice(11, 13)), ticks(jvm_pid, slice(11, 13))]
    return [t * _TICK_S * 1e3 for t in own + [workers]]


def commit(seed: int) -> None:
    """``commit`` mode (module docstring)."""
    import shutil
    import tempfile

    import numpy as np

    from perfbench import inputs
    from qwen_ocr_spark.operators.extract import extract_pages
    from qwen_ocr_spark.plans.session import count_jobs, count_py4j, get_spark
    from qwen_ocr_spark.sinks.manifest import (reconcile_manifest,
                                               resume_filter, write_figures,
                                               write_output)

    spark = get_spark(app_name="bench-extra-commit")
    mx = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    work = tempfile.mkdtemp(prefix="bench-extra-commit-")
    out, figs, man = (os.path.join(work, d) for d in ("out", "figs", "man"))
    reps: dict[str, list[list[float]]] = {c: [] for c in COMMIT_CALLS}

    def measure(rec, name, fn, *args):
        def probed():
            a0, c0 = mx.getTotalThreadAllocatedBytes(), _cpu_ms(jvm_pid)
            t0 = time.perf_counter()
            result, sent = count_py4j(spark, lambda: fn(*args))
            wall = (time.perf_counter() - t0) * 1e3
            c1, a1 = _cpu_ms(jvm_pid), mx.getTotalThreadAllocatedBytes()
            cpu = [b - a for a, b in zip(c0, c1)]
            return result, [wall, *cpu, (a1 - a0) / 2**20], sent
        (result, row, sent), jobs = count_jobs(spark, probed)
        if rec:
            reps[name].append(row + [jobs, sent])
        return result

    def run(pages_path, run_id, rec):
        measure(rec, "reconcile_manifest", reconcile_manifest, spark, out, man)
        pages = measure(rec, "read_pages", spark.read.parquet, pages_path)
        todo = measure(rec, "resume_filter", resume_filter, pages, out)
        out_df = measure(rec, "extract_pages", extract_pages, todo).cache()
        try:
            measure(rec, "write_figures", write_figures, out_df, figs, run_id)
            return measure(rec, "write_output", write_output, out_df, out,
                           man, run_id)
        finally:
            out_df.unpersist()

    try:
        plan = inputs.append_plan(seed, COMMIT_HISTORY_DOCS, COMMIT_INCREMENTS,
                                  COMMIT_NEW, COMMIT_REPLAYED)
        history, pool = (os.path.join(work, d) for d in ("history", "pool"))
        inputs.write_increments(
            spark, history,
            np.array_split(plan.history_ids, COMMIT_HISTORY_RUNS), seed)
        inputs.write_increments(spark, pool, [n + r for n, r in plan.increments],
                                seed)
        for k in range(COMMIT_HISTORY_RUNS):
            run(os.path.join(history, f"inc={k}"), f"run-history-{k:03d}", False)
        for i in range(COMMIT_INCREMENTS):
            n = run(os.path.join(pool, f"inc={i}"), f"run-inc-{i:03d}", True)
            if n != COMMIT_NEW:
                print(f"increment {i}: committed {n} rows, "
                      f"expected {COMMIT_NEW}", file=sys.stderr)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(f"{'call':20s} {'wall_ms':>8s} {'driver_ms':>9s} {'jvm_ms':>8s} "
          f"{'workers_ms':>10s} {'heap_mb':>8s} {'jobs':>5s} {'py4j':>6s}")
    total = [0.0] * 7
    for name in COMMIT_CALLS:
        med = [statistics.median(r[j] for r in reps[name]) for j in range(7)]
        total = [t + m for t, m in zip(total, med)]
        print(_commit_line(name, med))
    print(_commit_line("total", total))


def _commit_line(name: str, v: list[float]) -> str:
    return (f"{name:20s} {v[0]:8.1f} {v[1]:9.1f} {v[2]:8.1f} {v[3]:10.1f} "
            f"{v[4]:8.1f} {v[5]:5.0f} {v[6]:6.0f}")


def main() -> None:
    mode = sys.argv[1]
    if mode == "commit":
        args = sys.argv[2:]
        seed = int(args[args.index("--seed") + 1]) if "--seed" in args else 1
        commit(seed)
        return
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

    if mode == "alloc":
        mx = spark._jvm.java.lang.management.ManagementFactory \
            .getThreadMXBean()
        compiles = spark._jvm.org.apache.spark.metrics.source \
            .CodegenMetrics.METRIC_COMPILATION_TIME()
        totals = [0.0, 0]
        for name in sys.argv[3:] or list(queries):
            query = _get(queries, name)
            reps = []
            for _ in range(1 + ALLOC_REPS):
                a0, c0 = mx.getTotalThreadAllocatedBytes(), compiles.getCount()
                query(spark, sf_dir).toArrow()
                release_cached()
                reps.append(((mx.getTotalThreadAllocatedBytes() - a0) / 2**20,
                             compiles.getCount() - c0))
            mb, n = (statistics.median(r[i] for r in reps[1:])
                     for i in range(2))
            totals = [totals[0] + mb, totals[1] + n]
            print(f"{name:28s} {mb:8.1f} {n:6.0f}", flush=True)
        print(f"{'total':28s} {totals[0]:8.1f} {totals[1]:6.0f}")
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
