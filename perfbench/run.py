"""Benchmark runner: one workload, one driver process, ``local[<nproc>]``.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 10 --trace 0

Prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they
are its per-layer metrics, and the spans go to
``.perfbench_out/trace-<workload>-<seed>.json``.  Exits 1 when an output check
fails, 2 when the program is not next to the benchmark.

Run from the repository root.  Everything the run writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Session set-ups per run; setup_s is their median.  The first launches the
# JVM, the second reuses it: two keep a run inside its time budget (each
# set-up restarts the Python workers, about 3.5 s on 4 cores).
SETUPS = 2
HEAP = "1g"
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Phase progress on stderr (stdout carries only the result)."""
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr,
          flush=True)


def _env(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the program."""
    from perfbench.workloads import gc_log_path
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # A deployment setting: the program defaults to an 8g driver, more than
    # a shared 4-core box gives one run.  The heap size is fixed (no
    # resizing) but not pre-touched.  Its pages still fill up with garbage
    # between collections, so heap use is reported on its own: allocation
    # per operation, and (traced) the live heap after collections.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # SPARK_SUBMIT_OPTS reaches the driver JVM only, SPARK_LAUNCHER_OPTS
    # spark-submit's small launcher JVM
    jvm_files = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # all JIT compiler threads start with the JVM and none exits, so
    # probes.tree_cpu_s can tell their CPU time apart for the whole run
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"), jvm_files,
        f"-Xms{HEAP}", f"-Xlog:gc:file={gc_log_path(str(work))}",
        "-XX:-UseDynamicNumberOfCompilerThreads")))
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_files


def _warm_up(spark, seed: int) -> None:
    """The untimed warm-up operation of every set-up: a 16-page extraction
    into a noop sink (starts the Python workers, imports the program in
    them, compiles the scan, exchange and Arrow paths)."""
    from qwen_ocr_spark.operators.extract import extract_pages

    from perfbench.inputs import synth_pages_df
    (extract_pages(synth_pages_df(spark, 16, seed))
     .write.format("noop").mode("overwrite").save())


def start_session(master: str, seed: int):
    """Set up ``SETUPS`` times in this process and keep the last session.
    The JVM launches in the first set-up only; each set-up builds a new
    SparkContext and runs the warm-up."""
    from qwen_ocr_spark.plans.session import get_spark
    rows = []
    spark = None
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(master=master, app_name="perfbench")
        t1 = time.perf_counter()
        _warm_up(spark, seed)
        t2 = time.perf_counter()
        rows.append((t2 - t0, t1 - t0, t2 - t1))
    return spark, {
        "setup_s": statistics.median(r[0] for r in rows),
        "plans.get_spark_s": statistics.median(r[1] for r in rows),
        "plans.warmup_s": statistics.median(r[2] for r in rows),
        "plans.cold_setup_s": rows[0][0],
    }


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    workers it forked) to exit; it exits when its stdin closes."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def functions_probe(seed: int, n: int, tracer) -> dict[str, float]:
    """Direct calls into the ``functions`` layer over a fixed seeded sample
    of extract_batch payloads; per-document medians in ms."""
    import numpy as np

    from qwen_ocr_spark.sources.pages import gen_page

    from perfbench.workloads import FULL, direct_extract
    rng = np.random.default_rng([seed, 5])
    ids = sorted(rng.choice(FULL.batch_docs, size=n, replace=False))
    payloads = [gen_page(seed, int(d), "default")[2] for d in ids]
    acc: dict[str, list[float]] = {}
    for p in payloads:
        with tracer.span("direct_extract", "functions"):
            _, phases, kind, pages = direct_extract(p)
        for k, v in phases.items():
            per = pages if kind == "pdf" and k != "assemble" else 1
            acc.setdefault(f"{kind}.{k}", []).append(v * 1e3 / max(per, 1))

    def med(key: str) -> float:
        return statistics.median(acc[key]) if acc.get(key) else 0.0

    return {
        "functions.htmlx.decode_ms": med("html.decode"),
        "functions.htmlx.parse_ms": med("html.parse"),
        "functions.pdfx.parse_ms_per_page": med("pdf.parse"),
        "functions.pdfx.layout_ms_per_page": med("pdf.layout"),
        "functions.blocks.assemble_ms": statistics.median(
            acc.get("html.assemble", []) + acc.get("pdf.assemble", [])),
    }


def extract_probe(wl, n: int, reps: int = 3) -> dict[str, float]:
    """``extract_pages`` into a noop sink (no commit) over an ``n``-page
    seeded corpus, with Spark's UDF profiler on."""
    from pyspark.sql import functions as F

    from qwen_ocr_spark.operators.extract import extract_pages

    from perfbench.inputs import write_pages_corpus
    from perfbench.workloads import MB
    spark = wl.spark
    path = os.path.join(wl.work, "probe_pages")
    write_pages_corpus(spark, path, n, wl.seed + 7919)
    wl.metrics.read()
    times, metrics = [], []
    spark.profile.clear()
    wl.set_profiler(True)
    for _ in range(reps):
        with wl.tracer.span("extract_pages_noop", "operators.extract"):
            t0 = time.perf_counter()
            (extract_pages(spark.read.parquet(path))
             .write.format("noop").mode("overwrite").save())
            times.append(time.perf_counter() - t0)
        metrics.append(wl.metrics.read())
    wl.set_profiler(False)
    profiled = sum(s.total_tt for s in
                   spark._profiler_collector._perf_profile_results.values()) / reps
    errors = (extract_pages(spark.read.parquet(path))
              .where(F.col("error").isNotNull()).select("url").collect())
    m = metrics[len(metrics) // 2]
    skew = [mx / md for md, mx in m.python_task_med_max if md > 0]
    return {
        "operators.extract.noop_s": statistics.median(times),
        "operators.extract.python_in_mb": m.python_in_bytes / MB,
        "operators.extract.python_out_mb": m.python_out_bytes / MB,
        "operators.extract.shuffle_mb": m.shuffle_bytes / MB,
        "operators.extract.task_max_over_median": max(skew) if skew else 0.0,
        "operators.extract.udf_profiled_s": profiled,
        "operators.extract.docs": float(n),
        "operators.extract.error_rate": len(errors) / n,
    }


def traced_metrics(wl, setup: dict, seed: int, sizes,
                   names: list[str]) -> dict[str, float]:
    out = {k: v for k, v in setup.items() if k.startswith("plans.")}
    # self time per layer, averaged over the traced operations of the loop
    n_ops = sum(wl.op_traced)
    for layer, secs in wl.tracer.self_times().items():
        out[f"trace.self_s.{layer}"] = secs / n_ops
    wl.tracer.op_id = -1  # the layer probes below are not loop operations
    out.update(functions_probe(seed, sizes.sample_docs, wl.tracer))
    out.update(extract_probe(wl, sizes.probe_docs))
    # layer metrics the workload does not exercise read 0
    for name in names:
        out.setdefault(name, 0.0)
    out.update(wl.layer_metrics())
    untraced = wl.untraced_times()
    traced = [t for t, tr in zip(wl.op_times, wl.op_traced) if tr]
    base = statistics.median(untraced)
    out["trace.overhead_share"] = (statistics.median(traced) - base) / base
    # untraced operations only, as in an untraced run
    out["workload.op_p50_s"] = base
    e2e = wl.summary()
    out["workload.op_cpu_s"] = e2e["op_cpu_s"]
    out["workload.ref_cpu_s"] = e2e["ref_cpu_s"]
    out["trace.spans"] = float(len(wl.tracer.spans))
    out["jvm.live_heap_peak_mb"] = wl.heap_peak_mb
    out["jvm.jit_cpu_s"] = statistics.median(
        j for j, tr in zip(wl.op_jit_s, wl.op_traced) if not tr)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes (the benchmark's own tests)")
    args = ap.parse_args(argv)

    if not (ROOT / "qwen_ocr_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.probes import tree_peak_rss
    from perfbench.workloads import FULL, TINY, WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sizes = TINY if args.tiny else FULL
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    kind = "per_layer" if args.trace else "end_to_end"
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    spark = None
    try:
        nproc = len(os.sched_getaffinity(0))
        spark, setup = start_session(f"local[{nproc}]", args.seed)
        log(f"set up x{SETUPS} on local[{nproc}]: {setup}")
        wl = WORKLOADS[args.workload](args.seed, str(work), sizes, bool(args.trace))
        wl.start(spark)
        wl.prepare()
        log("inputs ready")
        e2e = wl.run(args.seconds)
        log(f"loop done: {len(wl.op_times)} ops {[round(t, 3) for t in wl.op_times]}")
        log(f"op cpu s {[round(t, 2) for t in wl.op_cpu_s]}; "
            f"JIT cpu s {[round(t, 2) for t in wl.op_jit_s]}; "
            f"ref cpu s {[round(a, 3) for a in wl.op_ref_s]}")
        e2e["setup_s"] = setup["setup_s"]
        rss = tree_peak_rss()
        log(f"warm-up op {wl.warm_op_s:.2f}s; peak RSS MB {[(n, round(mb)) for _, n, mb in rss]}")
        e2e["peak_rss_mb"] = sum(mb for _, _, mb in rss)
        log(f"live heap peak MB over the timed loop {wl.heap_peak_mb:.0f}; "
            f"heap allocated MB per op {[round(a) for a in wl.op_alloc_mb]}")
        if args.trace:
            metrics = traced_metrics(wl, setup, args.seed, sizes,
                                     [m["name"] for m in spec[kind]])
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps({
                "workload": args.workload, "seed": args.seed,
                "untraced_end_to_end": e2e, "per_layer": metrics,
                "op_times": wl.op_times, "op_traced": wl.op_traced,
                "spans": wl.tracer.to_json()}))
        else:
            metrics = e2e
        attempted = len(wl.op_times)
        failed = wl.failed_ops
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for p in wl.problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    result = {
        "correct": not wl.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in spec[kind]},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
