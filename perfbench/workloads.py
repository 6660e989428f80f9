"""The three workloads.  Each is a closed loop with one caller: an operation
starts only when the previous one has returned, builds its plans fresh,
and materializes its result in full (a real write or a full collect,
never ``count()``).

Every call into the program goes through ``Workload.call``, which opens a
span for the called layer in traced runs and reads Spark's metrics for the
SQL executions the call started.  Untraced runs use a tracer that records
nothing.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.probes import (
    ActionMetrics,
    NullTracer,
    SparkMetrics,
    Tracer,
    jvm_heap_allocated_mb,
    jvm_uptime_s,
    live_heap_peak_mb,
    planning_ms,
    tree_cpu_s,
)

MB = 1 << 20

# near_dup_analytics passes, in run order, with the layer each belongs to
PASSES = {
    "dedup_exact": "operators.dedup",
    "embedding_near_dups": "operators.similarity",
    "gopher_signals": "operators.textstats",
}
PASS_STATS = ("s", "planning_ms", "aqe_stages", "shuffle_mb", "broadcast_mb",
              "python_mb", "spill_mb")
SINK_CALLS = ("reconcile", "resume_filter", "write_figures", "write_output")


@dataclass(frozen=True)
class Sizes:
    batch_docs: int = 1000          # extract_batch: pages per batch commit
    history_docs: int = 150         # append_resume: committed history
    history_runs: int = 3           # ... spread over this many prior runs
    increments: int = 8             # increments generated: at most this many ops
    new_per_increment: int = 32
    replays_per_increment: int = 8
    near_dup_base_docs: int = 300   # near_dup_analytics originals
    sample_docs: int = 96           # functions-layer / digest sample
    probe_docs: int = 400           # operators.extract noop probe (traced)


FULL = Sizes()
TINY = Sizes(batch_docs=60, history_docs=60, history_runs=3, increments=6,
             new_per_increment=8, replays_per_increment=3,
             near_dup_base_docs=40, sample_docs=12, probe_docs=40)


def gc_log_path(work: str) -> str:
    """Where the driver JVM of a run logs its collections."""
    return os.path.join(work, "gc.log")


def direct_extract(payload: bytes):
    """The ``functions`` layer called directly, in the extraction operator's
    dispatch order; returns (DocResult, per-phase seconds, kind, pages)."""
    from qwen_ocr_spark.functions import blocks, htmlx, pdfx
    t = time.perf_counter
    if payload[:5] == b"%PDF-":
        a = t()
        pages = pdfx.parse_pdf(payload)
        b = t()
        blks = pdfx.pdf_pages_to_blocks(pages)
        c = t()
        res = blocks.assemble_document(blks)
        d = t()
        return res, {"parse": b - a, "layout": c - b, "assemble": d - c}, "pdf", len(pages)
    a = t()
    html = htmlx.decode_html_bytes(payload)
    b = t()
    pb = htmlx.parse_html(html)
    c = t()
    res = blocks.assemble_document([pb])
    d = t()
    return res, {"decode": b - a, "parse": c - b, "assemble": d - c}, "html", 1


def expected_digest(payload: bytes) -> str | None:
    """sha256 of the extracted text, or None where the program would route
    the document to its error channel."""
    try:
        res = direct_extract(payload)[0]
    except Exception:
        return None
    return hashlib.sha256(res.extracted_text.encode("utf-8")).hexdigest()


def reference_cpu_s(spark) -> float:
    """CPU seconds (JIT left out, as in ``op_cpu_s``) of a fixed JVM
    aggregation that runs no program code: the machine's speed at the time
    of the operation it precedes."""
    c0 = tree_cpu_s()[0]
    spark.range(0, 40_000_000, 1, 4).selectExpr("sum(hash(id))").collect()
    return tree_cpu_s()[0] - c0


class Workload:
    """Shared loop machinery; subclasses define ``prepare`` and ``op``."""

    name = ""
    min_ops = 5    # timed operations per run, even past ``seconds``
    warm_ops = 1   # untimed ``op(-1)`` calls before the loop
    max_ops = 1 << 30

    def __init__(self, seed: int, work: str, sizes: Sizes, traced: bool):
        self.seed, self.work, self.sizes, self.traced = seed, work, sizes, traced
        self.gc_log = gc_log_path(work)
        self.tracer: Tracer = Tracer() if traced else NullTracer()
        self.null = NullTracer()
        self.spark = None
        self.metrics: SparkMetrics | None = None
        self.problems: list[str] = []
        self.failed_ops = 0

    # -- span + Spark metrics around one call into the program ------------
    def call(self, tracer: Tracer, layer: str, name: str, fn, *args, **kw):
        with tracer.span(name, layer) as counts:
            out = fn(*args, **kw)
        if tracer is self.tracer and self.traced:
            counts.update(vars(self.metrics.read()))
        return out

    def start(self, spark) -> None:
        self.spark = spark
        if self.traced:
            self.metrics = SparkMetrics(spark)

    def set_profiler(self, on: bool) -> None:
        if not self.traced:
            return
        if on:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        else:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    # -- hooks -------------------------------------------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def op(self, i: int, tracer: Tracer) -> list[str]:
        """Run operation ``i``; return output-check problems.  Checks and
        bookkeeping inside go through ``untimed``."""
        raise NotImplementedError

    def finish(self) -> list[str]:
        """Checks that need the state after the whole loop."""
        return []

    # -- the loop ------------------------------------------------------------
    def run(self, seconds: float) -> dict:
        """Untimed warm-up operation, then a closed loop for ``seconds``.
        In traced runs half the operations are traced, in the pattern
        untraced, traced, traced, untraced: the untraced ones give the
        same-process baseline for the tracing overhead, and both halves sit
        at the same mean position in the loop (append_resume's table grows
        with every operation)."""
        self.op_times: list[float] = []
        self.op_alloc_mb: list[float] = []
        self.op_cpu_s: list[float] = []
        self.op_jit_s: list[float] = []
        self.op_ref_s: list[float] = []
        self.op_traced: list[bool] = []
        self.check_s = self.check_cpu_s = 0.0
        t0 = time.perf_counter()
        for _ in range(self.warm_ops):  # JIT, codegen cache, Python workers
            self.op(-1, self.null)
            reference_cpu_s(self.spark)
        self.warm_op_s = time.perf_counter() - t0
        loop_uptime_s = jvm_uptime_s(self.spark)
        t_start = time.perf_counter()
        i = 0
        while i < self.max_ops and (time.perf_counter() - t_start < seconds
                                    or len(self.op_times) < self.min_ops):
            traced = self.traced and i % 4 in (1, 2)
            tracer = self.tracer if traced else self.null
            self.tracer.op_id = i
            # just before the operation, so both see the machine alike
            self.op_ref_s.append(reference_cpu_s(self.spark))
            if traced:
                self.metrics.read()  # drop executions of untraced work
            self.set_profiler(traced)
            self.check_s = self.check_cpu_s = 0.0
            alloc0 = jvm_heap_allocated_mb(self.spark)
            cpu0, jit0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span(self.name, "workload"):
                    problems = self.op(i, tracer)
            except Exception as e:  # an operation that raises has failed
                problems = [f"op {i} raised {type(e).__name__}: {e}"]
            elapsed = time.perf_counter() - t0 - self.check_s
            cpu1, jit1 = tree_cpu_s()
            self.op_cpu_s.append(cpu1 - cpu0 - self.check_cpu_s)
            self.op_jit_s.append(jit1 - jit0)
            # includes what the checks allocate in the JVM (extract_batch
            # reads its commit back)
            self.op_alloc_mb.append(jvm_heap_allocated_mb(self.spark) - alloc0)
            if problems:
                self.failed_ops += 1
                self.problems += problems
            self.op_times.append(elapsed)
            self.op_traced.append(traced)
            i += 1
        self.set_profiler(False)
        self.heap_peak_mb = live_heap_peak_mb(self.spark, self.gc_log, loop_uptime_s)
        end_problems = self.finish()
        if end_problems:
            self.problems += end_problems
            self.failed_ops = len(self.op_times)
        return self.summary()

    def untraced_times(self) -> list[float]:
        return [t for t, tr in zip(self.op_times, self.op_traced) if not tr]

    def summary(self) -> dict:
        untraced = [not tr for tr in self.op_traced]
        op_cpu = statistics.median(c for c, u in zip(self.op_cpu_s, untraced) if u)
        ref_cpu = statistics.median(self.op_ref_s)
        return {
            "op_cpu_rel": op_cpu / ref_cpu,
            "op_cpu_s": op_cpu,
            "ref_cpu_s": ref_cpu,
            "op_p50_s": statistics.median(self.untraced_times()),
            "heap_alloc_mb": statistics.median(
                a for a, u in zip(self.op_alloc_mb, untraced) if u),
        }

    def untimed(self, fn, *args):
        """Run benchmark work (output checks, bookkeeping) inside an
        operation; its time and CPU time are taken out of the operation's."""
        t0 = time.perf_counter()
        cpu0 = tree_cpu_s()[0]
        try:
            return fn(*args)
        finally:
            self.check_cpu_s += tree_cpu_s()[0] - cpu0
            self.check_s += time.perf_counter() - t0

    # -- per-layer read-outs (traced runs) ---------------------------------
    def layer_metrics(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# extraction + commit (extract_batch, append_resume)
# --------------------------------------------------------------------------

def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and _-prefixed files
    (checksums, _SUCCESS) are bookkeeping and not counted."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class _CommitWorkload(Workload):
    """One commit = the calls ``scripts/run_extract.py`` makes in batch mode
    with ``--figures``, in its order."""

    def commit(self, tracer: Tracer, pages_path: str, out: str, figs: str,
               man: str, run_id: str) -> int:
        from qwen_ocr_spark.operators.extract import extract_pages
        from qwen_ocr_spark.sinks.manifest import (
            reconcile_manifest,
            resume_filter,
            write_figures,
            write_output,
        )
        spark = self.spark
        self.call(tracer, "sinks", "reconcile", reconcile_manifest, spark, out, man)
        pages = spark.read.parquet(pages_path)
        todo = self.call(tracer, "sinks", "resume_filter", resume_filter, pages, out)
        out_df = self.call(tracer, "operators.extract", "extract_pages",
                           extract_pages, todo).cache()
        try:
            self.call(tracer, "sinks", "write_figures", write_figures,
                      out_df, figs, run_id)
            return self.call(tracer, "sinks", "write_output", write_output,
                             out_df, out, man, run_id)
        finally:
            out_df.unpersist()

    def committed_state(self, out: str, man: str):
        """(urls, {url: digest}, manifest row counts) of a committed table."""
        rows = self.spark.read.parquet(out).select("url", "digest").collect()
        man_rows = self.spark.read.parquet(man).select("row_count").collect()
        return ([r["url"] for r in rows], {r["url"]: r["digest"] for r in rows},
                [r["row_count"] for r in man_rows])

    def sample_digests(self, doc_ids) -> dict[str, str | None]:
        from qwen_ocr_spark.sources.pages import gen_page
        out = {}
        for d in doc_ids:
            url, _, payload, _, _ = gen_page(self.seed, int(d), "default")
            out[url] = expected_digest(payload)
        return out

    def record_commit_io(self, tracer: Tracer, before: dict, dirs: dict,
                         input_path: str) -> None:
        """Files and bytes one traced commit added under ``dirs``."""
        if tracer is self.null:
            return
        input_bytes = _dir_stats(input_path)[1]
        files = size = 0
        for key, path in dirs.items():
            f, s = _dir_stats(path)
            files += f - before[key][0]
            size += s - before[key][1]
        self.commit_io.append((files, size / max(input_bytes, 1)))

    # -- layer probes shared by the commit workloads ------------------------
    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        by_name: dict[str, list[float]] = {c: [] for c in SINK_CALLS}
        for s in self.tracer.spans:
            if s.layer == "sinks":
                by_name[s.name].append(s.end - s.start)
        for c in SINK_CALLS:
            out[f"sinks.{c}_s"] = statistics.median(by_name[c]) if by_name[c] else 0.0
        if self.commit_io:
            out["sinks.files_written"] = statistics.median(f for f, _ in self.commit_io)
            out["sinks.bytes_written_per_input_byte"] = statistics.median(
                r for _, r in self.commit_io)
        return out


class ExtractBatch(_CommitWorkload):
    """One production batch commit of a fresh pages corpus into empty out,
    figures and manifest directories."""

    name = "extract_batch"

    def prepare(self) -> None:
        n = self.sizes.batch_docs
        self.pages = os.path.join(self.work, "pages")
        inputs.write_pages_corpus(self.spark, self.pages, n, self.seed)
        self.input_urls = pq.read_table(self.pages, columns=["url"]).column("url").to_pylist()
        rng = np.random.default_rng([self.seed, 3])
        sample = rng.choice(n, size=min(self.sizes.sample_docs, n), replace=False)
        self.expected = self.sample_digests(sorted(sample))
        self.commit_io: list[tuple[int, float]] = []
        self.replays_skipped = 0

    def op(self, i: int, tracer: Tracer) -> list[str]:
        base = os.path.join(self.work, f"op{i}")
        dirs = {k: os.path.join(base, k) for k in ("out", "figs", "man")}
        before = {k: (0, 0) for k in dirs}
        try:
            n = self.commit(tracer, self.pages, dirs["out"], dirs["figs"],
                            dirs["man"], f"run-bench-{i}")
            self.untimed(self.record_commit_io, tracer, before, dirs, self.pages)
            return self.untimed(self._check, n, dirs)
        finally:
            self.untimed(shutil.rmtree, base, True)

    def _check(self, n: int, dirs: dict) -> list[str]:
        urls, digests, man = self.committed_state(dirs["out"], dirs["man"])
        problems = checks.check_commit(urls, self.input_urls, man, digests,
                                       self.expected)
        if n != len(self.input_urls):
            problems.append(f"write_output reported {n} rows for "
                            f"{len(self.input_urls)} pages")
        return problems

    def layer_metrics(self) -> dict[str, float]:
        out = super().layer_metrics()
        out["sinks.replayed_urls_skipped"] = float(self.replays_skipped)
        return out


class AppendResume(_CommitWorkload):
    """Small increments committed into a table that already holds a history
    of many prior runs; each increment mixes new urls and replays.  The
    warm-up operation commits that history, one prior run at a time,
    through the same calls, so the timed commits start warm."""

    name = "append_resume"

    def prepare(self) -> None:
        sz = self.sizes
        self.plan = inputs.append_plan(self.seed, sz.history_docs, sz.increments,
                                       sz.new_per_increment, sz.replays_per_increment)
        self.out = os.path.join(self.work, "table", "out")
        self.figs = os.path.join(self.work, "table", "figs")
        self.man = os.path.join(self.work, "table", "man")
        self.history = os.path.join(self.work, "history")
        self.pool = os.path.join(self.work, "increments")
        inputs.write_increments(self.spark, self.history,
                                np.array_split(self.plan.history_ids, sz.history_runs),
                                self.seed)
        inputs.write_increments(self.spark, self.pool,
                                [new + replay for new, replay in self.plan.increments],
                                self.seed)
        self.expected_urls = set(
            pq.read_table(self.history, columns=["url"]).column("url").to_pylist())
        self.inc_urls = []
        for i in range(len(self.plan.increments)):
            t = pq.read_table(os.path.join(self.pool, f"inc={i}"), columns=["url"])
            self.inc_urls.append(t.column("url").to_pylist())
        rng = np.random.default_rng([self.seed, 4])
        self.sample_ids: list[int] = []
        self.commit_io: list[tuple[int, float]] = []
        self.replays_skipped = 0
        self.rng = rng
        # a faster commit path runs out of increments before ``seconds``;
        # the loop then ends early rather than replaying urls
        self.max_ops = len(self.plan.increments)

    def op(self, i: int, tracer: Tracer) -> list[str]:
        if i < 0:
            for k in range(self.sizes.history_runs):
                self.commit(tracer, os.path.join(self.history, f"inc={k}"),
                            self.out, self.figs, self.man, f"run-history-{k:03d}")
            return []
        new, replay = self.plan.increments[i]
        inc_path = os.path.join(self.pool, f"inc={i}")
        dirs = {"out": self.out, "figs": self.figs, "man": self.man}
        before = (self.untimed(lambda: {k: _dir_stats(p) for k, p in dirs.items()})
                  if tracer is not self.null else {})
        n = self.commit(tracer, inc_path, self.out, self.figs, self.man,
                        f"run-inc-{i:03d}")
        self.untimed(self.record_commit_io, tracer, before, dirs, inc_path)
        self.replays_skipped += len(self.inc_urls[i]) - n
        self.expected_urls.update(self.inc_urls[i])
        pick = self.rng.choice(len(new), size=min(2, len(new)), replace=False)
        self.sample_ids += [new[int(j)] for j in pick]
        return checks.check_replays(n, len(new))

    def finish(self) -> list[str]:
        urls, digests, man = self.committed_state(self.out, self.man)
        hist_sample = self.rng.choice(self.sizes.history_docs,
                                      size=min(8, self.sizes.history_docs),
                                      replace=False)
        expected = self.sample_digests(sorted(self.sample_ids) + sorted(hist_sample))
        return checks.check_commit(urls, self.expected_urls, man, digests, expected)

    def layer_metrics(self) -> dict[str, float]:
        out = super().layer_metrics()
        out["sinks.replayed_urls_skipped"] = float(self.replays_skipped)
        return out


# --------------------------------------------------------------------------
# near-dup analytics
# --------------------------------------------------------------------------

class NearDupAnalytics(Workload):
    """Corpus passes (dedup, similarity, text statistics) over a seeded
    documents + embeddings set; one operation runs every pass once."""

    name = "near_dup_analytics"
    # the first cycle runs about 2.5x, the next three 10-40% slower than
    # the steady state (JIT, codegen)
    warm_ops = 4

    def prepare(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        self.sf = os.path.join(self.work, "corpus")
        os.makedirs(self.sf, exist_ok=True)
        inputs.write_near_dup_tables(self.sf, self.seed, self.sizes.near_dup_base_docs)
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf}/{t}.parquet/*.parquet'")
            self.want = {p: checks.arrow_fingerprint(
                con.execute(oracles[p]).fetch_arrow_table()) for p in PASSES}
        finally:
            con.close()
        self.pass_stats: dict[str, list[dict]] = {p: [] for p in PASSES}

    def op(self, i: int, tracer: Tracer) -> list[str]:
        from qwen_ocr_spark.plans.session import release_cached
        problems = []
        for p, layer in PASSES.items():
            with tracer.span(p, layer) as counts:
                df = self.queries[p](self.spark, self.sf)
                plan_ms = planning_ms(df) if tracer is not self.null else 0.0
                table = df.toArrow()
                release_cached()
            if tracer is not self.null:
                m: ActionMetrics = self.metrics.read()
                counts.update(vars(m))
                s = self.tracer.spans[-1]
                self.pass_stats[p].append({
                    "s": s.end - s.start, "planning_ms": plan_ms,
                    "aqe_stages": m.stages, "shuffle_mb": m.shuffle_bytes / MB,
                    "broadcast_mb": m.broadcast_bytes / MB,
                    "python_mb": (m.python_in_bytes + m.python_out_bytes) / MB,
                    "spill_mb": m.spill_bytes / MB,
                })
            problems += self.untimed(
                lambda: checks.check_pass(p, checks.arrow_fingerprint(table),
                                          self.want[p]))
        return problems

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for p, layer in PASSES.items():
            rows = self.pass_stats[p]
            for stat in PASS_STATS:
                out[f"{layer}.{p}.{stat}"] = (
                    statistics.median(r[stat] for r in rows) if rows else 0.0)
        # useful-to-attempted ratios, each with its base (counts, so a
        # plain count() action is enough here)
        q = self.queries
        cands = q["lsh_pairs"](self.spark, self.sf).count()
        verified = q["jaccard_verified"](self.spark, self.sf).count()
        out["operators.dedup.lsh_candidate_pairs"] = float(cands)
        out["operators.dedup.lsh_precision"] = verified / cands if cands else 0.0
        from pyspark.sql import functions as F

        from qwen_ocr_spark.operators import similarity
        from qwen_ocr_spark.plans.session import release_cached
        e = self.spark.read.parquet(f"{self.sf}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        rows = e.count()
        pairs = similarity.lsh_candidate_pairs(e).count()
        release_cached()
        out["operators.similarity.rows"] = float(rows)
        out["operators.similarity.candidate_ratio"] = pairs / rows if rows else 0.0
        return out


WORKLOADS = {w.name: w for w in (ExtractBatch, AppendResume, NearDupAnalytics)}
