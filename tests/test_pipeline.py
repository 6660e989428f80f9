"""End-to-end Spark pipeline: source → extract → sinks → resume.

Covers SURVEY.md §3.1's restatement plus the north_rule requirements:
determinism across parallelism, manifest lineage, anti-join resume."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from qwen_ocr_spark.operators.extract import (
    extract_pages,
    figures_table,
    job_totals,
)
from qwen_ocr_spark.sinks.manifest import resume_filter, write_output
from qwen_ocr_spark.sources.pages import gen_page, synth_pages

N_DOCS = 60


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N_DOCS, seed=42, partitions=4).cache()


@pytest.fixture(scope="module")
def out(spark, pages):
    return extract_pages(pages, partitions=4).cache()


def test_source_schema_and_determinism(spark, pages):
    assert pages.count() == N_DOCS
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"]
    # regeneration is byte-identical
    again = synth_pages(spark, N_DOCS, seed=42, partitions=2)
    a = {r["url"]: r["html"] for r in pages.collect()}
    b = {r["url"]: r["html"] for r in again.collect()}
    assert a == b
    # different seed differs
    other = synth_pages(spark, N_DOCS, seed=7, partitions=2)
    c = {r["url"]: r["html"] for r in other.collect()}
    assert a != c


def test_source_has_skew_and_both_kinds(pages):
    hosts = (
        pages.withColumn("host", F.regexp_extract("url", r"https://([^/]+)/", 1))
        .groupBy("host").count().collect()
    )
    top = max(r["count"] for r in hosts)
    assert top >= 0.2 * N_DOCS  # hot domain
    kinds = {r["url"].endswith(".pdf") for r in pages.select("url").collect()}
    assert kinds == {True, False}


def test_extract_end_to_end(out):
    rows = out.collect()
    assert len(rows) == N_DOCS
    ok = [r for r in rows if r["error"] is None]
    assert len(ok) == N_DOCS  # synthetic corpus fully parseable
    nonempty = [r for r in ok if r["markdown"]]
    assert len(nonempty) == N_DOCS
    # every html doc keeps content and drops chrome
    for r in ok:
        if r["doc_kind"] == "html":
            assert "Sponsored" not in r["markdown"]
            assert "Copyright 2026" not in r["markdown"]
            assert r["n_blocks_dropped"] > 0
        assert r["digest"] is not None and len(r["digest"]) == 64
    pdfs = [r for r in ok if r["doc_kind"] == "pdf"]
    assert pdfs and all(r["n_pages"] >= 1 for r in pdfs)
    assert any(r["image_tokens"] > 0 for r in pdfs)


def test_extract_determinism_across_parallelism(spark, pages, out):
    # same input, different partitioning/salt → byte-identical digests per url
    out2 = extract_pages(pages, partitions=2, salt=99)
    d1 = {r["url"]: r["digest"] for r in out.select("url", "digest").collect()}
    d2 = {r["url"]: r["digest"] for r in out2.select("url", "digest").collect()}
    assert d1 == d2


def test_figures_table_explodes(out):
    figs = figures_table(out)
    rows = figs.collect()
    assert rows, "synthetic corpus should contain figures"
    for r in rows:
        x1, y1, x2, y2 = r["bbox"]
        assert 0 <= x1 < x2 <= 1000 and 0 <= y1 < y2 <= 1000
        area = (x2 - x1) * (y2 - y1) / 1e6
        assert 0.05 <= area <= 0.85
        assert r["fig_number"] >= 1
        assert r["element_type"] in {"chart", "graph", "diagram", "algorithm",
                                     "table", "screenshot", "other"}
    # pdf figures carry real payload bytes
    pdf_figs = [r for r in rows if r["url"].endswith(".pdf")]
    if pdf_figs:
        assert any(len(r["png"] or b"") > 0 for r in pdf_figs)


def test_job_totals(out):
    t = job_totals(out).collect()[0]
    assert t["documents"] == N_DOCS
    assert t["total_pages"] >= N_DOCS
    assert t["errors"] == 0
    assert t["total_cost"] == 0.0


def test_error_channel_bad_payload(spark):
    bad = spark.createDataFrame(
        pd.DataFrame({
            "url": ["https://x/bad.pdf", "https://x/ok"],
            "warc_ts": pd.to_datetime(["2026-01-01", "2026-01-01"]),
            "html": [b"%PDF-1.4 then total garbage", b"<body><p>Nine words of fine content in a paragraph.</p></body>"],
            "text": ["", ""],
            "lang": ["en", "en"],
        })
    )
    rows = {r["url"]: r for r in extract_pages(bad, partitions=1).collect()}
    # truncated pdf parses to zero pages → empty output, not a job failure
    assert rows["https://x/bad.pdf"]["markdown"] in ("", None)
    assert "Nine words" in rows["https://x/ok"]["markdown"]


def test_write_manifest_and_resume(spark, pages, out, tmp_path):
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")

    # first run commits only half the input
    half = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    write_output(extract_pages(half, partitions=2), out_path, man_path, "run1")
    n_half = spark.read.parquet(out_path).count()
    assert 0 < n_half < N_DOCS

    # resume: only the un-committed rows remain
    remaining = resume_filter(pages, out_path)
    assert remaining.count() == N_DOCS - n_half

    write_output(extract_pages(remaining, partitions=2), out_path, man_path, "run2")
    final = spark.read.parquet(out_path)
    assert final.count() == N_DOCS
    assert final.select("url").distinct().count() == N_DOCS

    # resumed result identical to a single-shot run
    oneshot = {r["url"]: r["digest"] for r in out.select("url", "digest").collect()}
    resumed = {r["url"]: r["digest"] for r in final.select("url", "digest").collect()}
    assert oneshot == resumed

    # manifest lineage: computed from each run's OWN rows (never a rescan
    # of the output dir), keyed (run_id, partition_id), totals exact
    man = spark.read.parquet(man_path)
    assert set(man.columns) == {"partition_id", "row_count", "content_digest",
                                "run_id", "committed_at"}
    per_run = {r["run_id"]: r["s"] for r in
               man.groupBy("run_id").agg(F.sum("row_count").alias("s")).collect()}
    assert per_run == {"run1": n_half, "run2": N_DOCS - n_half}
    assert man.agg(F.sum("row_count")).collect()[0][0] == N_DOCS
    assert man.count() == man.select("run_id", "partition_id").distinct().count()


def test_write_figures_run_scoped_and_crash_invisible(spark, pages, out, tmp_path):
    """Figures appends are O(this append) — a blind run_id-partitioned write
    that never reads the table — and exactly-once CONTENTS hold on the read
    side: ``read_figures`` shows only runs with manifest lineage, so a
    crashed attempt's orphan directory never surfaces and its replay under
    a fresh committed run provides the single visible copy."""
    from qwen_ocr_spark.sinks.manifest import read_figures, write_figures
    figs_path = str(tmp_path / "figs")
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")

    # committed run: figures first, then output+manifest (CLI ordering)
    write_figures(out, figs_path, "run1")
    write_output(out, out_path, man_path, "run1")
    vis1 = read_figures(spark, figs_path, man_path)
    n1 = vis1.count()
    assert n1 > 0 and "run_id" not in vis1.columns

    # crashed attempt: figures land under run2 but run2 never reaches the
    # manifest (job died before its output commit) — invisible to readers
    write_figures(out, figs_path, "run2")
    assert spark.read.parquet(figs_path).count() > n1  # physically appended
    assert read_figures(spark, figs_path, man_path).count() == n1

    # the replayed extraction commits under run3: each (url, page, fig)
    # visible exactly once, from a committed run only
    extra = synth_pages(spark, 10, seed=42, partitions=2, start=N_DOCS)
    out3 = extract_pages(extra, partitions=2)
    write_figures(out3, figs_path, "run3")
    write_output(out3, out_path, man_path, "run3")
    vis = read_figures(spark, figs_path, man_path)
    keys = vis.select("url", "page_number", "fig_number")
    assert keys.count() == keys.distinct().count()
    assert vis.count() >= n1

    # empty figures dir: readers get None, not an exception
    assert read_figures(spark, str(tmp_path / "nope"), man_path) is None


def test_read_output_split_brain_dedup(spark, out, tmp_path):
    """Round-5: two writers racing one out_path (the orphaned-JVM
    scenario) commit the same urls under different run_ids — the raw
    read shows duplicates, read_output(dedup=True) restores one row per
    url with the deterministic min-run_id winner; missing path → None."""
    from qwen_ocr_spark.sinks.manifest import read_output
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    write_output(out, out_path, man_path, "run-a")
    write_output(out, out_path, man_path, "run-b")  # split-brain twin
    raw = read_output(spark, out_path)
    n_urls = raw.select("url").distinct().count()
    assert raw.count() == 2 * n_urls
    fixed = read_output(spark, out_path, dedup=True)
    assert fixed.count() == n_urls
    assert {r["run_id"] for r in fixed.select("run_id").distinct().collect()} \
        == {"run-a"}
    assert read_output(spark, str(tmp_path / "nope")) is None


def test_clean_orphan_figures_janitor(spark, out, tmp_path):
    """Round-5 janitor: orphan figure run_id directories (no manifest
    lineage) older than the age threshold are deleted; committed
    directories and YOUNG orphans (in-flight runs) are untouched; the
    read_figures view is unchanged (orphans were never visible)."""
    import os
    from qwen_ocr_spark.sinks.manifest import (clean_orphan_figures,
                                               read_figures, write_figures)
    figs_path = str(tmp_path / "figs")
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")

    write_figures(out, figs_path, "committed1")
    write_output(out, out_path, man_path, "committed1")
    write_figures(out, figs_path, "orphan-old")
    write_figures(out, figs_path, "orphan-young")
    # age the old orphan past the threshold
    old_dir = os.path.join(figs_path, "run_id=orphan-old")
    os.utime(old_dir, (1, 1))

    before = sorted(r["url"] for r in
                    read_figures(spark, figs_path, man_path).collect())
    deleted = clean_orphan_figures(spark, figs_path, man_path,
                                   min_age_sec=3600)
    assert deleted == ["orphan-old"]
    assert not os.path.exists(old_dir)
    assert os.path.isdir(os.path.join(figs_path, "run_id=committed1"))
    assert os.path.isdir(os.path.join(figs_path, "run_id=orphan-young"))
    after = sorted(r["url"] for r in
                   read_figures(spark, figs_path, man_path).collect())
    assert after == before
    # min_age_sec=0 reaps the young orphan too; committed stays
    assert clean_orphan_figures(spark, figs_path, man_path,
                                min_age_sec=0) == ["orphan-young"]
    assert os.path.isdir(os.path.join(figs_path, "run_id=committed1"))
    # missing figures dir and missing manifest are both no-ops
    assert clean_orphan_figures(spark, str(tmp_path / "nope"), man_path) == []
    assert clean_orphan_figures(spark, figs_path,
                                str(tmp_path / "noman"), min_age_sec=1e12) == []


def test_write_figures_replay_same_run_id_exactly_once(spark, out, tmp_path):
    """Streaming replays re-deliver the SAME deterministic run_id
    (stream-{token}-{batch}); the figures write must be idempotent per
    run_id (dynamic partition overwrite), or a crash between the figures
    write and the output commit would surface TWO byte-identical copies
    once the manifest commits that run_id (ADVICE r3)."""
    from qwen_ocr_spark.sinks.manifest import read_figures, write_figures
    figs_path = str(tmp_path / "figs")
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    rid = "stream-tok-0"

    # attempt 1: a PARTIAL figures write (crash mid-write simulated by
    # writing a subset), then the replay writes the full set under the
    # same run_id, then output+manifest commit
    partial = out.limit(3)
    write_figures(partial, figs_path, rid)
    write_figures(out, figs_path, rid)  # replay: full attempt
    write_output(out, out_path, man_path, rid, replayable=True)

    vis = read_figures(spark, figs_path, man_path)
    keys = vis.select("url", "page_number", "fig_number")
    n = keys.count()
    assert n == keys.distinct().count()  # single copy per figure

    # a further full replay after the commit changes nothing
    write_figures(out, figs_path, rid)
    write_output(out, out_path, man_path, rid, replayable=True)
    assert read_figures(spark, figs_path, man_path).count() == n

    # an EMPTY replayed batch (resume drained it) must be a no-op, not a
    # truncate of the run directory
    write_figures(out.limit(0), figs_path, rid)
    assert read_figures(spark, figs_path, man_path).count() == n


def test_reconcile_manifest_backfills_crash_window(spark, pages, tmp_path):
    """A crash between output commit and manifest append must not undercount
    manifest totals forever: startup reconciliation backfills the orphaned
    run's lineage from the run-dir read-back (ADVICE r2)."""
    import shutil
    from qwen_ocr_spark.sinks.manifest import reconcile_manifest
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    half = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    rest = pages.filter(F.crc32(F.col("url")) % 2 != 0)
    n1 = write_output(extract_pages(half, partitions=2), out_path, man_path, "runA")
    n2 = write_output(extract_pages(rest, partitions=2), out_path, man_path, "runB")
    baseline = {(r["run_id"], r["partition_id"]): (r["row_count"], r["content_digest"])
                for r in spark.read.parquet(man_path).collect()}
    # simulate the crash window: output committed, manifest rows lost
    shutil.rmtree(man_path)
    assert reconcile_manifest(spark, out_path, man_path) == n1 + n2
    rebuilt = {(r["run_id"], r["partition_id"]): (r["row_count"], r["content_digest"])
               for r in spark.read.parquet(man_path).collect()}
    assert rebuilt == baseline  # same lineage, digest-for-digest
    # idempotent: nothing left to backfill
    assert reconcile_manifest(spark, out_path, man_path) == 0
    # no output yet: a fresh pipeline reconciles to zero, no exception
    assert reconcile_manifest(spark, str(tmp_path / "missing"), man_path) == 0


def test_extract_documents_narrowed_columns_identical(spark):
    """columns= must change only which fields cross the Arrow boundary:
    the emitted rows equal the full-schema output projected to the same
    columns (both payload routes: html and every-7th pdf)."""
    from qwen_ocr_spark.operators.extract import extract_documents

    docs = spark.createDataFrame(pd.DataFrame(
        [(i, f"body text number {i} with words") for i in range(1, 16)],
        columns=["doc_id", "text"]))
    cols = ["url", "doc_kind", "digest", "n_headers"]
    full = {tuple(r) for r in
            extract_documents(docs).select(*cols).collect()}
    narrow = {tuple(r) for r in
              extract_documents(docs, columns=cols).collect()}
    assert narrow == full and len(narrow) == 15
    # order requested != schema order: emitted in schema order regardless
    reordered = extract_documents(docs, columns=["digest", "url"])
    assert reordered.columns == ["url", "digest"]
    with pytest.raises(ValueError):
        extract_documents(docs, columns=["url", "nope"])


def test_extract_documents_empty_columns_raises(spark):
    """columns=[] would build a map node with an empty output schema;
    it is a caller error, reported as such (None means all columns)."""
    from qwen_ocr_spark.operators.extract import extract_documents

    docs = spark.createDataFrame(pd.DataFrame([(1, "body")],
                                              columns=["doc_id", "text"]))
    with pytest.raises(ValueError, match="no output column"):
        extract_documents(docs, columns=[])


def test_gen_page_pure_function():
    a = gen_page(42, 7)
    b = gen_page(42, 7)
    assert a == b


def _formatted_plan(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_plan_pruning_and_pushdown(spark, tmp_path):
    """Locks the scale claims: lang filter reaches the scan, crawl `text`
    column never read, exactly one exchange (the salted repartition)."""
    path = str(tmp_path / "pp")
    synth_pages(spark, 20, seed=42, partitions=2).write.parquet(path)
    df = spark.read.parquet(path)
    plan = _formatted_plan(extract_pages(df, lang="en"))
    assert "EqualTo(lang,en)" in plan          # predicate pushdown
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema           # column pruning
    assert plan.count("Exchange") == 2         # one exchange node + its detail line


def test_salted_repartition_balances_hot_domain(spark, pages):
    """The synthetic corpus is host-skewed (FIXTURES.md §1); after the
    salted url-hash repartition no partition holds more than ~2x the mean."""
    rep = pages.select("url").repartition(8, F.xxhash64("url", F.lit(0)))
    sizes = [
        r["count"]
        for r in rep.withColumn("pid", F.spark_partition_id())
                    .groupBy("pid").count().collect()
    ]
    mean = sum(sizes) / len(sizes)
    assert max(sizes) <= 2.5 * mean


def test_cancellation_then_resume(spark, tmp_path):
    """E3 direct test: cancel a running extraction job group mid-flight,
    then resume — committed work survives, the final table equals a clean
    run's, nothing reprocessed twice."""
    import threading
    import time as _time

    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    sc = spark.sparkContext
    pages_big = synth_pages(spark, 1500, seed=9, partitions=8)
    errs: list[Exception] = []

    def run():
        sc.setJobGroup("cancel-me", "cancellation test")  # thread-local
        try:
            write_output(extract_pages(pages_big, partitions=8),
                         out_path, man_path, "run1")
        except Exception as e:  # cancellation surfaces as a job failure
            errs.append(e)
        finally:
            sc.setJobGroup(None, None)

    t = threading.Thread(target=run)
    t.start()
    # wait until the job is actually running, then cancel it
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getActiveJobsIds():
            break
        _time.sleep(0.05)
    sc.cancelJobGroup("cancel-me")
    t.join(120)
    assert not t.is_alive()

    # whether the cancel landed mid-write (errs non-empty, partial/absent
    # output) or raced a fast finish, the resume path must converge to the
    # complete, correct table
    remaining = resume_filter(pages_big, out_path)
    write_output(extract_pages(remaining, partitions=8),
                 out_path, man_path, "run2")
    final = spark.read.parquet(out_path)
    assert final.select("url").distinct().count() == 1500
    assert final.count() == 1500
    oneshot = {r["url"]: r["digest"]
               for r in extract_pages(pages_big, partitions=4)
               .select("url", "digest").collect()}
    resumed = {r["url"]: r["digest"]
               for r in final.select("url", "digest").collect()}
    assert oneshot == resumed
