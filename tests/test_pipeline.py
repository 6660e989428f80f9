"""End-to-end Spark pipeline: source → extract → sinks → resume.

Covers SURVEY.md §3.1's restatement plus the north_rule requirements:
determinism across parallelism, manifest lineage, anti-join resume."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from qwen_ocr_spark.operators.extract import (
    OUT_SCHEMA,
    extract_pages,
    figures_table,
    job_totals,
)
from qwen_ocr_spark.plans.session import count_jobs
from qwen_ocr_spark.sinks.manifest import resume_filter, write_output
from qwen_ocr_spark.sources.pages import PAGES_SCHEMA, gen_page, synth_pages

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
    """Figures writes are O(this run) — a run_id-partitioned write that
    never reads the table — and exactly-once CONTENTS hold on the read
    side: ``read_figures`` shows only runs the output has committed, so a
    crashed attempt's orphan directory (figures written, no output) never
    surfaces and its replay under a fresh committed run provides the
    single visible copy."""
    from qwen_ocr_spark.sinks.manifest import read_figures, write_figures
    figs_path = str(tmp_path / "figs")
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")

    # committed run: figures first, then output+manifest (CLI ordering)
    write_figures(out, figs_path, "run1")
    write_output(out, out_path, man_path, "run1")
    vis1 = read_figures(spark, figs_path, out_path)
    n1 = vis1.count()
    assert n1 > 0 and "run_id" not in vis1.columns

    # crashed attempt: figures land under run2 but run2 never reaches the
    # output (job died before its output commit) — invisible to readers
    write_figures(out, figs_path, "run2")
    assert spark.read.parquet(figs_path).count() > n1  # physically appended
    assert read_figures(spark, figs_path, out_path).count() == n1

    # the replayed extraction commits under run3: each (url, page, fig)
    # visible exactly once, from a committed run only
    extra = synth_pages(spark, 10, seed=42, partitions=2, start=N_DOCS)
    out3 = extract_pages(extra, partitions=2)
    write_figures(out3, figs_path, "run3")
    write_output(out3, out_path, man_path, "run3")
    vis = read_figures(spark, figs_path, out_path)
    keys = vis.select("url", "page_number", "fig_number")
    assert keys.count() == keys.distinct().count()
    assert vis.count() >= n1

    # empty figures dir: readers get None, not an exception
    assert read_figures(spark, str(tmp_path / "nope"), out_path) is None


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
    """Orphan figure run_id directories (figures written, no output run
    directory: the job died before its output commit) are deleted once
    older than ``ORPHAN_MIN_AGE_SEC``; committed directories and YOUNG
    orphans (in-flight runs) are untouched; the read_figures view is
    unchanged (orphans were never visible)."""
    import os
    from qwen_ocr_spark.sinks.manifest import (ORPHAN_MIN_AGE_SEC,
                                               clean_orphan_figures,
                                               read_figures, write_figures)
    figs_path = str(tmp_path / "figs")
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")

    write_figures(out, figs_path, "committed1")
    write_output(out, out_path, man_path, "committed1")
    write_figures(out, figs_path, "orphan-old")
    write_figures(out, figs_path, "orphan-young")

    def age(run_id):  # push the directory's mtime past the threshold
        d = os.path.join(figs_path, f"run_id={run_id}")
        t = os.path.getmtime(d) - ORPHAN_MIN_AGE_SEC - 60
        os.utime(d, (t, t))

    age("orphan-old")
    age("committed1")
    before = sorted(r["url"] for r in
                    read_figures(spark, figs_path, out_path).collect())
    assert clean_orphan_figures(spark, figs_path, out_path) == ["orphan-old"]
    assert not os.path.exists(os.path.join(figs_path, "run_id=orphan-old"))
    assert os.path.isdir(os.path.join(figs_path, "run_id=committed1"))
    assert os.path.isdir(os.path.join(figs_path, "run_id=orphan-young"))
    after = sorted(r["url"] for r in
                   read_figures(spark, figs_path, out_path).collect())
    assert after == before
    # once aged, the young orphan is reaped too; committed stays
    age("orphan-young")
    assert clean_orphan_figures(spark, figs_path, out_path) == ["orphan-young"]
    assert os.path.isdir(os.path.join(figs_path, "run_id=committed1"))
    # a missing figures dir is a no-op
    assert clean_orphan_figures(spark, str(tmp_path / "nope"), out_path) == []


def test_clean_staging_janitor(spark, out, tmp_path):
    """``.spark-staging-*`` directories that killed writes left under the
    output, figures and manifest roots are deleted once older than
    ``ORPHAN_MIN_AGE_SEC``; a young one (a write in flight) is kept, and
    what ``read_output`` and ``read_figures`` show is unchanged."""
    import os
    import shutil
    from qwen_ocr_spark.sinks.manifest import (ORPHAN_MIN_AGE_SEC,
                                               clean_staging, read_figures,
                                               read_output, run_dir_path,
                                               write_figures)
    roots = {t: str(tmp_path / t) for t in ("out", "figs", "man")}
    write_figures(out, roots["figs"], "run1")
    write_output(out, roots["out"], roots["man"], "run1")

    def view():
        return (sorted(tuple(r) for r in read_output(spark, roots["out"])
                       .select("url", "digest", "run_id").collect()),
                sorted(tuple(r) for r in
                       read_figures(spark, roots["figs"], roots["out"])
                       .select("url", "page_number", "fig_number").collect()))

    before = view()
    for root in roots.values():  # a killed run2's part files, staged
        for job in ("old", "young"):
            staged = os.path.join(root, f".spark-staging-{job}")
            shutil.copytree(run_dir_path(spark, root, "run1"),
                            os.path.join(staged, "run_id=run2"))
        old = os.path.join(root, ".spark-staging-old")
        t = os.path.getmtime(old) - ORPHAN_MIN_AGE_SEC - 60
        os.utime(old, (t, t))
    assert view() == before
    for root in roots.values():
        assert clean_staging(spark, root) == [".spark-staging-old"]
        assert sorted(d for d in os.listdir(root) if d.startswith(
            (".spark-staging-", "run_id="))) == [".spark-staging-young",
                                                 "run_id=run1"]
    assert view() == before
    assert clean_staging(spark, str(tmp_path / "nope")) == []


def test_write_figures_replay_same_run_id_exactly_once(spark, out, tmp_path):
    """Streaming replays re-deliver the SAME deterministic run_id
    (stream-{token}-{batch}); the figures write must be idempotent per
    run_id (dynamic partition overwrite), or a crash between the figures
    write and the output commit would surface TWO byte-identical copies
    once the output commits that run_id; a replay after the commit is a
    no-op."""
    from qwen_ocr_spark.sinks.manifest import (commit_run, read_figures,
                                               write_figures)
    figs_path = str(tmp_path / "figs")
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    rid = "stream-tok-0"

    # attempt 1: a PARTIAL figures write (crash mid-write simulated by
    # writing a subset), then the replay writes the full set under the
    # same run_id, then output+manifest commit
    partial = out.limit(3)
    write_figures(partial, figs_path, rid)
    assert commit_run(out, out_path, man_path, rid, figs_path) > 0  # replay

    vis = read_figures(spark, figs_path, out_path)
    keys = vis.select("url", "page_number", "fig_number")
    n = keys.count()
    assert n == keys.distinct().count()  # single copy per figure

    # a further full replay after the commit changes nothing
    assert commit_run(out, out_path, man_path, rid, figs_path) == 0
    assert read_figures(spark, figs_path, out_path).count() == n

    # an EMPTY replayed batch (resume drained it) must be a no-op, not a
    # truncate of the run directory
    write_figures(out.limit(0), figs_path, rid)
    assert read_figures(spark, figs_path, out_path).count() == n


def test_reconcile_manifest_backfills_crash_window(spark, pages, tmp_path):
    """A crash between output commit and manifest write must not undercount
    manifest totals forever: startup reconciliation backfills the orphaned
    run's lineage from the run-dir read-back."""
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


def test_reconcile_all_digit_run_id_backfilled_once(spark, tmp_path):
    """Partition inference types a ``run_id=20261017`` directory as int
    while the manifest stores the run_id as a string: the run must still
    count as recorded (reconcile backfills nothing, however often it runs)
    and readers see the run_id as a string."""
    from qwen_ocr_spark.sinks.manifest import read_output, reconcile_manifest
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    pages16 = synth_pages(spark, 16, seed=5, partitions=2)
    assert write_output(extract_pages(pages16, partitions=2),
                        out_path, man_path, "20261017") == 16
    assert reconcile_manifest(spark, out_path, man_path) == 0
    assert reconcile_manifest(spark, out_path, man_path) == 0
    man = spark.read.parquet(man_path)
    assert man.agg(F.sum("row_count")).collect()[0][0] == 16
    assert dict(read_output(spark, out_path).dtypes)["run_id"] == "string"


def test_commit_path_launches_no_metadata_jobs(spark, pages, tmp_path):
    """Every "is this run committed?" question is a directory listing:
    reconciling a consistent table, building the resume anti-join and the
    committed figures view, and committing an already-committed run_id
    (a replayed micro-batch, with a lazily built extraction) launch no
    Spark job, however many runs the output holds."""
    from qwen_ocr_spark.sinks.manifest import (commit_run, read_figures,
                                               reconcile_manifest)
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    figs_path = str(tmp_path / "figs")
    for k in range(4):
        quarter = pages.filter(F.crc32(F.col("url")) % 4 == k)
        commit_run(extract_pages(quarter, partitions=2),
                   out_path, man_path, f"run{k}", figs_path)
        if k in (0, 3):  # one committed run, then four
            assert count_jobs(
                spark, lambda: resume_filter(pages, out_path))[1] == 0
            assert count_jobs(
                spark, lambda: read_figures(spark, figs_path, out_path))[1] == 0
            assert count_jobs(
                spark, lambda: reconcile_manifest(spark, out_path, man_path)) \
                == (0, 0), k
            replay = extract_pages(resume_filter(quarter, out_path), partitions=2)
            assert count_jobs(
                spark, lambda: commit_run(replay, out_path, man_path,
                                          f"run{k}", figs_path)) == (0, 0), k


def _collected_manifest(spark, out_path, man_path, run_id):
    """The manifest write as the sink did it before its one-job write:
    collect the aggregate, rebuild it with ``createDataFrame`` and write
    that; returns the summed row count."""
    from qwen_ocr_spark.sinks.manifest import (MANIFEST_SCHEMA,
                                               RUN_DIR_SCHEMA, _overwrite_run,
                                               run_dir_path)
    rows = (
        spark.read.schema(RUN_DIR_SCHEMA)
        .parquet(run_dir_path(spark, out_path, run_id))
        .groupBy("partition_id")
        .agg(F.count("*").alias("row_count"),
             F.sha2(F.concat_ws(",", F.sort_array(F.collect_list("digest"))),
                    256).alias("content_digest"))
        .withColumn("committed_at", F.current_timestamp())
        .withColumn("run_id", F.lit(run_id))
        .collect())
    _overwrite_run(spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1),
                   man_path)
    return sum(r["row_count"] for r in rows)


def test_write_manifest_one_query_same_rows(spark, pages, tmp_path):
    """The manifest is written straight from the aggregate of the run
    directory, with its row count observed on that write: the same count
    and the same rows (``committed_at`` aside) as collecting the aggregate
    and rebuilding it, in one SQL execution that scans no local RDD."""
    import pathlib
    from qwen_ocr_spark.sinks.manifest import MANIFEST_SCHEMA, _write_manifest
    out_path = str(tmp_path / "out")
    pages3 = pages.filter(F.crc32(F.col("url")) % 3 == 0)
    n = write_output(extract_pages(pages3, partitions=3), out_path,
                     str(tmp_path / "m0"), "run:1")

    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return {e.executionId(): e for e in
                conv.asJava(store.executionsList())}

    seen = executions().keys()
    assert _write_manifest(spark, out_path, str(tmp_path / "new"),
                           "run:1") == n
    new = [e for i, e in executions().items() if i not in seen]
    assert len(new) == 1
    plan = new[0].physicalPlanDescription() + " ".join(
        node.name() for node in
        conv.asJava(store.planGraph(new[0].executionId()).allNodes()))
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert _collected_manifest(spark, out_path, str(tmp_path / "old"),
                               "run:1") == n

    def rows(path):
        return sorted(tuple(r) for r in spark.read.schema(MANIFEST_SCHEMA)
                      .parquet(path).drop("committed_at").collect())

    assert rows(str(tmp_path / "new")) == rows(str(tmp_path / "old"))
    assert len(rows(str(tmp_path / "new"))) == 3
    sinks = pathlib.Path(__file__).parent.parent / "qwen_ocr_spark" / "sinks"
    assert not [p for p in sinks.glob("*.py")
                if "createDataFrame" in p.read_text()]


def test_declared_schemas_match_written_tables(spark, out, tmp_path):
    """The schemas the sinks declare for reading their own tables equal, in
    names, types and order, what Parquet inference finds in tables they
    just wrote, so a column added to the output cannot silently drop out
    of a read."""
    from qwen_ocr_spark.sinks.manifest import (FIGURES_SCHEMA,
                                               MANIFEST_SCHEMA,
                                               OUTPUT_SCHEMA, RUN_DIR_SCHEMA,
                                               write_figures)
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    figs_path = str(tmp_path / "figs")
    write_figures(out, figs_path, "run1")
    write_output(out, out_path, man_path, "run1")
    for declared, path in [(OUTPUT_SCHEMA, out_path),
                           (RUN_DIR_SCHEMA, f"{out_path}/run_id=run1"),
                           (MANIFEST_SCHEMA, man_path),
                           (FIGURES_SCHEMA, figs_path)]:
        inferred = spark.read.parquet(path).schema
        assert spark.read.schema(declared).parquet(path).schema.simpleString() \
            == inferred.simpleString(), path


def test_reconcile_lists_only_run_directories(spark, pages, tmp_path):
    """Reconcile finds the output's runs from a directory listing: only
    ``run_id=`` directories count (Spark's bookkeeping, hidden files and
    stray directories do not), their names are unescaped as partition
    discovery does, and a run directory without data files backfills no
    manifest row."""
    import os
    import shutil
    from qwen_ocr_spark.sinks.manifest import _has_run, reconcile_manifest
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    half = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    rest = pages.filter(F.crc32(F.col("url")) % 2 != 0)
    n1 = write_output(extract_pages(half, partitions=2), out_path, man_path, "runA")
    # a run_id the partitioned write escapes on disk (run_id=run%3AB)
    n2 = write_output(extract_pages(rest, partitions=2), out_path, man_path, "run:B")
    assert os.path.isdir(os.path.join(out_path, "run_id=run%3AB"))
    assert _has_run(spark, out_path, "run:B")
    assert not _has_run(spark, out_path, "run:C")
    shutil.rmtree(man_path)  # the crash window: both runs lose lineage
    os.makedirs(os.path.join(out_path, "_temporary", "0"))
    open(os.path.join(out_path, "_temporary", "0", "part-0.parquet"), "w").close()
    os.makedirs(os.path.join(out_path, ".spark-staging-1", "run_id=runC"))
    open(os.path.join(out_path, ".hidden"), "w").close()
    open(os.path.join(out_path, "_SUCCESS"), "w").close()
    os.makedirs(os.path.join(out_path, "not_a_run"))
    os.makedirs(os.path.join(out_path, "run_id=ghost"))
    assert reconcile_manifest(spark, out_path, man_path) == n1 + n2
    per_run = {r["run_id"]: r["s"] for r in spark.read.parquet(man_path)
               .groupBy("run_id").agg(F.sum("row_count").alias("s")).collect()}
    assert per_run == {"runA": n1, "run:B": n2}
    assert reconcile_manifest(spark, out_path, man_path) == 0


def test_reconcile_refuses_flat_manifest(spark, out, tmp_path):
    """A manifest appended before the manifest was partitioned by run_id
    keeps its files at the table root, where Spark reads them and ignores
    ``run_id=`` directories beside them: reconcile refuses such a root
    instead of writing lineage nobody would read, and once it is moved
    aside re-derives the manifest whole from the output."""
    import shutil
    from qwen_ocr_spark.sinks.manifest import reconcile_manifest
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    n = write_output(out, out_path, str(tmp_path / "lost"), "run1")
    spark.createDataFrame(
        [(0, n, "digest", "run1")],
        "partition_id int, row_count bigint, content_digest string, "
        "run_id string").write.parquet(man_path)
    with pytest.raises(ValueError, match="outside any run_id= directory"):
        reconcile_manifest(spark, out_path, man_path)
    shutil.move(man_path, str(tmp_path / "old_manifest"))
    assert reconcile_manifest(spark, out_path, man_path) == n
    assert spark.read.parquet(man_path).agg(
        F.sum("row_count")).collect()[0][0] == n


def test_uncommitted_staging_run_is_invisible(spark, pages, tmp_path):
    """A write killed before its job commit leaves its part files under the
    hidden ``.spark-staging-*`` directory and no run directory: none of
    its rows is visible to the raw read or to ``read_output``, resume keeps
    every one of its urls, and reconcile records no lineage for it."""
    import os
    import shutil
    from qwen_ocr_spark.sinks.manifest import (read_output, reconcile_manifest,
                                               run_dir_path)
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    half = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    rest = pages.filter(F.crc32(F.col("url")) % 2 != 0)
    n1 = write_output(extract_pages(half, partitions=2), out_path, man_path, "runA")
    # runB's task output, as the kill left it: staged, never renamed
    scratch = str(tmp_path / "scratch")
    write_output(extract_pages(rest, partitions=2), scratch,
                 str(tmp_path / "scratch_man"), "runB")
    staged = os.path.join(out_path, ".spark-staging-0", "run_id=runB")
    os.makedirs(os.path.dirname(staged))
    shutil.move(run_dir_path(spark, scratch, "runB"), staged)
    assert any(f.endswith(".parquet") for f in os.listdir(staged))

    assert spark.read.parquet(out_path).count() == n1
    assert read_output(spark, out_path).count() == n1
    assert read_output(spark, out_path, dedup=True).count() == n1
    rest_urls = {r["url"] for r in rest.select("url").collect()}
    kept = {r["url"] for r in resume_filter(pages, out_path).collect()}
    assert kept == rest_urls
    assert reconcile_manifest(spark, out_path, man_path) == 0


def test_write_output_same_run_id_replaces_attempt(spark, pages, tmp_path):
    """Writing a run_id again replaces its earlier attempt, output and
    manifest alike, instead of appending beside it."""
    from qwen_ocr_spark.sinks.manifest import read_output
    out_path = str(tmp_path / "out")
    man_path = str(tmp_path / "manifest")
    first = pages.filter(F.crc32(F.col("url")) % 3 == 0)
    second = pages.filter(F.crc32(F.col("url")) % 3 != 0)
    n1 = write_output(extract_pages(first, partitions=2), out_path, man_path, "r")
    n2 = write_output(extract_pages(second, partitions=2), out_path, man_path, "r")
    assert 0 < n1 and 0 < n2 and n1 + n2 == N_DOCS
    urls = {r["url"] for r in read_output(spark, out_path).collect()}
    assert urls == {r["url"] for r in second.select("url").collect()}
    man = spark.read.parquet(man_path)
    assert man.agg(F.sum("row_count")).collect()[0][0] == n2
    assert man.count() == man.select("partition_id").distinct().count()


def test_extract_documents_narrowed_columns_identical(spark):
    """columns= must change only which fields cross the Arrow boundary:
    the emitted rows equal the full-schema output projected to the same
    columns (both payload routes: html and every-7th pdf)."""
    from qwen_ocr_spark.sources.pages import extract_documents

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


@pytest.mark.parametrize("figured", [False, True])
def test_extract_documents_equals_extract_pages_over_bridge(spark, figured):
    """The fused bridge is row-identical to synthesizing the bridge pages
    first and running the production operator over them: every
    ``OUT_SCHEMA`` column (both sides emit the full schema), figures and
    error included.  The doc ids cover
    the plain html route and the pdf route's encoding variants."""
    import datetime as dt

    from qwen_ocr_spark.sources.pages import (
        EPOCH,
        PAGES_SCHEMA,
        _bridge_html,
        _bridge_html_figured,
        _bridge_pdf,
        extract_documents,
    )

    ids = list(range(1, 16)) + [35, 42, 70, 105, 154, 182, 231, 266, 322, 406]
    docs = [(i, f"body <text> & words for doc {i} " * (1 + i % 9))
            for i in ids]
    pages = []
    for doc_id, text in docs:
        if figured:
            payload = _bridge_html_figured(doc_id, text)
            url = f"https://docs.example.com/fig/{doc_id}"
        elif doc_id % 7 == 0:
            payload = _bridge_pdf(doc_id, text)
            url = f"https://docs.example.com/{doc_id}.pdf"
        else:
            payload = _bridge_html(doc_id, text)
            url = f"https://docs.example.com/{doc_id}"
        ts = EPOCH + dt.timedelta(seconds=doc_id)
        pages.append((url, ts, payload, text, "en"))
    pages_df = spark.createDataFrame(pages, schema=PAGES_SCHEMA)
    docs_df = spark.createDataFrame(docs, schema="doc_id bigint, text string")

    via_pages = extract_pages(pages_df, repartition=False)
    fused = extract_documents(docs_df, figured=figured)
    assert fused.schema == via_pages.schema
    a = {r["url"]: r for r in via_pages.collect()}
    b = {r["url"]: r for r in fused.collect()}
    assert len(a) == len(ids)
    assert a == b
    kinds = {r["doc_kind"] for r in a.values()}
    assert kinds == ({"html"} if figured else {"html", "pdf"})
    if figured:
        assert all(len(r["figures"]) == 1 for r in a.values())


def test_extract_documents_empty_columns_raises(spark):
    """columns=[] would build a map node with an empty output schema;
    it is a caller error, reported as such (None means all columns)."""
    from qwen_ocr_spark.sources.pages import extract_documents

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
    column never read; a one-task input plans ``Coalesce 1`` and no
    exchange, an explicit width exactly one exchange (the salted
    repartition)."""
    path = str(tmp_path / "pp")
    synth_pages(spark, 20, seed=42, partitions=2).write.parquet(path)
    # inferred, and declared as scripts/run_extract.py reads it
    for df in (spark.read.parquet(path),
               spark.read.schema(PAGES_SCHEMA).parquet(path)):
        plan = _formatted_plan(extract_pages(df, lang="en"))
        assert "EqualTo(lang,en)" in plan      # predicate pushdown
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "text" not in read_schema       # column pruning
        assert "Exchange" not in plan
        assert _extract_width(extract_pages(df, lang="en")) == 1
        plan = _formatted_plan(extract_pages(df, lang="en", partitions=3))
        assert plan.count("Exchange") == 2     # one exchange node + its detail line
        assert "xxhash64(url" in plan
        assert "Coalesce" not in plan


def _extract_width(df):
    """The partition count the extraction runs in: the width of the salted
    shuffle in ``df``'s plan, or 1 when the plan coalesces its input to
    one partition instead (and has no exchange)."""
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [l for l in plan.splitlines()
             if "Exchange" in l and "REPARTITION_BY_NUM" in l]
    if not lines:
        assert "Coalesce 1" in plan and "Exchange" not in plan, plan
        return 1
    return int(re.search(r"hashpartitioning\(xxhash64\(url#\d+, \d+, 42\), "
                         r"(\d+)\)", lines[0]).group(1))


@pytest.fixture(scope="module")
def pages40(spark, tmp_path_factory):
    """A 40-page increment as the CLI reads it: four parquet files, read
    with the declared schema (estimate ~60 KB)."""
    path = str(tmp_path_factory.mktemp("pages40") / "pages")
    synth_pages(spark, 40, seed=11, partitions=4).write.parquet(path)
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def test_extract_width_small_input_one_task(spark, tmp_path):
    """A 20-page input estimates far below ``EXTRACT_TASK_BYTES``: it is
    extracted in one task, coalesced without a shuffle, not one per core."""
    path = str(tmp_path / "p20")
    synth_pages(spark, 20, seed=42, partitions=2).write.parquet(path)
    df = spark.read.schema(PAGES_SCHEMA).parquet(path)
    assert spark.sparkContext.defaultParallelism == 4
    assert _extract_width(extract_pages(df)) == 1
    assert _extract_width(extract_pages(df, lang="en", salt=7)) == 1


@pytest.mark.parametrize("per_task_div,want", [(3, 3), (4, 4), (100, 4)])
def test_extract_width_from_estimate(spark, pages40, monkeypatch,
                                     per_task_div, want):
    """One task per ``EXTRACT_TASK_BYTES`` of the pruned input's size
    estimate, rounded up and capped at ``defaultParallelism``."""
    from qwen_ocr_spark.operators import extract
    pruned = pages40.select("url", "warc_ts", "html")
    est = pruned._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    monkeypatch.setattr(extract, "EXTRACT_TASK_BYTES", -(-est // per_task_div))
    assert _extract_width(extract_pages(pages40)) == want
    if per_task_div > 4:
        assert est > 4 * extract.EXTRACT_TASK_BYTES


def test_extract_width_explicit_partitions_win(spark, pages40):
    assert _extract_width(extract_pages(pages40, partitions=3)) == 3
    assert _extract_width(extract_pages(pages40, partitions=3, salt=5)) == 3


def test_extract_width_no_statistic_keeps_default_parallelism(spark):
    """An RDD-backed input (``LogicalRDD``) has no size statistic: it
    estimates at the maximum and keeps ``defaultParallelism``."""
    rows = [gen_page(42, i) for i in range(4)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows),
                               PAGES_SCHEMA)
    assert "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()
    assert _extract_width(extract_pages(df)) == 4


def test_default_master_one_slot_per_usable_cpu(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the local master gets one task slot per
    CPU the process may run on, which is also the extraction width cap."""
    import os
    from qwen_ocr_spark.plans.session import default_master
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_master() == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"


def test_extract_width_ignores_cache_state(spark):
    """The width is sized from the plan before cached data is substituted
    into it: a cached input (the ``pages`` fixture's shape) gets the same
    width before and after its cache is filled, although the optimized
    plan's estimate jumps to the in-memory size."""
    from qwen_ocr_spark.operators.extract import EXTRACT_TASK_BYTES
    from qwen_ocr_spark.plans.session import task_count
    cached = synth_pages(spark, N_DOCS, seed=43, partitions=4).cache()
    try:
        def sizes():  # a fresh plan each time: a plan is optimized once
            pruned = cached.select("url", "warc_ts", "html")
            return (task_count(pruned, EXTRACT_TASK_BYTES),
                    _extract_width(extract_pages(cached)),
                    int(pruned._jdf.queryExecution().optimizedPlan().stats()
                        .sizeInBytes()))
        before = sizes()
        assert cached.count() == N_DOCS  # fills the cache
        after = sizes()
        assert after[2] > EXTRACT_TASK_BYTES > before[2]
        assert before[:2] == after[:2] == (1, 1)
    finally:
        cached.unpersist()


def test_extract_width_launches_no_job(spark, pages40, tmp_path):
    """Sizing reads a planner statistic: building the extraction over the
    resume anti-join of a committed table launches no Spark job."""
    out_path = str(tmp_path / "out")
    half = pages40.filter(F.crc32(F.col("url")) % 2 == 0)
    write_output(extract_pages(half), out_path, str(tmp_path / "man"), "run1")
    _, jobs = count_jobs(
        spark, lambda: extract_pages(resume_filter(pages40, out_path)))
    assert jobs == 0


def test_small_increment_commits_without_shuffle(spark, pages40, tmp_path):
    """A one-task increment over a committed table: the extraction input
    and the committed-url side of the resume anti-join are each coalesced
    to one task, so the only exchange is the url broadcast; the manifest
    of the committed run aggregates its read-back in one job (one task,
    no ``Exchange`` below the ``groupBy``)."""
    from qwen_ocr_spark.sinks.manifest import _write_manifest
    out_path = str(tmp_path / "out")
    half = pages40.filter(F.crc32(F.col("url")) % 2 == 0)
    write_output(extract_pages(half), out_path, str(tmp_path / "man"), "run1")
    plan = extract_pages(resume_filter(pages40, out_path)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Coalesce 1") == 2
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "BroadcastExchange" in exchanges[0]
    rows, jobs = count_jobs(spark, lambda: _write_manifest(
        spark, out_path, str(tmp_path / "man2"), "run1"))
    assert rows == half.count() and jobs == 1


def test_extract_default_width_same_rows(spark, pages40):
    """The input-sized default (one task for the 40-page increment) yields
    the rows of a 4-partition run on every ``OUT_SCHEMA`` column."""
    default = extract_pages(pages40)
    out = extract_pages(pages40, partitions=4)
    assert _extract_width(default) == 1
    assert default.schema == out.schema == StructType.fromDDL(OUT_SCHEMA)

    def by_url(df):
        return sorted((tuple(r) for r in df.collect()), key=lambda r: r[0])
    assert by_url(default) == by_url(out)


def test_small_increment_commits_one_file_per_table(spark, pages40, tmp_path):
    """A 40-page increment commits one output, one figures and one
    manifest file into its ``run_id=`` directories."""
    import os
    from qwen_ocr_spark.sinks.manifest import commit_run
    paths = {k: str(tmp_path / k) for k in ("out", "figs", "man")}
    assert commit_run(extract_pages(pages40), paths["out"], paths["man"],
                      "run-small", paths["figs"]) == 40
    for k, path in paths.items():
        run_dir = os.path.join(path, "run_id=run-small")
        files = [n for n in os.listdir(run_dir)
                 if not n.startswith((".", "_"))]
        assert len(files) == 1, (k, files)


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
