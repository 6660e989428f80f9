"""Checkpoint manifests + resume — the ``north_rule`` resumability layer.

The reference flushed markdown per streamed delta so a crash kept partial
output (/root/reference/src/models/document_job.py:116-117, AGENTS.md
"incremental progress persistence").  The cluster analog (SURVEY.md §2.10
E4): every completed write also appends per-partition manifest rows

    manifest(partition_id int, row_count bigint, content_digest string,
             run_id string, committed_at timestamp)

where ``content_digest = sha256(concat(sorted per-row digests))`` — a pure
function of the partition's row set, so a resumed/retried run producing the
same rows produces the same manifest (the byte-identity invariant makes
this sound).  Manifest rows are keyed ``(run_id, partition_id)``: the
output table is partitioned by ``run_id`` and each commit aggregates a
read-back of ONLY its own run directory — O(this append), never a rescan
of the whole table (O(total-data) per commit at 100 TB) — with the append
made replay-idempotent by skipping run_ids the manifest already records
(streaming re-delivers batch ids; batch runs mint unique uuids).

Resume = **left-anti join** of the input against the committed output's
``url`` set: already-extracted documents are never reprocessed.  At 10^12
rows that anti-join is a shuffle of (url) only — ~50 bytes/row — and AQE
turns it into a broadcast when the committed side is still small.

Parquet is used as the table format here (no Iceberg runtime jar ships in
this sandbox); the ``TableIO`` seam is this module — swapping
``write/read`` for ``df.writeTo(...).append()`` on an Iceberg catalog
changes nothing upstream, and parquet append-by-directory mirrors Iceberg's
commit-by-snapshot at the granularity this pipeline needs (a partial job
leaves whole committed files, which is exactly what resume filters on).
"""

from __future__ import annotations

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from qwen_ocr_spark.operators.extract import (
    FIGURE_FIELDS,
    OUT_SCHEMA,
    figures_table,
)

# Every table this module reads is one it writes, so its schema is declared
# here, never inferred: a schema-less ``spark.read.parquet`` launches a job
# that reads a Parquet footer before any action runs.  With a declared
# schema the ``run_id`` partition column is also a string whatever its
# value looks like (inference types ``run_id=20261017`` as int).
RUN_DIR_SCHEMA = f"{OUT_SCHEMA}, partition_id int"
OUTPUT_SCHEMA = f"{RUN_DIR_SCHEMA}, run_id string"
MANIFEST_SCHEMA = ("partition_id int, row_count bigint, content_digest string, "
                   "run_id string, committed_at timestamp")
FIGURES_SCHEMA = f"url string, {FIGURE_FIELDS}, run_id string"


def write_output(out_df: DataFrame, out_path: str, manifest_path: str,
                 run_id: str, replayable: bool = False) -> int:
    """Append the extraction output, then append THIS run's manifest rows.
    Returns the number of output rows newly covered by manifest lineage
    (0 on a full replay whose run_id the manifest already records).

    ``replayable=True`` (streaming): the caller may re-deliver the same
    run_id, so the manifest append first checks whether the run_id is
    already recorded (an O(manifest) read).  Batch callers mint unique
    uuids and skip that read — the check could never match.

    The output table is partitioned by ``run_id``; the manifest aggregates
    a read-back of ONLY this run's directory (``out_path/run_id=<id>``) —
    one manifest row per physical partition of the writing stage, keyed
    (run_id, partition_id).  Why this shape:

    * the extraction UDF runs exactly ONCE (the write is its only
      evaluation; ``spark_partition_id`` is captured as a column during
      that write, so the manifest describes exactly the partitions that
      hit disk);
    * no caching/checkpointing of the batch is needed — a plain persist()
      here silently re-evaluated to zero rows (appending to ``out_path``
      invalidates any cache whose plan anti-joins against it), and an
      eager localCheckpoint pinned a full batch of extracted text in
      executor storage that ``unpersist()`` cannot actually release (it is
      not a CacheManager entry — only GC + ContextCleaner free it), which
      accumulates across streaming micro-batches;
    * the manifest scan reads this run's files only — O(append), never the
      whole table — and describes what is durably on disk, not what a
      snapshot claimed before the commit.

    Known (and now self-healing) crash window: output commit and manifest
    append are two parquet-directory commits, not one atomic snapshot.  A
    crash between them leaves the rows committed (resume correctly skips
    them) but their lineage/metric rows missing from the manifest — data
    and resumability are unaffected; ``reconcile_manifest`` (called on
    batch startup by the CLI) backfills the orphaned run's rows from the
    same read-back path, shrinking the window to a single-run blip between
    crash and next start.  Iceberg closes it entirely by making table +
    metadata one snapshot commit; this function is the TableIO seam where
    that swap happens.
    """
    spark = out_df.sparkSession
    (
        out_df.withColumn("partition_id", F.spark_partition_id())
        .withColumn("run_id", F.lit(run_id))
        .write.mode("append").partitionBy("run_id").parquet(out_path)
    )
    # replay idempotence: a re-delivered streaming batch reuses its run_id
    # with an empty todo (the resume anti-join drained it), but the run dir
    # still holds the first attempt's rows — append manifest rows for a
    # run_id at most once (the manifest is tiny; this read is O(manifest))
    if replayable and _manifest_has_run(spark, manifest_path, run_id):
        return 0
    return _append_manifest_rows(spark, out_path, manifest_path, run_id)


def _manifest_has_run(spark: SparkSession, manifest_path: str, run_id: str) -> bool:
    try:
        return (
            spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
            .where(F.col("run_id") == run_id)
            .limit(1).count() > 0
        )
    except AnalysisException:
        return False


def _append_manifest_rows(spark: SparkSession, out_path: str,
                          manifest_path: str, run_id: str) -> int:
    """Aggregate manifest rows from a read-back of ONLY ``run_id``'s output
    directory and append them; returns the row count now under lineage."""
    try:
        written = spark.read.schema(RUN_DIR_SCHEMA).parquet(
            run_dir_path(spark, out_path, run_id))
    except AnalysisException:
        return 0  # empty batch: the partitioned write created no run dir
    manifest_rows = (
        written
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("row_count"),
            F.sha2(
                F.concat_ws(",", F.sort_array(F.collect_list("digest"))), 256
            ).alias("content_digest"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
        .collect()
    )
    n_rows = sum(r["row_count"] for r in manifest_rows)
    if manifest_rows:
        spark.createDataFrame(manifest_rows, MANIFEST_SCHEMA) \
            .write.mode("append").parquet(manifest_path)
    return n_rows


def reconcile_manifest(spark: SparkSession, out_path: str,
                       manifest_path: str) -> int:
    """Backfill manifest lineage for output run directories the manifest
    doesn't record (a crash landed between the output commit and the
    manifest append).  Returns the number of rows newly covered.

    Batch runs mint fresh uuids, so without this the orphaned run would
    undercount manifest totals FOREVER; streaming self-heals on replay
    (same run_id, see write_output) but batch needs this startup pass.
    Cost: one listing of the output's ``run_id=`` directories (no data
    file is opened), one distinct over the tiny manifest, and a read-back
    of only the orphaned runs' directories.  A run directory without data
    files (nothing committed) backfills zero rows and no manifest row."""
    run_ids = _run_dirs(spark, out_path).keys()
    if not run_ids:
        return 0  # no output yet — nothing to reconcile
    return sum(
        _append_manifest_rows(spark, out_path, manifest_path, rid)
        for rid in sorted(run_ids - _manifest_run_ids(spark, manifest_path))
    )


def _manifest_run_ids(spark: SparkSession, manifest_path: str) -> set[str]:
    """The run_ids with manifest lineage (empty before the first commit)."""
    try:
        return {r["run_id"] for r in
                spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
                .select("run_id").distinct().collect()}
    except AnalysisException:
        return set()


def run_dir_path(spark: SparkSession, table_path: str, run_id: str) -> str:
    """The directory ``partitionBy("run_id")`` writes ``run_id``'s rows to:
    the value escaped as Spark escapes partition values
    (``run:A`` -> ``run_id=run%3AA``)."""
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.escapePathName
    return f"{table_path}/run_id={escape(run_id)}"


def _run_dirs(spark: SparkSession, table_path: str) -> dict:
    """``{run_id: Hadoop FileStatus}`` of a run_id-partitioned table's
    ``run_id=`` directories, from one ``FileSystem.listStatus`` — the
    directory names, unescaped as Spark's partition discovery does, with no
    data file opened.  Empty when the table does not exist yet."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        statuses = fs.listStatus(path)
    except Py4JJavaError as e:
        if is_instance_of(spark.sparkContext._gateway, e.java_exception,
                          "java.io.FileNotFoundException"):
            return {}
        raise
    unescape = jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.unescapePathName
    dirs = {}
    for st in statuses:
        name = st.getPath().getName()
        if name.startswith("run_id=") and st.isDirectory():
            dirs[unescape(name[len("run_id="):])] = st
    return dirs


def write_figures(out_df: DataFrame, figures_path: str, run_id: str) -> None:
    """Write the exploded figures side-output (analog of the reference's
    images/{page}_fig{n}.png directory, keyed (url, page_number,
    fig_number) — /root/reference/src/models/extracted_image.py:34-43),
    partitioned by ``run_id`` — an O(this append) write that NEVER reads
    the existing table (round 2 anti-joined against a full read-back of
    the figures table's urls: O(all committed figures) per commit,
    unbounded growth at 100 TB).

    The write is a **dynamic partition overwrite** of only the run_id
    partitions present in the batch (empty batch = no-op; other runs'
    directories untouched — verified semantics, cost identical to append).
    This makes the write idempotent PER run_id, which streaming requires:
    its run_ids are deterministic per micro-batch (stream-{token}-{batch}),
    so a replay after a crash between the figures write and the output
    commit re-delivers the SAME run_id — an append would leave two
    byte-identical copies visible once the manifest commits that run_id,
    and a crash mid-figures-write could leave a partial set.  Overwrite
    replaces the attempt directory wholesale: last replay wins with the
    complete, single copy.  Batch runs mint fresh uuids, for which
    overwrite-by-partition degenerates to the old blind append.

    Exactly-once table contents still move to the READ side
    (``read_figures``): figures are written BEFORE the output commit that
    drives resume, so a crash between the two leaves this run's figures as
    an orphaned run_id directory — invisible to readers because its run_id
    never reaches the manifest — and the replay (same run_id, streaming)
    or re-extraction (fresh run_id, batch) provides the single visible
    copy.  Orphaned batch directories are physical garbage only; a janitor
    can delete figure run dirs absent from the manifest once they age past
    any in-flight run."""
    (
        figures_table(out_df)
        .withColumn("run_id", F.lit(run_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id").parquet(figures_path)
    )


def read_figures(spark: SparkSession, figures_path: str,
                 manifest_path: str) -> DataFrame | None:
    """The figures table as readers must see it: only run_ids with manifest
    lineage (committed runs) are visible, so crashed/replayed attempts'
    orphan directories never surface and every (url, page, fig) appears
    exactly once.  The manifest side is tiny — the semi join broadcasts
    and prunes figure partitions dynamically."""
    try:
        figs = spark.read.schema(FIGURES_SCHEMA).parquet(figures_path)
    except AnalysisException:
        return None
    try:
        committed = (spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
                     .select("run_id").distinct())
    except AnalysisException:
        return figs.limit(0).drop("run_id")
    return (
        figs.join(F.broadcast(committed), on="run_id", how="left_semi")
        .drop("run_id")
    )


def clean_orphan_figures(spark: SparkSession, figures_path: str,
                         manifest_path: str,
                         min_age_sec: float = 24 * 3600) -> list[str]:
    """The janitor ``write_figures``'s docstring promises (round 5):
    delete figure ``run_id=...`` directories with NO manifest lineage —
    crashed attempts whose commit never happened — once older than
    ``min_age_sec`` (so an in-flight run's directory, written moments
    before its manifest row, is never reaped).  Committed directories are
    untouched, and ``read_figures`` output is unchanged by construction
    (orphans were already invisible to readers).  Returns the deleted
    run_ids.

    Driver-side filesystem metadata work only — the same Hadoop
    FileSystem listing of the partition directories ``reconcile_manifest``
    uses, plus the (tiny) manifest run_id set; no data scan."""
    import time

    committed = _manifest_run_ids(spark, manifest_path)
    deleted: list[str] = []
    now_ms = time.time() * 1000
    for run_id, st in sorted(_run_dirs(spark, figures_path).items()):
        if run_id in committed:
            continue
        if now_ms - st.getModificationTime() < min_age_sec * 1000:
            continue
        path = st.getPath()
        path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(path, True)
        deleted.append(run_id)
    return deleted


def read_output(spark: SparkSession, out_path: str,
                dedup: bool = False) -> DataFrame | None:
    """The output table as consumers should read it (round 5).

    Under the single-writer discipline the raw read is already correct:
    resume makes retries exactly-once on the write side, and
    ``reconcile_manifest`` backfills crash-window lineage.  ``dedup=True``
    additionally enforces ONE row per url — deterministic min-run_id
    winner — for tables that survived a SPLIT-BRAIN writer: two engines
    racing one out_path each commit the same urls under different
    run_ids (observed in round 5 while driving the crash harness — a
    wrapper-level kill left an orphaned JVM racing its own retry).  The
    rows are byte-identical per url (extraction is deterministic), so
    any winner is correct; min run_id makes reads reproducible.  Costs a
    url-keyed window over the table — keep the single-writer discipline
    and the cheap default in production."""
    try:
        df = spark.read.schema(OUTPUT_SCHEMA).parquet(out_path)
    except AnalysisException:
        return None
    if not dedup:
        return df
    from pyspark.sql import Window
    w = Window.partitionBy("url").orderBy("run_id")
    return (df.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn"))


def committed_urls(spark: SparkSession, out_path: str) -> DataFrame | None:
    try:
        return spark.read.schema(OUTPUT_SCHEMA).parquet(out_path).select("url")
    except AnalysisException:
        return None


def resume_filter(pages_df: DataFrame, out_path: str) -> DataFrame:
    """Drop input rows whose url is already committed (anti-join resume)."""
    done = committed_urls(pages_df.sparkSession, out_path)
    if done is None:
        return pages_df
    return pages_df.join(done, on="url", how="left_anti")
