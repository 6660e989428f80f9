"""Extraction sink: output, figures and manifest tables, and resume — the
``north_rule`` resumability layer.

**One invariant: a run is committed exactly when the output table has its
``run_id=<id>`` directory.**  Every table here is partitioned by
``run_id``, and every write is a dynamic partition overwrite of one run_id
(``_overwrite_run``): the tasks write under a hidden
``.spark-staging-<job>`` directory, and the job commit moves the run's
directory into place with one rename.  So a run directory appears whole
or not at all — a kill mid-write leaves only the hidden staging directory,
which readers and the listing below ignore and ``clean_staging`` reaps —
and writing a run_id again replaces its earlier attempt instead of
appending beside it.  Every "is this run committed?" question is therefore
answered by the output table's directories, never by a Spark query:
``_has_run`` (one ``FileSystem.exists``) for one run, ``_run_dirs`` (one
``FileSystem.listStatus``) for all of them.

``commit_run`` is the one commit sequence (the CLI and the stream both
call it): figures, then output (the commit), then the manifest.

* **figures** are written first, so a crash before the output commit
  leaves them as a run directory without an output directory: invisible
  to ``read_figures`` and reaped by ``clean_orphan_figures``.
* **manifest** rows are lineage derived from the committed run directory,
  one file per run under ``manifest/run_id=<id>/``:

      manifest(partition_id int, row_count bigint, content_digest string,
               committed_at timestamp, run_id string)

  one row per physical partition of the writing stage, with
  ``content_digest = sha256(concat(sorted per-row digests))`` — a pure
  function of the partition's rows (the byte-identity invariant makes
  this sound) — and ``committed_at`` the modification time of the
  partition's output files.  Deriving it again is idempotent, so a crash
  between the output commit and the manifest write is repaired by writing
  it again: ``reconcile_manifest`` backfills the run_ids in the output
  listing minus the manifest listing.  A manifest written before this layout
  (flat files appended at its root, ``run_id`` not last) is refused by
  that listing rather than mixed with run directories, which Spark would
  not read; moved aside, it is re-derived whole from the output on the
  next ``reconcile_manifest`` (the CLI calls it at start-up).

Resume = **left-anti join** of the input against the committed output's
``url`` set: already-extracted documents are never reprocessed.  While the
committed table's file-size estimate is under the broadcast threshold,
the plan is a static ``BroadcastHashJoin LeftAnti`` that broadcasts the
committed urls.  Above it, the join is a sort-merge join, and that is not
a shuffle of (url) only: the input's ``url, warc_ts, html`` rows are
shuffled by url, and when extraction runs in more than one task,
``extract_pages`` shuffles the same rows again by ``xxhash64(url, salt)``.

Parquet is the table format (no Iceberg or Delta runtime jar ships here);
this module is the TableIO seam.  The invariant needs an atomic directory
rename, which HDFS and local filesystems give.  An object store such as
S3 does not: there the commit needs a put-if-absent commit record (Delta
Lake's log) or a committer that renames atomically.  Two writers racing
one table each commit their own run_id, so a url can land twice; that is
what ``read_output(dedup=True)`` is for.
"""

from __future__ import annotations

import time

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from qwen_ocr_spark.operators.extract import (
    FIGURE_FIELDS,
    OUT_SCHEMA,
    figures_table,
)
from qwen_ocr_spark.plans.session import (
    SCAN_TASK_BYTES,
    coalesce_by_size,
    run_dir_path,
)

# Every table this module reads is one it writes, so its schema is declared
# here, never inferred: a schema-less ``spark.read.parquet`` launches a job
# that reads a Parquet footer before any action runs.  With a declared
# schema the ``run_id`` partition column is also a string whatever its
# value looks like (inference types ``run_id=20261017`` as int).
RUN_DIR_SCHEMA = f"{OUT_SCHEMA}, partition_id int"
OUTPUT_SCHEMA = f"{RUN_DIR_SCHEMA}, run_id string"
MANIFEST_SCHEMA = ("partition_id int, row_count bigint, content_digest string, "
                   "committed_at timestamp, run_id string")
FIGURES_SCHEMA = f"url string, {FIGURE_FIELDS}, run_id string"

# a figures run directory without an output run directory, and a
# ``.spark-staging-`` directory, is reaped once older than this, so an
# in-flight run (figures written, output not yet) or write is never touched
ORPHAN_MIN_AGE_SEC = 24 * 3600


def _overwrite_run(df: DataFrame, path: str) -> None:
    """Write ``df`` (one ``run_id`` value) as that run's directory of the
    run_id-partitioned table at ``path``: a dynamic partition overwrite, so
    the directory lands whole by one rename and replaces an earlier attempt;
    other runs' directories are untouched, and an empty ``df`` is a no-op."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id").parquet(path)
    )


def commit_run(out_df: DataFrame, out_path: str, manifest_path: str,
               run_id: str, figures_path: str | None = None) -> int:
    """Commit one run: figures (when ``figures_path`` is given), then the
    output, then its manifest.  Returns the number of output rows newly
    covered by manifest lineage.

    A run_id whose output directory already exists is committed (a
    replayed streaming micro-batch): only missing lineage is backfilled,
    and ``out_df`` is never evaluated.  ``out_df`` is cached while the
    figures and the output both read it, so extraction runs once."""
    spark = out_df.sparkSession
    if _has_run(spark, out_path, run_id):
        if _has_run(spark, manifest_path, run_id):
            return 0
        return _write_manifest(spark, out_path, manifest_path, run_id)
    if figures_path is None:
        return write_output(out_df, out_path, manifest_path, run_id)
    out_df = out_df.cache()
    try:
        write_figures(out_df, figures_path, run_id)
        return write_output(out_df, out_path, manifest_path, run_id)
    finally:
        out_df.unpersist()


def write_output(out_df: DataFrame, out_path: str, manifest_path: str,
                 run_id: str) -> int:
    """Commit ``out_df`` as run ``run_id`` of the output table, then write
    the run's manifest.  Returns the number of rows now under lineage (0
    for an empty batch, which commits no run directory).

    Two writes, so two Spark queries, and no other: the output write, which
    is the extraction's only evaluation, and the manifest write.
    ``spark_partition_id`` is captured as a column during the output
    write, so the manifest describes exactly the partitions that hit disk.
    The manifest is aggregated from a read-back of the committed run
    directory, not from ``out_df``: the write invalidates any cache of a
    plan that anti-joins against ``out_path``, which would re-evaluate to
    zero rows."""
    _overwrite_run(
        out_df.selectExpr("*", "spark_partition_id() AS partition_id")
        .withColumn("run_id", F.lit(run_id)),
        out_path)
    return _write_manifest(out_df.sparkSession, out_path, manifest_path,
                           run_id)


def _write_manifest(spark: SparkSession, out_path: str, manifest_path: str,
                    run_id: str) -> int:
    """Write ``run_id``'s manifest directory, aggregated from a read-back of
    ONLY its output directory; returns the row count now under lineage.

    One write, so one Spark query: the aggregate goes straight from the
    Parquet scan to the manifest file (``coalesce(1)``: one file per run),
    and the row count it returns is an ``Observation`` of that same write.
    No row crosses to Python and back.  The read-back is coalesced by its
    size (``plans.session.coalesce_by_size``), so a small run is aggregated
    in one task with no ``Exchange``.

    ``committed_at`` is the modification time of the partition's output
    files, read from the scan's ``_metadata``: the time the output was
    written, so a manifest derived again (``reconcile_manifest``) has the
    same rows.  It is not ``current_timestamp()``: the optimizer folds that
    to a literal, and a timestamp literal is pasted into the generated
    code, so every commit would compile one new class."""
    try:
        written = spark.read.schema(RUN_DIR_SCHEMA).parquet(
            run_dir_path(spark, out_path, run_id))
    except AnalysisException:
        return 0  # empty batch: the partitioned write created no run dir
    rows = Observation()
    manifest = (
        coalesce_by_size(written, SCAN_TASK_BYTES)
        .groupBy("partition_id")
        .agg(
            F.expr("count(*) AS row_count"),
            F.expr("sha2(concat_ws(',', sort_array(collect_list(digest))), "
                   "256) AS content_digest"),
            F.expr("max(_metadata.file_modification_time) AS committed_at"),
        )
        .withColumn("run_id", F.lit(run_id))
        .observe(rows, F.expr("sum(row_count) AS rows"))
    )
    _overwrite_run(manifest.coalesce(1), manifest_path)
    return rows.get["rows"] or 0


def reconcile_manifest(spark: SparkSession, out_path: str,
                       manifest_path: str) -> int:
    """Backfill the manifest of every committed run that has none (a crash
    landed between the output commit and the manifest write).  Returns the
    number of rows newly covered.  Two directory listings decide which runs
    those are; a consistent table costs no Spark job."""
    missing = (_run_dirs(spark, out_path).keys()
               - _run_dirs(spark, manifest_path).keys())
    return sum(_write_manifest(spark, out_path, manifest_path, rid)
               for rid in sorted(missing))


def _has_run(spark: SparkSession, table_path: str, run_id: str) -> bool:
    """Whether ``run_id``'s directory exists in the table at
    ``table_path``: one ``FileSystem.exists``, whatever the table's
    history."""
    path = spark._jvm.org.apache.hadoop.fs.Path(
        run_dir_path(spark, table_path, run_id))
    return path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path)


def _listing(spark: SparkSession, table_path: str) -> list:
    """Hadoop ``FileStatus`` of every entry directly under ``table_path``,
    from one ``FileSystem.listStatus``; empty when the path does not exist
    yet."""
    path = spark._jvm.org.apache.hadoop.fs.Path(table_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        return list(fs.listStatus(path))
    except Py4JJavaError as e:
        if is_instance_of(spark.sparkContext._gateway, e.java_exception,
                          "java.io.FileNotFoundException"):
            return []
        raise


def _run_dirs(spark: SparkSession, table_path: str) -> dict:
    """``{run_id: Hadoop FileStatus}`` of a run_id-partitioned table's
    ``run_id=`` directories, from one ``FileSystem.listStatus`` — the
    directory names, unescaped as Spark's partition discovery does, with no
    data file opened.  Empty when the table does not exist yet.

    Raises ``ValueError`` when a Parquet file sits directly under the
    table root: that is a manifest appended before the manifest was
    partitioned by run_id, and Spark reads such a root's own files and
    ignores the ``run_id=`` directories beside them."""
    unescape = spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.unescapePathName
    dirs = {}
    for st in _listing(spark, table_path):
        name = st.getPath().getName()
        if name.startswith("run_id=") and st.isDirectory():
            dirs[unescape(name[len("run_id="):])] = st
        elif name.endswith(".parquet") and st.isFile():
            raise ValueError(
                f"{table_path} holds {name} at its root, outside any run_id= "
                "directory (a manifest appended by an earlier version): move "
                "that manifest aside and reconcile_manifest re-derives it "
                "from the output")
    return dirs


def write_figures(out_df: DataFrame, figures_path: str, run_id: str) -> None:
    """Write the exploded figures side-output (analog of the reference's
    images/{page}_fig{n}.png directory, keyed (url, page_number,
    fig_number)) as run ``run_id``'s directory of the figures table:
    O(this run), never a read of the table.

    ``commit_run`` writes figures BEFORE the output commit.  Until the
    output has the run's directory the figures are invisible
    (``read_figures``); a crash in between leaves an orphan that the retry
    replaces (same run_id, streaming) or supersedes (a fresh run_id,
    batch), and that ``clean_orphan_figures`` reaps.  Like every sink write
    this is a per-run overwrite, so a replay never leaves two copies."""
    _overwrite_run(figures_table(out_df).withColumn("run_id", F.lit(run_id)),
                   figures_path)


def read_figures(spark: SparkSession, figures_path: str,
                 out_path: str) -> DataFrame | None:
    """The figures table as readers must see it: only runs the output has
    committed, so crashed attempts' orphan directories never surface and
    every (url, page, fig) appears exactly once.  The committed runs come
    from the output listing; the filter prunes figure partitions."""
    try:
        figs = spark.read.schema(FIGURES_SCHEMA).parquet(figures_path)
    except AnalysisException:
        return None
    committed = sorted(_run_dirs(spark, out_path))
    return figs.where(F.col("run_id").isin(committed)).drop("run_id")


def clean_orphan_figures(spark: SparkSession, figures_path: str,
                         out_path: str) -> list[str]:
    """Delete figure ``run_id=`` directories that have no output run
    directory — crashed attempts whose commit never happened — once older
    than ``ORPHAN_MIN_AGE_SEC``.  ``read_figures`` output is unchanged by
    construction (orphans were already invisible).  Returns the deleted
    run_ids.  Two directory listings and the deletes; no data scan."""
    committed = _run_dirs(spark, out_path)
    figures = sorted(_run_dirs(spark, figures_path).items())
    return [run_id for run_id, st in figures
            if run_id not in committed and _delete_if_aged(spark, st)]


def clean_staging(spark: SparkSession, table_path: str) -> list[str]:
    """Delete the ``.spark-staging-<job>`` directories that killed writes
    left under a table root (output, figures or manifest) once older than
    ``ORPHAN_MIN_AGE_SEC``, so a write still in flight keeps its own.
    Readers never saw them (hidden names), so every read is unchanged.
    Returns the deleted directory names.  One directory listing and the
    deletes; no data scan."""
    return [st.getPath().getName() for st in _listing(spark, table_path)
            if st.isDirectory()
            and st.getPath().getName().startswith(".spark-staging-")
            and _delete_if_aged(spark, st)]


def _delete_if_aged(spark: SparkSession, st) -> bool:
    """Recursively delete the entry of FileStatus ``st`` if it was last
    modified at least ``ORPHAN_MIN_AGE_SEC`` ago; whether it was."""
    age_ms = time.time() * 1000 - st.getModificationTime()
    if age_ms < ORPHAN_MIN_AGE_SEC * 1000:
        return False
    path = st.getPath()
    path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(path, True)
    return True


def read_output(spark: SparkSession, out_path: str,
                dedup: bool = False) -> DataFrame | None:
    """The output table as consumers should read it.

    With one writer per table the raw read is already correct: every run
    directory is whole, and resume makes retries exactly-once.
    ``dedup=True`` additionally enforces ONE row per url — deterministic
    min-run_id winner — for a table that two writers raced: each commits
    the same urls under its own run_id.  The rows are byte-identical per
    url (extraction is deterministic), so any winner is correct; min
    run_id makes reads reproducible.  Costs a url-keyed window over the
    table — keep one writer and the cheap default in production."""
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


def resume_filter(pages_df: DataFrame, out_path: str) -> DataFrame:
    """Drop input rows whose url is already committed (anti-join resume).
    The committed urls are read in one task per ``SCAN_TASK_BYTES``
    (``plans.session.coalesce_by_size``), not one per output file."""
    done = read_output(pages_df.sparkSession, out_path)
    if done is None:
        return pages_df
    committed = coalesce_by_size(done.select("url"), SCAN_TASK_BYTES)
    return pages_df.join(committed, on="url", how="left_anti")
