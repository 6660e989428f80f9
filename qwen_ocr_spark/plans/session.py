"""SparkSession factory with scale-oriented defaults.

One place owns the conf so tests, bench, and the driver entry point agree.
Defaults are chosen for the 100 TB design point and scaled down by env:

* AQE on (runtime coalescing + skew-join splitting) — the explicit answer
  to host-domain skew per SURVEY.md §4.
* Arrow on with a bounded records-per-batch: rows carry whole documents
  (tens of KB each), so the default 10k rows/batch would make multi-hundred
  MB Arrow batches; 512 keeps executor memory flat.
* shuffle partitions are the core count locally (at least 8); on a real
  cluster AQE coalesces from a deliberately high initial number (32).
* Python workers start from ``plans/pydaemon.py``
  (``spark.python.daemon.module``) when the program runs from a source
  directory on a local master.  Every Python task calls
  ``importlib.invalidate_caches()``; before Python 3.13 that makes each of
  a worker's 16 zipimporters on ``pyspark.zip`` re-read all 1,328
  directory entries, a fixed ~0.26 CPU-s per task (measured on a 4-core
  VM, Python 3.11.7: 81% of a worker's per-task time; 8 tasks over 800
  rows cost 2.07 CPU-s in the workers, the same job JVM-only 0.2).  The
  daemon re-reads an archive only when its stat stamp changed, which cut
  per-task worker CPU to ~0.05 s.  The fix lives in the daemon, not in a
  UDF module, because it must be in place before the first task's
  ``setup_spark_files`` runs, in every forked worker, for every Python
  operator at once (mapInPandas, pandas_udf, the shingle and cosine
  scorers) without touching a UDF body or a plan.  Under
  ``spark-submit --py-files pkg.zip`` the package first reaches the
  workers with a task, too late to be the daemon, so Spark's default
  daemon stays (``python_daemon_conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_master() -> str:
    """``local[SPARK_GRAFT_CPUS]``, else one task slot per CPU this process
    may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


DAEMON_MODULE = "qwen_ocr_spark.plans.pydaemon"


def python_daemon_conf(master: str) -> dict[str, str]:
    """The conf that starts Python workers from ``pydaemon``, or {} when
    the worker interpreter could not import it at daemon start.

    Set only when this package is loaded from a real directory (not from
    a ``--py-files`` zip, which arrives with the first task) and the
    master is local (the directory is on the driver's host; executors
    elsewhere need not have it).  The package root goes on the workers'
    PYTHONPATH, so the daemon imports whatever the driver's cwd."""
    import qwen_ocr_spark

    pkg = os.path.dirname(os.path.abspath(qwen_ocr_spark.__file__))
    if not (master.startswith("local") and os.path.isdir(pkg)):
        return {}
    return {"spark.python.daemon.module": DAEMON_MODULE,
            "spark.executorEnv.PYTHONPATH": os.path.dirname(pkg)}


def get_spark(
    master: str | None = None,
    app_name: str = "qwen-ocr-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or default_master()
    if master.startswith("local[") and master[6:-1].isdigit():
        shuffle_partitions = max(int(master[6:-1]), 8)
    else:
        shuffle_partitions = 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Arrow IPC buffers are direct memory released only by GC reference
        # cleaners; a sequence of distinct python-UDF plans can exhaust the
        # direct pool before any heap GC runs, stalling every subsequent
        # Arrow transfer (measured: 5.6s job → 25s).  Concurrent explicit GC
        # makes the between-jobs hygiene collection (see gc_hint) cheap.
        .config("spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent")
    )
    for k, v in {**python_daemon_conf(master), **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()


def task_count(df: DataFrame, task_bytes: int) -> int:
    """Tasks for ``df`` at one per ``task_bytes`` of its size estimate:
    ``max(1, min(defaultParallelism, ceil(estimate / task_bytes)))``.

    The estimate is the analyzed plan's ``sizeInBytes``, a planner
    statistic, so sizing launches no Spark job.  It is read before cached
    data is substituted into the plan: the optimized plan of a query over a
    filled cache reports the in-memory size instead, and the same call
    would plan differently depending on which earlier action touched the
    cache.  A plan without a statistic (a ``LogicalRDD``) estimates at
    ``Long.MaxValue`` and gets ``defaultParallelism``."""
    est = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    cap = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(cap, -(-est // task_bytes)))


# Table bytes (the planner's estimate of its files) per scan task of a
# small read: ``__spark_entry__._t``'s tables and the sinks' read-backs of
# the output table.  A task costs a pass about 0.02-0.06 CPU-s however
# little it reads: reading a 4-file table in 1 task instead of 4 saved, per
# task removed, 0.02 CPU-s in dedup_exact, 0.055 in embedding_near_dups and
# 0.02 in gopher_signals (perfbench near-dup corpus, 4 cores).  The
# heaviest scan-side work, gopher_signals' splits and regexes over
# ``documents``, costs about 0.64 CPU-s per MB of table, so 256 KiB is
# ~0.16 CPU-s of work, 3-8 times a task's fixed cost.  Larger tasks lose
# wall time on mid-size tables: over 1.49 MB of documents, gopher_signals
# took 0.49 s in 4 tasks, 0.56 s in 3 and 1.06 s in 1.
SCAN_TASK_BYTES = 256 * 1024


def coalesce_by_size(df: DataFrame, task_bytes: int) -> DataFrame:
    """``df`` coalesced to ``task_count(df, task_bytes)`` partitions when
    that is fewer than ``defaultParallelism``, else ``df`` as it is.

    Parquet file packing charges ``openCostInBytes`` (4 MiB) per file and
    spreads a small table's files one per core, so a 100 KB read of 4 files
    would run as 4 scan tasks.  A ``Coalesce`` is no shuffle and lets column
    pruning through to the scan, and a one-partition input satisfies any
    distribution, so an aggregate right above it needs no ``Exchange``; a
    ``repartition`` over a projection of the read replaces the
    ``Coalesce``."""
    n = task_count(df, task_bytes)
    if n < df.sparkSession.sparkContext.defaultParallelism:
        return df.coalesce(n)
    return df


def repartition_or_coalesce(df: DataFrame, n: int, *args) -> DataFrame:
    """``df.repartition(*args)`` for a pass ``n`` tasks wide, except that a
    width of 1 is ``df.coalesce(1)``.  A shuffle into one partition spreads
    no work: it only adds a stage that writes and reads every row, where a
    ``Coalesce`` runs the pass in the task that reads its input (and lets
    column pruning through to the scan).  ``extract_pages`` and
    ``similarity.band_bucket_pairs`` both plan their shuffle through this
    rule."""
    if n == 1:
        return df.coalesce(1)
    return df.repartition(*args)


def run_dir_path(spark: SparkSession, table_path: str, run_id: str) -> str:
    """The directory ``partitionBy("run_id")`` writes ``run_id``'s rows to:
    the value escaped as Spark escapes partition values
    (``run:A`` -> ``run_id=run%3AA``).  The sinks' run directories and
    ``dedup.incremental_dedup``'s digest runs are all read at this path."""
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.escapePathName
    return f"{table_path}/run_id={escape(run_id)}"


# Every relation a library operator persists (dedup.simhash_near_pairs,
# ngram_jaccard_pairs, lsh_jaccard_pairs, similarity.ivf_topk, …)
# is registered here.  A one-shot job never needs to touch this — the
# process exit releases the cache — but a long-lived driver (streaming
# micro-batches, a query service) must call release_cached() between
# units of work or cached relations accumulate executor storage (the
# round-2 failure mode).
_CACHED_HANDLES: list = []


def track_cached(df):
    """Record a persisted DataFrame for release by release_cached().

    The registry holds STRONG references on purpose (ADVICE r5
    adjudication): a Spark SQL cache lives in the JVM CacheManager and is
    NOT auto-unpersisted when the Python handle is garbage-collected, so a
    weak reference would only lose the one handle that can still release
    it.  A long-lived driver that runs library operators must call
    ``release_cached()`` between units of work (streaming micro-batches
    do; see streaming/extract_stream.py)."""
    _CACHED_HANDLES.append(df)
    return df


def release_cached() -> int:
    """Unpersist every registry-tracked intermediate; returns the count."""
    n = 0
    while _CACHED_HANDLES:
        try:
            _CACHED_HANDLES.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
        n += 1
    return n


def gc_hint(spark: SparkSession) -> None:
    """Release Arrow direct buffers pinned by collected-but-unfinalized
    references.  Call between distinct heavy python-UDF jobs (the bench
    does; a long-running service would do this on a timer).  Root cause
    documented in BENCH/BASELINE.md."""
    spark.sparkContext._jvm.System.gc()


def count_jobs(spark: SparkSession, fn):
    """(fn's result, the number of Spark jobs fn launched): a fresh job
    group per call, counted once the listener bus has caught up (the status
    store is fed asynchronously)."""
    import uuid
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        result = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def count_py4j(spark: SparkSession, fn):
    """(fn's result, the py4j commands the driver sent while fn ran),
    memory-release (``m``) commands excepted: Python sends one whenever it
    frees a JVM object handle, so their count depends on when the garbage
    collector runs, not on what ``fn`` asked the JVM."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *args, **kw):
        if not command.startswith("m\n"):
            sent[0] += 1
        return send(command, *args, **kw)

    client.send_command = counting
    try:
        result = fn()
    finally:
        del client.send_command
    return result, sent[0]

