"""Structured Streaming front-end for the extraction pipeline.

The reference is strictly batch-per-document (SURVEY.md §2.8 — no
watermarks, no event-time state), so streaming is an INGEST mode, not new
semantics: ``readStream`` over the pages table directory → the exact same
``extract_pages`` transformation inside ``foreachBatch`` → one
``commit_run`` per micro-batch.  ``foreachBatch`` keeps batch semantics
unchanged (one deterministic function of the rows) and the manifest keeps
row lineage as in batch mode.

Exactly-once table contents from an at-least-once sink: ``foreachBatch``
replays a micro-batch if the job dies after the write but before the
checkpoint commit.  The micro-batch's run_id is deterministic
(``stream-{token}-{batch_id}``), so a replay after the output commit finds
its run directory and ``commit_run`` only backfills missing lineage, with
no read or extraction; a replay before it rewrites the run whole.  The
batch is still anti-joined against the committed urls (the same
``resume_filter`` the batch CLI uses), for urls other runs committed.

``events_hourly_stream`` is the watermarked event-time aggregation analog
of __spark_entry__'s ``events_hourly`` — late data beyond 2 hours dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qwen_ocr_spark.operators.extract import extract_pages
from qwen_ocr_spark.operators.timeseries import SESSION_GAP_SEC
from qwen_ocr_spark.plans.session import release_cached
from qwen_ocr_spark.sinks.manifest import (commit_run, reconcile_manifest,
                                           resume_filter)
from qwen_ocr_spark.sources.pages import PAGES_SCHEMA


def _checkpoint_token(spark: SparkSession, checkpoint: str) -> str:
    """Read-or-mint the per-checkpoint run token THROUGH the checkpoint's
    Hadoop FileSystem, so the token shares the checkpoint's lifecycle
    exactly: wiping/replacing the checkpoint (local or DFS) wipes the token
    with it and the next start mints a fresh lineage scope."""
    import uuid

    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(checkpoint, "run_token")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        stream = fs.open(path)
        try:
            return stream.readUTF()
        finally:
            stream.close()
    token = uuid.uuid4().hex[:8]
    out = fs.create(path, True)
    try:
        out.writeUTF(token)
    finally:
        out.close()
    return token


def stream_extract(spark: SparkSession, input_dir: str, out_path: str,
                   manifest_path: str, checkpoint: str,
                   available_now: bool = True, figures_path: str | None = None):
    """Incrementally extract new page files as they land in ``input_dir``.

    Returns the started StreamingQuery; with ``available_now`` the query
    drains everything currently available and stops (test/batch-catchup
    mode) — in production the same call runs continuously.  With
    ``figures_path`` the figures side-output is written per micro-batch,
    before the output commit, as in batch mode.  Like the batch CLI it
    starts with ``reconcile_manifest`` (two directory listings), which
    also refuses a manifest in the layout before run directories.
    """
    reconcile_manifest(spark, out_path, manifest_path)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .parquet(input_dir)
    )

    # run_ids must be stable across restarts of ONE checkpoint lineage
    # (replay idempotence keys on them) but unique across lineages: a
    # wiped/replaced checkpoint restarts batch ids at 0, and a bare
    # "stream-{batch_id}" would collide with the previous lineage's run_id,
    # whose committed directory would make commit_run skip genuinely new
    # rows as a replay.  A token
    # minted once per checkpoint directory gives exactly that scope — and
    # it must live IN the checkpoint's own filesystem (hdfs://, s3a://,
    # file://), not on driver-local disk, or a wiped DFS checkpoint would
    # silently reuse a stale local token (ADVICE r2).
    token = _checkpoint_token(spark, checkpoint)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = extract_pages(resume_filter(batch_df, out_path))
        commit_run(out, out_path, manifest_path, f"stream-{token}-{batch_id}",
                   figures_path)
        # any library-persisted intermediates created inside this batch
        # (dedup/similarity band relations) must not accumulate executor
        # storage across micro-batches — drain the session registry
        release_cached()

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_OUT_SCHEMA = ("user_id bigint, session_start string, "
                      "session_end string, n_events bigint")
SESSION_STATE_SCHEMA = "start_sec double, last_sec double, n bigint"


def sessionize_stream(events_stream: DataFrame):
    """Custom stateful operator: gap-based sessionization over a stream via
    ``applyInPandasWithState`` — per-user state is (session_start, last_ts,
    count); a new event more than ``SESSION_GAP_SEC`` after the last CLOSES
    the open session (emitted) and starts a new one.

    Idle users flush via **event-time timeout** (round 3 — NoTimeout leaked
    O(all-users-ever) state): every update arms a timeout at
    ``last_ts + SESSION_GAP_SEC``; once the watermark (the same delay)
    passes it, the open session is emitted and the key's state REMOVED, so
    state stays O(concurrently-active users).  The watermark also bounds
    event-time disorder across micro-batches: events later than the armed
    deadline would have timed the session out anyway, so watermark-late
    data starts a new session exactly as the gap rule dictates.  State per
    key is three scalars — the same bound the batch sessionizer's window
    shuffle has per partition; the batch twin ``q_events_sessionize``
    handles unordered data exactly.
    """
    import datetime as dt
    from typing import Any, Iterator, Tuple

    import pandas as pd

    gap_sec = SESSION_GAP_SEC

    def fmt(sec: float) -> str:
        return dt.datetime.fromtimestamp(
            sec, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cols = ["user_id", "session_start", "session_end", "n_events"]
        if state.hasTimedOut:
            # watermark passed last_ts + gap: the open session is over
            start_sec, last_sec, n = state.get
            state.remove()
            yield pd.DataFrame([(user_id, fmt(start_sec), fmt(last_sec), n)],
                               columns=cols)
            return
        if state.exists:
            start_sec, last_sec, n = state.get
        else:
            start_sec, last_sec, n = None, None, 0
        ts: list[float] = []
        for pdf in pdfs:
            ts.extend(float(x) for x in
                      pd.to_datetime(pdf["ts"]).astype("int64") / 1e9)
        ts.sort()
        closed = []
        for sec in ts:
            if start_sec is None:
                start_sec, last_sec, n = sec, sec, 1
            elif sec - last_sec > gap_sec:
                closed.append((user_id, fmt(start_sec), fmt(last_sec), n))
                start_sec, last_sec, n = sec, sec, 1
            else:
                last_sec, n = sec, n + 1
        state.update((start_sec, last_sec, n))
        # arm the idle flush: fire when event time passes the gap deadline
        # (must exceed the current watermark — a deadline already behind it
        # fires at the very next no-data batch)
        deadline_ms = int((last_sec + gap_sec) * 1000)
        state.setTimeoutTimestamp(max(deadline_ms,
                                      state.getCurrentWatermarkMs() + 1))
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    return (
        events_stream
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", f"{gap_sec} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA,
            "append", "EventTimeTimeout",
        )
    )


def events_hourly_stream(events_stream: DataFrame) -> DataFrame:
    """Watermarked tumbling-hour aggregation (event-time; late > 2h dropped)."""
    return (
        events_stream
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.floor(F.col("value") * 10000).cast("bigint"))
              .alias("sum_value_e4"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n",
                "sum_value_e4")
    )
