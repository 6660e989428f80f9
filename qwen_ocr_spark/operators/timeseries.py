"""Event-time join operators Spark lacks as built-ins: as-of and range.

* ``asof_join`` — for every left row, the single most recent right row of
  the same key strictly before it (lexicographic (ts, id) so ties are
  deterministic).  Implemented as the union + carry-forward trick: tag both
  sides, union, one window per key ordered by (ts, id), and
  ``last(<right cols>, ignorenulls=True)`` over the preceding frame.  Cost
  is ONE shuffle on the key and a linear pass — the naive formulation
  (inequality self-join + argmax) materializes O(n*m) rows per key, which
  is the difference between a sort-merge pass and a blowup at 10^12 rows.

* ``bucketed_range_agg`` — aggregate right rows whose ts falls in
  ``(left.ts, left.ts + window]`` per key.  A raw inequality join cannot
  be an equi-join, so Spark would nest-loop it; bucketing ts into
  window-sized buckets makes it one: a right row in the window of left row
  L sits in L's bucket or the next one, so exploding the left side to two
  bucket keys and equi-joining on (key, bucket) bounds the join to
  2 * |right| probes, then the exact range predicate filters residuals.
  This is the standard interval-join shape (Flink's interval join and
  Spark's own stream-stream time-bound join do the same internally).

Both have exact DuckDB oracles in __spark_entry__ (LATERAL argmax / plain
inequality join — fine at oracle scale, quadratic at cluster scale).

Input schema: both sides are event relations with ``user_id`` (bigint, the
key), ``ts`` (timestamp_ntz) and ``event_id`` (bigint, the tie-break and
the output's row id); the right side also carries ``value`` (double).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Gap-based sessions: an event more than this many seconds after its user's
# previous one starts a new session (``q_events_sessionize`` and its
# streaming twin ``streaming.extract_stream.sessionize_stream``).
SESSION_GAP_SEC = 1800

_RIGHT_COLS = ("event_id", "value")  # what asof_join carries forward


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Most recent right row strictly before each left row, per key.

    "Strictly before" = (right.ts, right.id) < (left.ts, left.id), so
    simultaneous timestamps resolve deterministically by id.  Output: all
    left columns plus ``asof_event_id`` and ``asof_value`` from that right
    row (NULL when no right row precedes).
    """
    tag = "_is_left"
    l = left.withColumn(tag, F.lit(1))
    # all right columns ride in ONE struct so the carried values always
    # come from the same right row (per-column last() could mix rows when
    # a right column is NULL)
    r = right.select(
        "user_id", "ts", "event_id",
        F.lit(0).alias(tag),
        F.struct(*[F.col(c) for c in _RIGHT_COLS]).alias("_rpayload"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = F.last(F.when(F.col(tag) == 0, F.col("_rpayload")),
                     ignorenulls=True).over(w)
    keep = [c for c in left.columns]
    return (
        u.select(*keep, F.col(tag),
                 *[carried.getField(c).alias(f"asof_{c}") for c in _RIGHT_COLS])
        .where(F.col(tag) == 1)
        .drop(tag)
    )


def bucketed_range_agg(left: DataFrame, right: DataFrame,
                       window_sec: int) -> DataFrame:
    """Per left row: count + exact-encoded sum of right rows with
    ``left.ts < right.ts <= left.ts + window_sec`` and the same key.

    Inner semantics (left rows with zero matches drop out).  The measure is
    the engine-exact floor(value * 10^4) bigint encoding
    (``sum_value_e4``) so the DuckDB oracle hash-matches.
    """
    sec_l = F.col("ts").cast("timestamp").cast("double")
    bucket_l = F.floor(sec_l / window_sec).cast("bigint")
    lx = left.select(
        F.col("event_id").alias("_lid"), F.col("user_id").alias("_k"),
        sec_l.alias("_lsec"),
        F.explode(F.array(bucket_l, bucket_l + 1)).alias("_bucket"),
    )
    sec_r = F.col("ts").cast("timestamp").cast("double")
    rx = right.select(
        F.col("user_id").alias("_k"),
        sec_r.alias("_rsec"),
        F.floor(sec_r / window_sec).cast("bigint").alias("_bucket"),
        F.floor(F.col("value") * F.lit(10 ** 4))
         .cast("bigint").alias("_val_e"),
    )
    return (
        lx.join(rx, on=["_k", "_bucket"])
        .where((F.col("_rsec") > F.col("_lsec"))
               & (F.col("_rsec") <= F.col("_lsec") + window_sec))
        .groupBy(F.col("_lid").alias("event_id"), F.col("_k").alias("user_id"))
        .agg(F.count("*").alias("n_in_window"),
             F.sum("_val_e").alias("sum_value_e4"))
    )
