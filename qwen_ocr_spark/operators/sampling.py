"""Deterministic corpus sampling / splitting / packing — the training-data
plumbing every large pipeline needs downstream of dedup + quality scoring.

All three operators are CONTENT-ADDRESSED (md5 of the row key), not
RNG-based: Spark's ``sample()`` depends on partitioning and engine RNG
internals, so two runs — or two engines — disagree row-for-row.  Hashing
the key gives the same sample on any cluster size, any engine, any day
(the property that makes train/test splits reproducible and leak-free),
and it is exactly DuckDB-oracle-able because md5 is engine-identical.

Bucket arithmetic: the first 4 hex digits of ``md5('0|' || doc_id)`` form a
uniform integer in [0, 65536); thresholds are plan-time literals, and
comparing fixed-length lowercase hex strings IS comparing the integers —
no hex→int conversion needed in either engine.

* ``hash_sample``            — keep ~pct% of rows, deterministically.
* ``hash_split``             — disjoint train/val/test assignment by
                               cumulative bucket thresholds.
* ``pack_sequences``         — sequence packing: assign docs to fixed
                               token-budget bins per language via a
                               running token cumsum (window function; the
                               greedy order is (lang, doc_id) so both engines
                               agree exactly).

Input schema: every operator reads a document relation keyed by
``doc_id`` (bigint), the md5 key and the packing order; ``pack_sequences``
also reads ``lang`` (string), the packing group, and ``n_tokens`` (bigint,
``textstats.with_token_count``'s count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BUCKETS = 65536  # 16^4: first 4 md5 hex digits
TRAIN_PCT = 80.0  # hash_split: 80% train, 10% val, the rest test
VAL_PCT = 10.0


def _bucket_hex(threshold: float) -> str:
    """Plan-time literal: 4-hex-digit upper bound for a [0,1] fraction.
    'g' sorts after every hex digit, so threshold >= 1.0 keeps all rows."""
    n = int(_BUCKETS * threshold)
    return "g" if n >= _BUCKETS else format(n, "04x")


def _bucket_col():
    return F.substring(
        F.md5(F.concat(F.lit("0|"), F.col("doc_id").cast("string"))
              .cast("binary")),
        1, 4,
    )


def hash_sample(df: DataFrame, pct: float) -> DataFrame:
    """~pct% deterministic sample: keep rows whose md5 bucket < threshold."""
    return df.where(_bucket_col() < F.lit(_bucket_hex(pct / 100.0)))


def hash_split(df: DataFrame) -> DataFrame:
    """Disjoint, exhaustive train/val/test assignment (test = remainder),
    ``TRAIN_PCT`` / ``VAL_PCT`` / the rest.

    The same key always lands in the same split — across runs, cluster
    sizes, and engines — which is what prevents train/test leakage when
    the corpus is re-processed incrementally."""
    b = _bucket_col()
    t1 = F.lit(_bucket_hex(TRAIN_PCT / 100.0))
    t2 = F.lit(_bucket_hex((TRAIN_PCT + VAL_PCT) / 100.0))
    return df.withColumn(
        "split",
        F.when(b < t1, "train").when(b < t2, "val").otherwise("test"),
    )


def pack_sequences(df: DataFrame, bin_tokens: int) -> DataFrame:
    """Sequence packing: bin index per document so each bin holds about
    ``bin_tokens`` tokens, filled greedily in (lang, doc_id) order.

    bin = floor(cumsum_before / bin_tokens) where cumsum_before excludes
    the current document — a document starts a new bin exactly when the
    running total crosses the budget, the same greedy rule a training
    dataloader applies, expressed as ONE window cumsum (a single shuffle
    on ``lang``; no Python, no iteration)."""
    w = (
        Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return df.select(
        "lang", "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(cum_before / bin_tokens).cast("bigint").alias("bin_id"),
    )
