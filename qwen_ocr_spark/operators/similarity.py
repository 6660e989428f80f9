"""Similarity search over an embedding relation.

Input schema: every operator reads ``vec_id`` (bigint) and ``embedding``
(array<double>, at most ``dims`` elements, all finite); pair relations are
``(id_a, id_b, ...)`` with ``id_a < id_b``.  Every relation an operator
persists is registered with ``plans.session.track_cached`` and released by
``release_cached()``.

* ``cosine_topk``   — brute-force exact top-k: the correctness baseline.
  Scores are floored at 1e6 scale before ranking so rank order is
  engine-reproducible (the DuckDB oracle uses the same flooring).
* ``lsh_bucketed_topk`` — the scale path: random-hyperplane (sign) LSH,
  **banded** (b bands x r planes each, candidates unioned over bands).
  Hyperplane components are derived deterministically from md5 of
  (plane, dim) — no RNG state, so every executor/engine derives identical
  planes AND the DuckDB oracle can embed them as literal arrays.
  Candidates = vectors sharing any band bucket with the query; exact
  cosine re-rank on candidates only.

Near-dup detection by embedding (``embedding_near_dups``) = pairs above a
cosine threshold among band-bucket collisions.

Every consumer (the two above, ``ivf_topk`` and ``embedding_near_dups``)
scores through one vectorized scorer, ``_cosine_e6_udf``.  The scorer and
the band-key projector read vectors through one check,
``_embedding_matrix``, so an input one rejects the other rejects too.

Banding math (why b x r, not one flat signature — VERDICT r1 item 3):
with r planes per band there are 2^r buckets per band, so the expected
intra-band self-join cost on N uniform vectors is N^2 / 2^r per band —
r=16 shrinks each band's join 256x vs the old flat 8-plane signature
(N^2/256 was quadratic-with-a-constant at 10^9+ rows).  Recall for a pair
at angle theta: p = 1 - theta/pi per plane, so P(candidate) =
1 - (1 - p^r)^b.  At near-dup thresholds (cosine >= 0.99, p ~ 0.955) the
defaults r=16, b=4 give ~0.93 recall; exact duplicates (cosine 1.0) are
always candidates.  For looser thresholds lower ``rows`` and raise
``bands`` — the knobs trade join cost against recall explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qwen_ocr_spark.plans.session import track_cached

LSH_BANDS = 4      # near-dup defaults: 4 bands x 16 planes = 64 planes total
LSH_ROWS = 16
ANN_BANDS = 4      # top-k ANN defaults: looser buckets (2^8 per band) —
ANN_ROWS = 8       # generic neighbors sit at wide angles, so near-dup-tight
                   # bands would return zero candidates; 4x8 probes a few
                   # percent of the corpus per query (IVF-probe analog)


def _embedding_matrix(vectors, dims: int):
    """Zero-padded float64 ``(rows, dims)`` matrix of an embedding column
    as a pandas_udf receives it (one numpy array or None per row).  A NULL
    vector becomes a zero row.

    Raises ``ValueError`` on a vector longer than ``dims`` and on any NaN,
    ±Inf or NULL element: a non-finite element has no meaningful cosine
    or hyperplane side, and zeroing or clamping it would rank or bucket a
    corrupt vector among real neighbours.  A NULL element arrives from
    Arrow as NaN, indistinguishable from a NaN payload, so it raises too.
    """
    import numpy as np

    M = np.zeros((len(vectors), dims), dtype=np.float64)
    for i, v in enumerate(vectors):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.size > dims:
            raise ValueError(f"a {a.size}-element embedding exceeds "
                             f"dims={dims}")
        M[i, : a.size] = a
    bad = int((~np.isfinite(M)).sum())
    if bad:
        raise ValueError(f"{bad} non-finite embedding element(s) "
                         "(NaN, ±Inf or NULL)")
    return M


def _cosine_e6_udf(dims: int = 64):
    """Vectorized pandas_udf: (vec_a, vec_b) → floor(cosine * 1e6) bigint,
    NULL when either norm is zero.

    Bit-identical to the DuckDB oracles' ``list_dot_product`` folds: the
    numpy accumulation adds one ``a_d * b_d`` term at a time, left to
    right, starting from 0.0 — the same IEEE float64 operation sequence
    per row — and absent elements (a short array) contribute exact
    ``+ 0.0`` terms.  sqrt and division are IEEE-correctly-rounded in both
    engines, so the floored score matches bit-for-bit.

    A NULL vector scores NULL; a non-finite element or a vector longer
    than ``dims`` raises ``ValueError`` (``_embedding_matrix``).

    WHY a Python UDF replaced whole-stage-codegen'd SQL (round 6, late):
    the unrolled form needs 2 x 64 pre-extracted element columns plus a
    ~200-term expression — and the frozen bench protocol re-plans the
    query on every timed ``count()`` (a fresh Aggregate plan per action),
    where Catalyst analysis/optimization of that tree costs ~0.4 s of
    DRIVER time at ANY data size (measured: ann_cosine_topk steady-state
    count() 0.56 s at sf0.001 vs 0.04 s executing the same physical plan
    without replanning).  The array-in/score-out UDF keeps the logical
    plan a handful of nodes; execution cost is equal-or-better (numpy
    column folds)."""
    import pandas as pd

    @F.pandas_udf("long")
    def score(va, vb):
        import numpy as np

        n = len(va)
        A = _embedding_matrix(va, dims)
        B = _embedding_matrix(vb, dims)
        dot = np.zeros(n, dtype=np.float64)
        na2 = np.zeros(n, dtype=np.float64)
        nb2 = np.zeros(n, dtype=np.float64)
        for d in range(dims):  # left-to-right fold, vectorized across rows
            dot = dot + A[:, d] * B[:, d]
            na2 = na2 + A[:, d] * A[:, d]
            nb2 = nb2 + B[:, d] * B[:, d]
        den = np.sqrt(na2) * np.sqrt(nb2)
        ok = den != 0.0
        out = np.zeros(n, dtype=np.float64)
        out[ok] = np.floor((dot[ok] / den[ok]) * 1e6)
        res = pd.array(out.astype(np.int64), dtype="Int64")
        res[~ok] = pd.NA
        return pd.Series(res)

    # asNondeterministic: the ``score_e6 IS NOT NULL`` consumer filter
    # otherwise gets pushed below the projection with the UDF COPIED under
    # it — two ArrowEvalPython nodes, every row scored twice (guide §4.4;
    # verified in this plan).  ivf_topk persists its scored assignment
    # anyway: both of its consumers derive from that one DataFrame, so the
    # cache lookup still matches and each reads the InMemoryTableScan.
    return score.asNondeterministic()


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                dims: int = 64) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    Output: (query_id, neighbor_id, score_e6 bigint, rank int) — the score
    is floor(cosine * 1e6) so value-hash comparison against the SQL oracle
    is exact.

    Scores come from ``_cosine_e6_udf``; the broadcast crossJoin carries
    the two embedding arrays."""
    q = emb.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_nv"))
    joined = (
        F.broadcast(q)  # queries are a handful of rows — broadcast always
        .crossJoin(nb)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            _cosine_e6_udf(dims)(F.col("_qv"), F.col("_nv")).alias("score_e6"),
        )
        .where(F.col("score_e6").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_e6"), F.asc("neighbor_id")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_e6", "rank")
    )


def _plane(plane: int, dims: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component d in [-0.5, 0.5)
    from the first 6 md5 hex digits of 'p|d'.  Computed once at PLAN time —
    every engine/executor derives the identical plane, and the per-row work
    is just a dot product against a literal array (no per-row hashing)."""
    import hashlib
    return [
        int(hashlib.md5(f"{plane}|{d}".encode()).hexdigest()[:6], 16) / 16777216.0 - 0.5
        for d in range(dims)
    ]


def cache_by_band_key(buckets: DataFrame) -> DataFrame:
    """Persist an ``(id, band_key)`` relation hash-partitioned by
    ``band_key``, registered with ``track_cached``.

    Every consumer joins it on band_key (candidate self-join, query-probe
    join), and an InMemoryTableScan reports the cached plan's output
    partitioning, so both sides of those joins read co-partitioned cache
    and plan ZERO exchanges on this side (guide §2.4 — the in-session
    analog of a bucketed table; also two fewer AQE stage rounds per
    action).  The one repartition happens at cache build.  Trade-off,
    documented: a cached side has no exchange for AQE skew-splitting to
    rewrite — bounded band-bucket multiplicity is the banding's own
    contract (module math)."""
    return track_cached(buckets.repartition("band_key").persist())


def band_pairs(buckets: DataFrame) -> DataFrame:
    """Distinct ``(id_a < id_b)`` pairs sharing at least one band_key, by
    a self-join of an ``(id, band_key)`` relation (id column first) that
    ``cache_by_band_key`` built.  The banded-LSH candidate step of both
    MinHash (``dedup.lsh_candidate_pairs``) and the embedding LSH."""
    id_col = buckets.columns[0]
    ida, idb = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    return (
        buckets.alias("l").join(buckets.alias("r"), on="band_key")
        .where(ida < idb)
        .select(ida.alias("id_a"), idb.alias("id_b"))
        .distinct()
    )


def banded_buckets(emb: DataFrame, bands: int = LSH_BANDS,
                   rows: int = LSH_ROWS, dims: int = 64) -> DataFrame:
    """Stacked (vec_id, band_key) relation — one row per (vector, band),
    cached by ``cache_by_band_key``: the signature of a corpus is computed
    once and served to every consumer — both sides of a candidate join,
    or many queries against one corpus — exactly how a production ANN
    index is built (signatures land in a table, not recomputed per query).

    Round 6 (final form): the band keys are computed by ONE vectorized
    **scalar pandas_udf** returning all ``bands`` packed int64 keys as an
    array, exploded JVM-side.  Three accumulated findings led here:

    * the round-3 unrolled SQL tree (32 planes x 64 literal terms, ~20k
      nodes) cost the DRIVER ~0.3 s re-canonicalization per action even
      fully cached (the tree lives on inside the InMemoryRelation plan);
    * the first round-6 fix (``mapInArrow``) killed the tree but Python
      MAP nodes are flagged non-deterministic, so a JOIN consumer
      silently re-ran the Arrow pass instead of reading the persisted
      cache — measured 0.44 s per action for a 2,111-row candidate join;
    * a scalar pandas_udf is deterministic by default, so the persisted
      (id, band_key) relation is ACTUALLY reused by both self-join sides.

    The numpy fold adds one vectorized term at a time, left to right,
    vectorized across planes: per (row, plane) element the float64
    operation sequence is identical to the SQL
    ``(0.0 + e0*w0) + e1*w1 ...``, so every sign bit matches the DuckDB
    oracles (which embed the same literal planes).  Keys are packed
    int64 (band index in the high bits, the band's sign bits below,
    MSB-first) — bijective with the round-5 "b|0101…" string, so bucket
    equality and every candidate pair set are identical while joins
    compare 8 bytes instead of a 19-char string.  A NULL vector hashes as
    the zero vector; a non-finite element or a vector longer than ``dims``
    raises ``ValueError``, exactly as in the cosine scorer
    (``_embedding_matrix``)."""
    planes = [_plane(p, dims) for p in range(bands * rows)]

    import pandas as pd  # noqa: F401 (pandas_udf signature)
    import numpy as np

    W_rows = planes  # captured literal list-of-lists (pickled once)
    n_planes = bands * rows

    @F.pandas_udf("array<long>")
    def _band_keys(vs):
        W = np.asarray(W_rows, dtype=np.float64)      # (P, dims)
        n = len(vs)
        E = _embedding_matrix(vs, dims)
        # left-to-right fold, one term at a time, vectorized ACROSS
        # planes: bit-identical accumulation order per (row, plane)
        acc = np.zeros((n, n_planes), dtype=np.float64)
        for d in range(dims):
            acc = acc + E[:, d:d + 1] * W[:, d][None, :]
        bits = (acc >= 0.0).T                         # (P, n)
        out = np.empty((n, bands), dtype=np.int64)
        for b in range(bands):
            val = np.zeros(n, dtype=np.int64)
            for r in range(b * rows, (b + 1) * rows):
                val = (val << 1) | bits[r].astype(np.int64)
            out[:, b] = val | (b << rows)
        return pd.Series(list(out))

    return cache_by_band_key(emb.select(
        F.col("vec_id"),
        F.explode(_band_keys(F.col("embedding"))).alias("band_key"),
    ))


def lsh_candidate_pairs(emb: DataFrame, bands: int = LSH_BANDS,
                        rows: int = LSH_ROWS, dims: int = 64) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band bucket; the
    cached bucket relation (``banded_buckets``) feeds both join sides, so
    signatures are computed once."""
    return band_pairs(banded_buckets(emb, bands, rows, dims))


def lsh_bucketed_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                      bands: int = ANN_BANDS, rows: int = ANN_ROWS,
                      dims: int = 64) -> DataFrame:
    """ANN: candidates share any band bucket with the query; exact re-rank.

    Recall < 1 by design (bucket misses; see module banding math); the
    bench compares speed and recall against cosine_topk.

    Plan shape (the round-3 constant-factor fix — VERDICT r2 item 3):
    ONE cached (vec_id, band_key) relation serves both join sides — the
    corpus signature is computed once, as a real ANN index would be — the
    candidate distinct shuffles bare int pairs (round 2 carried two
    64-double arrays per row through that exchange), and the exact re-rank
    joins the small pair set back to the embedding arrays and scores them
    with ``_cosine_e6_udf``."""
    keys = banded_buckets(emb, bands, rows, dims)
    qk = keys.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), "band_key")
    pairs = (
        F.broadcast(qk).join(keys, on="band_key")  # queries: a handful of rows
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()  # union over bands — int pairs only, no payload
    )
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_nv"))
    qb = emb.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    scored = (
        pairs.join(nb, on="neighbor_id")      # pairs are small: AQE broadcasts
        .join(F.broadcast(qb), on="query_id")
        .select("query_id", "neighbor_id",
                _cosine_e6_udf(dims)(F.col("_qv"), F.col("_nv")).alias("score_e6"))
        .where(F.col("score_e6").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_e6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_e6", "rank")
    )


IVF_SEED = "ivf"


def ivf_centroids(emb: DataFrame, n_cells: int = 16) -> DataFrame:
    """Deterministic hash-sampled centroids: the ``n_cells`` vectors with
    the smallest md5('ivf|' || id) — a content-addressed uniform sample of
    the corpus (the ``sampling.hash_sample`` trick), engine-reproducible so
    the DuckDB oracle derives the identical set.  Unlike round 2's
    id-prefix stand-in (ids 0..n_cells-1), the sample has no correlation
    with insertion order, which is what a seeded k-means init (k-means++
    over a hash sample) would start from at scale.  Distributed top-k
    (orderBy + limit), never a global sort."""
    h = F.md5(F.concat(F.lit(f"{IVF_SEED}|"), F.col("vec_id").cast("string")))
    return (
        emb.select(F.col("vec_id").alias("cell_id"),
                   F.col("embedding").alias("cvec"), h.alias("_h"))
        .orderBy("_h", "cell_id")
        .limit(n_cells)
        .drop("_h")
    )


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
             n_cells: int = 16, nprobe: int = 2,
             dims: int = 64) -> DataFrame:
    """IVF (inverted-file) ANN: the other classic scale path beside LSH.

    Coarse-quantize every vector to its nearest centroid cell (centroids =
    ``ivf_centroids``' deterministic hash sample, exactly oracle-able);
    each query probes its ``nprobe`` nearest cells and exact-re-ranks only
    the vectors assigned there.  Cost model: assignment is one broadcast
    join of N rows against n_cells centroids (N*K scores, map-side only);
    a query then scans ~ nprobe/n_cells of the corpus.  Scale n_cells ~
    sqrt(N) and the probed fraction shrinks as the corpus grows — the
    standard IVF trade.  Ties (equal scores) break on cell id, so
    assignment is total and engine-reproducible.  Both the assignment and
    the re-rank score through ``_cosine_e6_udf``."""
    score = _cosine_e6_udf(dims)
    cent = F.broadcast(ivf_centroids(emb, n_cells))
    scored = (
        emb.select(F.col("vec_id"), F.col("embedding").alias("_v"))
        .crossJoin(cent)
        .select("vec_id", "cell_id", "_v",
                score(F.col("_v"), F.col("cvec")).alias("cscore_e6"))
        .where(F.col("cscore_e6").isNotNull())
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cscore_e6"), F.asc("cell_id"))
    # the ranked assignment feeds BOTH the inverted file (crank == 1) and
    # the query probes (crank <= nprobe); without materialization the
    # N x n_cells centroid scoring runs twice — this IS the "build the IVF
    # index once" step a production ANN system persists
    ranked = track_cached(
        scored.withColumn("crank", F.row_number().over(w_assign)).persist())
    assign = ranked.where(F.col("crank") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id", F.col("_v").alias("_nv"))
    qcells = ranked.where(F.col("vec_id").isin(query_ids)
                          & (F.col("crank") <= nprobe)).select(
        F.col("vec_id").alias("query_id"), "cell_id", F.col("_v").alias("_qv"))
    joined = (
        F.broadcast(qcells).join(assign, on="cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                score(F.col("_qv"), F.col("_nv")).alias("score_e6"))
        .where(F.col("score_e6").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_e6"),
                                               F.asc("neighbor_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_e6", "rank")
    )


def embedding_near_dups(emb: DataFrame, threshold_e6: int = 999_000,
                        bands: int = LSH_BANDS, rows: int = LSH_ROWS,
                        dims: int = 64) -> DataFrame:
    """Near-duplicate pairs by embedding cosine over banded LSH candidates.

    Exact duplicates always collide in every band; pairs at cosine >= 0.99
    are candidates with ~0.93 probability at the defaults (module math)."""
    pairs = lsh_candidate_pairs(emb, bands, rows, dims)
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        pairs.join(va, "id_a").join(vb, "id_b")
        .select(
            "id_a", "id_b",
            _cosine_e6_udf(dims)(F.col("va"), F.col("vb")).alias("score_e6"),
        )
        .where(F.col("score_e6") >= threshold_e6)
    )
