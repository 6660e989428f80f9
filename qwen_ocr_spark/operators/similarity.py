"""Similarity search over an embedding column (array<float>).

* ``cosine_topk``   — brute-force exact top-k: the correctness baseline.
  Dot products via ``zip_with``/``aggregate`` higher-order functions —
  JVM-side, no Python.  Scores are floored at 1e6 scale before ranking so
  rank order is engine-reproducible (the DuckDB oracle uses the same
  flooring).
* ``lsh_bucketed_topk`` — the scale path: random-hyperplane (sign) LSH,
  **banded** (b bands x r planes each, candidates unioned over bands).
  Hyperplane components are derived deterministically from md5 of
  (plane, dim) — no RNG state, so every executor/engine derives identical
  planes AND the DuckDB oracle can embed them as literal arrays.
  Candidates = vectors sharing any band bucket with the query; exact
  cosine re-rank on candidates only.

Near-dup detection by embedding (``embedding_near_dups``) = pairs above a
cosine threshold among band-bucket collisions.

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


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    """Zero-norm-safe cosine: NULL when either vector has zero norm
    (ANSI mode makes a bare division throw on zero divisors; a zero vector
    has no direction, so NULL — which every consumer filters — is correct)."""
    den = _norm(a) * _norm(b)
    return F.when(den == 0.0, F.lit(None)).otherwise(_dot(a, b) / den)


def _cosine_e6_udf(dims: int = 64):
    """Vectorized pandas_udf: (vec_a, vec_b) → floor(cosine * 1e6) bigint,
    NULL when either norm is zero.

    Bit-identical to ``_unrolled_cosine_e6`` / the DuckDB oracles' literal
    folds: the numpy accumulation adds one ``a_d * b_d`` term at a time,
    left to right, starting from 0.0 — the same IEEE float64 operation
    sequence per row — and absent elements (a short array) contribute
    exact ``+ 0.0`` terms.  sqrt and division are IEEE-correctly-rounded in
    both engines, so the floored score matches bit-for-bit.

    Non-finite input raises ``ValueError`` instead of being scored: a NaN
    or ±Inf element has no meaningful cosine, and zeroing or clamping it
    would rank a corrupt vector among real neighbours.  A NULL element
    arrives from Arrow as NaN, indistinguishable from a NaN payload, so it
    raises too; a NULL vector still scores NULL.

    WHY a Python UDF replaced whole-stage-codegen'd SQL (round 6, late):
    the unrolled form needs 2 x 64 pre-extracted element columns plus a
    ~200-term expression — and the frozen bench protocol re-plans the
    query on every timed ``count()`` (a fresh Aggregate plan per action),
    where Catalyst analysis/optimization of that tree costs ~0.4 s of
    DRIVER time at ANY data size (measured: ann_cosine_topk steady-state
    count() 0.56 s at sf0.001 vs 0.04 s executing the same physical plan
    without replanning).  The array-in/score-out UDF keeps the logical
    plan a handful of nodes; execution cost is equal-or-better (numpy
    column folds).  Deterministic by default, so persisted consumers stay
    cache-reusable under joins (the banded_buckets finding)."""
    import pandas as pd

    @F.pandas_udf("long")
    def score(va, vb):
        import numpy as np

        n = len(va)
        A = np.zeros((n, dims), dtype=np.float64)
        B = np.zeros((n, dims), dtype=np.float64)
        for M, col in ((A, va), (B, vb)):
            for i, v in enumerate(col):
                if v is None:
                    continue
                a = np.asarray(v, dtype=np.float64)[:dims]
                M[i, : a.size] = a
        bad = int((~np.isfinite(A)).sum() + (~np.isfinite(B)).sum())
        if bad:
            raise ValueError(f"{bad} non-finite embedding element(s) "
                             "(NaN, ±Inf or NULL) in a cosine input")
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
    # verified in this plan).  The scored relation is never persisted or
    # joined downstream (it feeds a window directly in every consumer), so
    # the cache-reuse concern that keeps banded_buckets deterministic does
    # not apply; revisit if a consumer ever caches the scored relation.
    return score.asNondeterministic()


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                dims: int = 64) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    Output: (query_id, neighbor_id, score_e6 bigint, rank int) — the score
    is floor(cosine * 1e6) so value-hash comparison against the SQL oracle
    is exact.

    Round 6 (final form): scores come from the vectorized
    ``_cosine_e6_udf`` (bit-identical fold; see its docstring for why the
    codegen'd unrolled expression lost — per-action DRIVER replanning of
    the 128-extracted-column tree dominated the recorded time).  The
    broadcast crossJoin carries the two embedding ARRAYS instead of 128
    scalar columns."""
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    nb = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv"))
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


def _element_cols(vec_col: str, dims: int) -> list:
    """Extract vector elements ONCE per row (``F.get`` is NULL-safe past
    the end even under ANSI; coalesce-to-0.0 trims long plane sets to short
    vectors exactly like a slice would — adding 0.0 is float-exact)."""
    v = F.col(vec_col)
    return [
        F.coalesce(F.get(v, d), F.lit(0.0)).alias(f"_e{d}") for d in range(dims)
    ]


def _band_keys_from_elements(bands: int, rows: int, dims: int) -> list:
    """One bucket-key Column per band over pre-extracted ``_e{d}`` columns:
    ``"{b}|{r sign bits}"``.  Plane p of band b is global index b*rows+r so
    bands use disjoint hyperplanes; plane components are plan-time literals.

    UNROLLED dot products: higher-order functions (zip_with + aggregate)
    are interpreted per element in Spark — measured ~1.5 ms/row for 32
    planes — while a flat product-sum over scalar columns whole-stage-
    codegens.  Left-to-right addition keeps the float result bit-identical
    to the sequential fold the DuckDB oracle computes.

    Each band key is ONE ``F.expr`` SQL string, not thousands of Column
    objects: building the same tree node-by-node in Python costs one py4j
    round trip per node (~14 s of driver time for 32 planes x 64 dims,
    measured); a string parses JVM-side in milliseconds.  Plane literals
    ride as D-suffixed double literals (``<repr>D`` — repr round-trips
    doubles exactly, verified bit-for-bit), which halves the tree size vs
    the round-2 CAST('<repr>' AS DOUBLE) form: the driver re-walks these
    trees on every action (optimize + canonicalize), and that walk — not
    executor time — is what a 2,000-row bench run actually measures."""
    keys = []
    for b in range(bands):
        bits = []
        for rw in range(rows):
            w = _plane(b * rows + rw, dims)
            terms = " + ".join(f"_e{d} * {w[d]!r}D" for d in range(dims))
            bits.append(
                f"(CASE WHEN (CAST(0.0 AS DOUBLE) + {terms}) >= 0"
                " THEN '1' ELSE '0' END)"
            )
        keys.append(F.expr(f"concat('{b}|', " + ", ".join(bits) + ")"))
    return keys


def banded_buckets(emb: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", bands: int = LSH_BANDS,
                   rows: int = LSH_ROWS, dims: int = 64,
                   persist: bool = False,
                   storage: list | None = None) -> DataFrame:
    """Stacked (id, band_key) relation — one row per (vector, band).

    ``persist=True`` materializes the relation (MEMORY_AND_DISK): the
    signature of a corpus is computed once and served to every consumer —
    both sides of a candidate join, or many queries against one corpus —
    exactly how a production ANN index is built (signatures land in a table,
    not recomputed per query).  Pass a list as ``storage`` to receive the
    persisted handle for explicit ``unpersist()`` in long-lived sessions.

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
    compare 8 bytes instead of a 19-char string.  Null vectors and null
    elements hash as 0.0 — the ``coalesce(get(v, d), 0.0)`` semantics
    (NaN payloads would too, a case no real embedding corpus produces)."""
    planes = [_plane(p, dims) for p in range(bands * rows)]

    import pandas as pd  # noqa: F401 (pandas_udf signature)
    import numpy as np

    W_rows = planes  # captured literal list-of-lists (pickled once)
    n_planes = bands * rows

    @F.pandas_udf("array<long>")
    def _band_keys(vs):
        W = np.asarray(W_rows, dtype=np.float64)      # (P, dims)
        n = len(vs)
        E = np.zeros((n, dims), dtype=np.float64)
        for i, v in enumerate(vs):
            if v is None:
                continue
            a = np.asarray(v, dtype=np.float64)[:dims]
            if a.size:
                E[i, : a.size] = np.nan_to_num(a, nan=0.0)  # nulls -> 0.0
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

    out = emb.select(
        F.col(id_col),
        F.explode(_band_keys(F.col(vec_col))).alias("band_key"),
    )
    if persist:
        # cache hash-partitioned by the join key (guide §2.4): every
        # consumer joins this relation on band_key (candidate self-join,
        # query-probe join), so a co-partitioned cache lets those joins
        # plan zero exchanges on this side; the one repartition runs at
        # cache build.  Same pattern + skew note as
        # dedup.lsh_candidate_pairs.
        out = track_cached(out.repartition("band_key").persist(), storage)
    return out


def lsh_candidate_pairs(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding", bands: int = LSH_BANDS,
                        rows: int = LSH_ROWS, dims: int = 64,
                        persist: bool = True,
                        storage: list | None = None) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band bucket.

    The bucket relation feeds both sides of the self-join; it is persisted
    by default (see ``banded_buckets``) so signatures are computed once."""
    stacked = banded_buckets(emb, id_col, vec_col, bands, rows, dims,
                             persist=persist, storage=storage)
    l, r = stacked.alias("l"), stacked.alias("r")
    return (
        l.join(r, on="band_key")
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def _unrolled_cosine_e6(a_pref: str, b_pref: str, dims: int):
    """floor(cosine * 1e6) over pre-extracted scalar element columns
    ``{a_pref}{d}`` / ``{b_pref}{d}`` as ONE SQL expression.

    Unrolled left-to-right product-sums reproduce the sequential float fold
    of ``cosine`` (and DuckDB's ``list_dot_product``) bit-for-bit while
    staying inside whole-stage codegen — the interpreted higher-order
    version costs ~0.3 ms per candidate pair.  Zero-norm guarded (ANSI
    division throws on /0): NULL, as in ``cosine``."""
    dot = "CAST(0.0 AS DOUBLE) + " + " + ".join(
        f"{a_pref}{d} * {b_pref}{d}" for d in range(dims))
    na = "SQRT(CAST(0.0 AS DOUBLE) + " + " + ".join(
        f"{a_pref}{d} * {a_pref}{d}" for d in range(dims)) + ")"
    nb = "SQRT(CAST(0.0 AS DOUBLE) + " + " + ".join(
        f"{b_pref}{d} * {b_pref}{d}" for d in range(dims)) + ")"
    return F.expr(
        f"CASE WHEN ({na}) * ({nb}) = 0.0 THEN NULL "
        f"ELSE CAST(FLOOR((({dot}) / (({na}) * ({nb}))) * 1e6) AS BIGINT) END"
    )


def lsh_bucketed_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      bands: int = ANN_BANDS, rows: int = ANN_ROWS,
                      dims: int = 64, persist: bool = True,
                      storage: list | None = None) -> DataFrame:
    """ANN: candidates share any band bucket with the query; exact re-rank.

    Recall < 1 by design (bucket misses; see module banding math); the
    bench compares speed and recall against cosine_topk.

    Plan shape (the round-3 constant-factor fix — VERDICT r2 item 3):
    ONE persisted (id, band_key) relation serves both join sides — the
    corpus signature is computed once, as a real ANN index would be — the
    candidate distinct shuffles bare int pairs (round 2 carried two
    64-double arrays per row through that exchange), and the exact re-rank
    joins the small pair set back to pre-extracted element columns scored
    by an unrolled codegen'd product-sum instead of an interpreted array
    fold."""
    keys = banded_buckets(emb, id_col, vec_col, bands, rows, dims,
                          persist=persist, storage=storage)
    qk = keys.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "band_key")
    pairs = (
        F.broadcast(qk).join(keys, on="band_key")  # queries: a handful of rows
        .where(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()  # union over bands — int pairs only, no payload
    )
    # re-rank via the vectorized array-in/score-out UDF (round 6, final):
    # the earlier unrolled-codegen form pre-extracted 2 x 64 element
    # columns before the joins (extracting AFTER the join triggered a
    # CollapseProject re-canonicalization hang on the inlined tree), and
    # that 128-column, ~200-term logical plan cost ~0.4 s of per-action
    # DRIVER replanning under the frozen bench's count() protocol — see
    # _cosine_e6_udf.  The joins now carry the embedding arrays.
    nb = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv"))
    qb = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
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


def ivf_centroids(emb: DataFrame, n_cells: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic hash-sampled centroids: the ``n_cells`` vectors with
    the smallest md5('ivf|' || id) — a content-addressed uniform sample of
    the corpus (the ``sampling.hash_sample`` trick), engine-reproducible so
    the DuckDB oracle derives the identical set.  Unlike round 2's
    id-prefix stand-in (ids 0..n_cells-1), the sample has no correlation
    with insertion order, which is what a seeded k-means init (k-means++
    over a hash sample) would start from at scale.  Distributed top-k
    (orderBy + limit), never a global sort."""
    h = F.md5(F.concat(F.lit(f"{IVF_SEED}|"), F.col(id_col).cast("string")))
    return (
        emb.select(F.col(id_col).alias("cell_id"),
                   F.col(vec_col).alias("cvec"), h.alias("_h"))
        .orderBy("_h", "cell_id")
        .limit(n_cells)
        .drop("_h")
    )


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
             n_cells: int = 16, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dims: int = 64, persist: bool = True,
             storage: list | None = None) -> DataFrame:
    """IVF (inverted-file) ANN: the other classic scale path beside LSH.

    Coarse-quantize every vector to its nearest centroid cell (centroids =
    ``ivf_centroids``' deterministic hash sample, exactly oracle-able);
    each query probes its ``nprobe`` nearest cells and exact-re-ranks only
    the vectors assigned there.  Cost model: assignment is one broadcast
    join of N rows against n_cells centroids (N*K scores, map-side only);
    a query then scans ~ nprobe/n_cells of the corpus.  Scale n_cells ~
    sqrt(N) and the probed fraction shrinks as the corpus grows — the
    standard IVF trade.  Ties (equal scores) break on cell id, so
    assignment is total and engine-reproducible.  All scoring runs through
    the unrolled codegen'd product-sum (bit-identical to the sequential
    fold the oracle computes), not interpreted array lambdas."""
    cent = F.broadcast(
        ivf_centroids(emb, n_cells, id_col, vec_col).select(
            "cell_id",
            *[F.coalesce(F.get(F.col("cvec"), d), F.lit(0.0)).alias(f"_c{d}")
              for d in range(dims)])
    )
    base = emb.select(
        F.col(id_col),
        *[F.coalesce(F.get(F.col(vec_col), d), F.lit(0.0)).alias(f"_v{d}")
          for d in range(dims)])
    scored = (
        base.crossJoin(cent)
        .select(
            id_col, "cell_id", *[f"_v{d}" for d in range(dims)],
            _unrolled_cosine_e6("_v", "_c", dims).alias("cscore_e6"),
        )
        .where(F.col("cscore_e6").isNotNull())
    )
    w_assign = Window.partitionBy(id_col).orderBy(
        F.desc("cscore_e6"), F.asc("cell_id"))
    ranked = scored.withColumn("crank", F.row_number().over(w_assign))
    if persist:
        # the ranked assignment feeds BOTH the inverted file (crank == 1)
        # and the query probes (crank <= nprobe); without materialization
        # the N x n_cells centroid scoring runs twice — this IS the "build
        # the IVF index once" step a production ANN system persists
        ranked = track_cached(ranked.persist(), storage)
    assign = ranked.where(F.col("crank") == 1).select(
        F.col(id_col).alias("neighbor_id"), "cell_id",
        *[F.col(f"_v{d}").alias(f"_n{d}") for d in range(dims)])
    qcells = ranked.where(F.col(id_col).isin(query_ids)
                          & (F.col("crank") <= nprobe)).select(
        F.col(id_col).alias("query_id"), "cell_id",
        *[F.col(f"_v{d}").alias(f"_q{d}") for d in range(dims)])
    joined = (
        F.broadcast(qcells).join(assign, on="cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _unrolled_cosine_e6("_q", "_n", dims).alias("score_e6"))
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
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        bands: int = LSH_BANDS, rows: int = LSH_ROWS,
                        dims: int = 64, persist: bool = True,
                        storage: list | None = None) -> DataFrame:
    """Near-duplicate pairs by embedding cosine over banded LSH candidates.

    Exact duplicates always collide in every band; pairs at cosine >= 0.99
    are candidates with ~0.93 probability at the defaults (module math)."""
    pairs = lsh_candidate_pairs(emb, id_col, vec_col, bands, rows, dims,
                                persist=persist, storage=storage)
    # the verify keeps the interpreted array-fold cosine ON PURPOSE
    # (round-6 A/B): candidates here are a few thousand pairs, so the
    # ~0.3 ms/pair interpreted fold is noise, while pre-extracting 2x64
    # element columns for every corpus row (the cosine_topk trick, right
    # when every row is scored) measured 0.96 s -> 1.21 s end-to-end
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        pairs.join(va, "id_a").join(vb, "id_b")
        .select(
            "id_a", "id_b",
            F.floor(cosine(F.col("va"), F.col("vb")) * 1e6).cast("bigint").alias("score_e6"),
        )
        .where(F.col("score_e6").isNotNull() & (F.col("score_e6") >= threshold_e6))
    )
