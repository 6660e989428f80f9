"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale-first shapes (the 100 TB rationale, per operator):

* exact      — one hash-aggregate on md5(text): a single shuffle keyed by a
               16-byte digest, map-side partial agg; no text moves twice.
               Written as SQL text (``selectExpr`` / ``F.expr``), so its
               plan is built in a few JVM calls, not one py4j-wrapped
               ``Column`` call per expression node.
* minhash    — shingle explode → per-doc min-aggregate per hash slot (k
               independent permutations approximated by seeded md5) → one
               LSH bucket pass (``similarity.band_bucket_pairs``).
               Candidate pairs only: documents never pairwise compare
               unless a band collides, which is what keeps it
               sub-quadratic at corpus scale.
* simhash    — 32-bit signature from per-token md5 high bits;
               ``simhash_near_pairs`` finds pairs within hamming radius d
               over the distinct signatures via a chunk-bucket join: split
               the signature into ceil((d+1)/2) chunks — pigeonhole
               guarantees a pair at distance <= d is within distance 1 on
               at least one chunk — join each chunk against the other
               side's 1-bit expansion of it (the chunk and every one-bit
               flip), verify the full distance with bit_count(xor).
* ngram      — exact Jaccard on distinct word 3-grams computed via a
               shingle-key equi-join (co-shingle counting), never a cross
               join.  Shingles whose document frequency exceeds ``max_df``
               are dropped BEFORE the self-join: a stop-shingle in k docs
               would materialize k^2/2 join rows (the 100 TB blowup), and
               it carries no near-dup signal — J >= 0.8 pairs share many
               RARE shingles.  Jaccard is then computed over the capped
               shingle sets on both sides (sizes and intersections), so
               the DuckDB oracle mirrors it exactly.

Input schema: every operator reads a document relation with columns
``doc_id`` (bigint) and ``text`` (string); pair relations are ``(id_a,
id_b, ...)`` with ``id_a < id_b``, which is also what
``connected_components`` reads.  Every relation an operator persists is
registered with ``plans.session.track_cached`` and released by
``release_cached()``.

Most of it is built-in-function SQL (md5/least/greatest/window).  Three
steps are Python: the word shingles (one vectorized pandas_udf,
``_shingle_array_udf``), the LSH bucket kernel behind
``lsh_candidate_pairs`` and the union-find kernel behind
``connected_components`` (one ``mapInArrow`` pass each).  Every operator
has an exact DuckDB oracle in __spark_entry__.py because md5 is
engine-independent.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qwen_ocr_spark.operators.similarity import band_bucket_pairs
from qwen_ocr_spark.plans.session import run_dir_path, track_cached

MINHASH_SLOTS = 8
MINHASH_BANDS = 4  # 2 slots per band
SHINGLE_N = 3
MAX_SHINGLE_DF = 256  # default document-frequency cap for the jaccard join
SIMHASH_RADIUS = 3    # default hamming radius; 2 chunks of 16 bits,
                      # each joined through its 1-bit expansion
CC_LOCAL_EDGES = 1_000_000  # edges labelled in ONE task; the kernel grows
                            # RSS ~105 B/edge over its Arrow input (2M
                            # edges: ~205 MB), so that task stays near 105 MB
_BITMAP_WORDS = 4     # 4 x 64 = 256-bit hashed doc bitmaps (jaccard
                      # pre-filter; exactness does not depend on the width,
                      # only pruning power does).  Round-6 A/B at sf1: the
                      # prefix self-join materializes ~20M rows carrying 2x
                      # (_BITMAP_WORDS+1) bigints each, so width is the
                      # dominant term of the join cost — 16→4 words cut the
                      # candidate stage 1.42 s → 0.95 s with the IDENTICAL
                      # candidate count (5,080; ~50-shingle docs stay sparse
                      # in 256 bits).  Size to ~2-4x the typical distinct-
                      # shingle count per doc: much larger documents (or a
                      # higher max_df regime) deserve 16+ words again —
                      # saturated bitmaps only cost pruning power, never
                      # correctness.


def exact_dups(df: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one representative (min id) per distinct
    text.  SQL-text projection and aggregates (module docstring)."""
    return (
        df.selectExpr("md5(CAST(text AS BINARY)) AS text_md5", "doc_id")
          .groupBy("text_md5")
          .agg(F.expr("min(doc_id) AS keep_id"),
               F.expr("count(*) AS dup_count"))
    )


def incremental_dedup(new_df: DataFrame, digest_path: str,
                      commit: bool = True, run_id: str | None = None) -> DataFrame:
    """Cross-run exact dedup: drop rows whose text digest is already in the
    committed digest table, then (``commit=True``) append the survivors'
    digests — the operator a crawl pipeline runs per ingest batch so no
    snapshot ever re-admits text any PREVIOUS snapshot contained.

    Scale shape: the state is a table of 16-byte md5 digests, not text —
    at 10^12 documents that is ~16 TB of digests vs ~100 TB of text, and
    the anti-join shuffles only (digest) pairs; AQE broadcasts the batch
    side while it is small.  Within-batch duplicates also collapse (keep
    min id), so the operator is idempotent: re-running the same batch
    admits zero rows.  Digests are committed under a run_id partition and
    the survivors are re-derived from a read-back of ONLY that partition
    (the write_output pattern — appending to ``digest_path`` invalidates
    any plan that anti-joins against it, so returning the pre-append
    ``fresh`` plan would silently re-evaluate to zero rows).  Both reads
    declare their schema (no footer-inference job), and the partition is
    read at its escaped directory name, as ``sinks/manifest.py`` reads its
    run directories.  Single committer per digest table at a time, like
    the url resume anti-join."""
    import uuid
    from pyspark.sql.utils import AnalysisException

    spark = new_df.sparkSession
    batch = new_df.withColumn(
        "text_md5", F.md5(F.col("text").cast("binary")))
    w = Window.partitionBy("text_md5").orderBy(F.asc("doc_id"))
    batch = (batch.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") == 1).drop("_rn"))
    try:
        seen = spark.read.schema("text_md5 string, run_id string") \
            .parquet(digest_path).select("text_md5")
        fresh = batch.join(seen, on="text_md5", how="left_anti")
    except AnalysisException:
        fresh = batch  # first batch: nothing committed yet
    if not commit:
        return fresh.drop("text_md5")
    rid = run_id or f"dedup-{uuid.uuid4().hex[:12]}"
    (
        fresh.select("text_md5").withColumn("run_id", F.lit(rid))
        .write.mode("append").partitionBy("run_id").parquet(digest_path)
    )
    try:
        mine = spark.read.schema("text_md5 string").parquet(
            run_dir_path(spark, digest_path, rid))
    except AnalysisException:
        return batch.limit(0).drop("text_md5")  # nothing was fresh
    return batch.join(mine, on="text_md5", how="left_semi").drop("text_md5")


def word_shingles(df: DataFrame, n: int = SHINGLE_N,
                  distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document (one vectorized Python pass).

    ``distinct=True`` (the default) dedups (doc, shingle) — required by
    set semantics (n-gram Jaccard).  The dedup is PER DOCUMENT (first
    occurrence kept, like ``array_distinct``), inside the same pass.
    Pass ``distinct=False`` for duplicate-insensitive consumers
    (MinHash's per-slot ``min`` gives the same answer either way).

    Round 6: the array is built by a pandas_udf instead of the round-1
    ``transform(sequence(...), i -> array_join(slice(toks, i+1, n)))``
    expression — higher-order lambdas are interpreted PER ELEMENT
    (the round-2 gotcha), and isolating the explode showed the shingle
    construction alone cost 1.37 s of the 1.7 s minhash pipeline at sf1.
    CPython's C-level ``str.split``/``' '.join`` do the same work in
    ~0.1 s; the JVM boundary only carries (text in, shingle array out).
    The Python tokenizer reproduces the SQL semantics exactly:
    ``trim()`` strips 0x20 only, the split regex is ASCII ``\\s+``
    (Java's default), trailing empty tokens survive (Spark split keeps
    them at limit -1), and NULL text yields a NULL array."""
    return df.select(
        F.col("doc_id"),
        F.explode(_shingle_array_udf(n, distinct)(F.col("text"))).alias("shingle"),
    )


def _shingle_array_udf(n: int = SHINGLE_N, distinct: bool = False):
    """Vectorized pandas_udf: text → word n-gram shingle array (order
    preserved; ``distinct`` keeps first occurrences, like array_distinct).
    Deterministic (default), so persisted downstream relations are
    cache-reusable under joins — unlike mapInArrow/mapInPandas nodes."""
    import pandas as pd

    @F.pandas_udf("array<string>")
    def shingle(texts):
        import re
        ws = re.compile(r"\s+", re.ASCII)  # Java \s is ASCII-only
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = ws.split(t.strip(" "))  # SQL trim: 0x20 only
            if len(toks) < n:
                out.append([])
                continue
            sh = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
            if distinct:
                sh = list(dict.fromkeys(sh))
            out.append(sh)
        return pd.Series(out)

    return shingle


def doc_shingle_sets(df: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Per-document distinct-shingle ARRAY — ``(doc_id, _set)`` — built
    entirely from deterministic row-local expressions (split → transform →
    array_distinct): no explode, no shuffle, no aggregate.

    This matters beyond the saved shuffle (round 6): ``collect_set`` /
    ``collect_list`` are flagged non-deterministic, and Spark will NOT
    reuse a cached relation whose plan contains a non-deterministic
    expression when it appears under a join — each join side silently
    re-runs the whole aggregate (measured: a persisted
    collect_set-bearing MinHash aggregate re-ran its full 12 s-CPU
    pipeline on BOTH sides of the LSH band self-join at sf1, every
    action, despite 32/32 cached partitions).  An expression-only set
    relation caches and reuses cleanly."""
    return df.select(
        F.col("doc_id"),
        _shingle_array_udf(n, distinct=True)(F.col("text")).alias("_set"))


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """``MINHASH_SLOTS``-slot MinHash: slot_i = min(md5(i || '|' ||
    shingle)) per document.

    Seeded md5 approximates k independent hash permutations and is
    bit-identical across engines (the oracle property)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")).cast("binary"))).alias(f"mh{i}")
        for i in range(MINHASH_SLOTS)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signature (``MINHASH_BANDS`` bands of
    ``MINHASH_SLOTS // MINHASH_BANDS`` slots) and emit the distinct
    (a < b) pairs sharing a band, from one bucket pass
    (``similarity.band_bucket_pairs``, the step the embedding LSH uses):
    one band_key exchange, no join, no cache, no ``distinct``.

    Band keys are BINARY — one band-index byte plus ``unhex`` of each
    md5-hex slot (fixed 1+16n bytes; 33 at the constants) — instead of
    the round-5 pipe-joined hex string (~70 chars): hex↔binary is
    bijective and every part is fixed-width, so key equality (and
    therefore the candidate pair set) is IDENTICAL while the sort
    compares half the bytes (guide §2.3 "narrower types"; round 6), and
    the kernel reads them as fixed-width numpy bytes."""
    per_band = MINHASH_SLOTS // MINHASH_BANDS
    keys = F.array(*[
        F.concat(F.lit(bytes([b])),
                 *[F.unhex(F.col(f"mh{i}"))
                   for i in range(b * per_band, (b + 1) * per_band)])
        for b in range(MINHASH_BANDS)])
    return band_bucket_pairs(
        sigs.select("doc_id", keys.alias("keys"))
        .select("doc_id", F.explode("keys").alias("band_key"), "keys"))


def _cc_star(e: DataFrame) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond"): the path of
    ``connected_components`` above ``CC_LOCAL_EDGES`` edges, O(log n)
    Spark rounds whatever the component depth.

    Edges live canonically as (a, b) with a > b, deduped.  Per round:

    * large-star — for each node u with m(u) = min(N(u) ∪ {u}): emit
      (v, m(u)) for every neighbor v > u (computed over the SYMMETRIC
      neighborhood);
    * small-star — on the canonical lo-directed edges: for each u with
      smaller-neighbor min m: emit (u, m) and (v, m) for the other
      smaller neighbors.

    Convergence = the canonical edge set is stable (a star forest whose
    centers are component minima); checked with a set-difference count,
    which cannot overflow under ANSI mode.  The rounds run until the edge
    set is stable (the alternation always gets there), so no partially
    merged labeling is returned.  Each round localCheckpoints (truncated
    lineage — the driver-tree growth fix measured in round 3).  Returns
    ``(node, group_id)`` over the nodes of ``e``'s ``(a, b)`` edges."""
    def canon(df: DataFrame) -> DataFrame:
        return (df.select(F.greatest("a", "b").alias("a"),
                          F.least("a", "b").alias("b"))
                  .where(F.col("a") != F.col("b")).distinct())

    E = canon(e).localCheckpoint(eager=True)
    n_edges = E.count()
    while True:
        sym = E.union(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
        lm = (sym.groupBy("a").agg(F.min("b").alias("mn"))
                 .select("a", F.least("a", "mn").alias("m")))
        ls = (sym.join(lm, on="a")
                 .where(F.col("b") > F.col("a"))
                 .select(F.col("b").alias("a"), F.col("m").alias("b")))
        E1 = canon(ls).localCheckpoint(eager=True)
        sm = E1.groupBy("a").agg(F.min("b").alias("m"))
        ss = (E1.join(sm, on="a")
                .select(F.col("b").alias("v"), "m")
                .where(F.col("v") != F.col("m"))
                .union(sm.select(F.col("a").alias("v"), "m")))
        E2 = canon(ss.select(F.col("v").alias("a"), F.col("m").alias("b"))
                   ).localCheckpoint(eager=True)
        n2 = E2.count()
        if n2 == n_edges and E2.subtract(E).count() == 0:
            E = E2
            break
        E, n_edges = E2, n2
    nodes = (e.select(F.col("a").alias("node"))
             .union(e.select(F.col("b").alias("node"))).distinct())
    mins = E.groupBy("a").agg(F.min("b").alias("m"))
    return (nodes.join(mins, nodes["node"] == mins["a"], "left")
            .select("node", F.coalesce(F.col("m"),
                                       F.col("node")).alias("group_id")))


def lsh_jaccard_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY on MinHash-LSH candidate pairs —
    the production near-dup composition at corpus scale (round 5): the
    sub-quadratic candidate generator (``lsh_candidate_pairs``) proposes
    (id_a, id_b) pairs and the exact measure verifies them.

    Cost: two equi-joins + one pair-key aggregate — linear in
    |candidates| x shingles/doc, INDEPENDENT of shingle document
    frequencies.  The all-pairs co-shingle join (ngram_jaccard_pairs)
    costs sum(min(df, cap)^2) over shingles, which transitions through a
    quadratic regime as DFs densify with corpus growth (measured 48x
    runtime for 10x rows on the synthetic corpus at sf1 — the round-5
    scale check; BENCH/BASELINE.md).  At 10^12 documents only this
    verified-candidates shape survives; the all-pairs operator remains
    the exact baseline for bounded relations.  Jaccard here is UNCAPPED
    (no df cap: LSH already bounds the join) and the pair set is subject
    to MinHash-LSH candidate recall.

    Candidates with zero shared shingles simply drop out (they cannot
    reach any positive threshold).  Output: (id_a, id_b, jaccard_e4) for
    pairs at/above threshold — same contract as ngram_jaccard_pairs.

    One relation is cached: the per-doc distinct-shingle sets from
    :func:`doc_shingle_sets`, which both verify joins read — row-local
    expressions, NO collect_set aggregate (a persisted collect_set plan is
    silently re-run by every join consumer because collect aggregates are
    flagged non-deterministic).  The MinHash signatures feed only the one
    bucket pass of ``lsh_candidate_pairs``, so they are not cached.  The
    verify is ``size(array_intersect)`` per candidate pair — two joins
    that move |candidates| rows instead of re-shuffling the full shingle
    relation twice.  ``inter >= 1`` preserves the old inner-join semantics
    (zero-overlap candidates drop out even at threshold 0)."""
    pairs = lsh_candidate_pairs(minhash_signatures(
        word_shingles(df, distinct=False)))
    arr = track_cached(doc_shingle_sets(df).persist())
    aa = arr.select(F.col("doc_id").alias("id_a"), F.col("_set").alias("_seta"))
    ab = arr.select(F.col("doc_id").alias("id_b"), F.col("_set").alias("_setb"))
    # broadcast the CANDIDATE side and stream the per-doc set relation:
    # candidates are the small relation by construction (that is the point
    # of LSH), and the set relation carries the wide arrays — joining the
    # other way round exchanges the arrays (a cached AQE plan reports
    # UnknownPartitioning, so the planner re-shuffled both sides; measured
    # 2 x ~0.5 s at sf1, round 6).  j1 is candidate-sized, so the second
    # hop broadcasts it too.  A corpus whose candidate relation outgrows
    # broadcast would bucket both relations by id instead.
    j1 = aa.join(F.broadcast(pairs.select("id_a", "id_b")), "id_a")
    return (
        ab.join(F.broadcast(j1), "id_b")
        .withColumn("inter",
                    F.size(F.array_intersect("_seta", "_setb")).cast("bigint"))
        .withColumn("size_a", F.size("_seta").cast("bigint"))
        .withColumn("size_b", F.size("_setb").cast("bigint"))
        .where(F.col("inter") >= 1)
        .withColumn(
            "jaccard_e4",
            F.floor(
                F.col("inter") * 10000.0
                / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            ).cast("bigint"),
        )
        .where(F.col("jaccard_e4") >= int(threshold * 10000))
        .select("id_a", "id_b", "jaccard_e4")
    )


def _cc_label_kernel(batches):
    """``mapInArrow`` kernel of ``connected_components``: reads all the
    ``(a, b)`` edge batches of its one partition and yields ``(node,
    group_id)``, group_id = the component's minimum id (nothing for no
    edges).  One numpy hook-and-pointer-jump pass (Shiloach-Vishkin
    style) over ids compressed to sorted indices by ``np.unique``, with
    ``parent[x] <= x`` throughout.  Per round the larger root of each
    live edge hooks onto the smallest root it has an edge to, pointer
    jumping flattens every tree onto its root, and edges inside one tree
    drop out.  A root that neither hooks nor is hooked onto in a round
    hooks in the next, so the live roots halve every two rounds."""
    a, b = [], []
    for batch in batches:
        a.append(batch.column(0).to_numpy())
        b.append(batch.column(1).to_numpy())
    m = sum(map(len, a))
    if not m:
        return
    ids, idx = np.unique(np.concatenate(a + b), return_inverse=True)
    u, v = idx[:m], idx[m:]
    parent = np.arange(len(ids))
    while len(u):
        np.minimum.at(parent, np.maximum(u, v), np.minimum(u, v))
        while True:
            up = parent[parent]
            if (up == parent).all():
                break
            parent = up
        u, v = parent[u], parent[v]
        live = u != v
        u, v = u[live], v[live]
    yield pa.RecordBatch.from_arrays([pa.array(ids), pa.array(ids[parent])],
                                     names=["node", "group_id"])


def connected_components(pairs: DataFrame) -> DataFrame:
    """Duplicate-group clustering: connected components over a near-dup
    pair relation → ``(node bigint, group_id bigint)`` with group_id = the
    component's minimum id (the canonical "keep" representative).  The
    step every dedup pipeline needs after pair generation: near-duplication
    is transitive in effect (A~B, B~C ⇒ one cluster) even when A~C scored
    below threshold, and exactly one representative per cluster survives.

    The edges are persisted (``track_cached``) and counted once, the only
    job run before the caller's action.  Up to ``CC_LOCAL_EDGES`` edges
    are labelled in ONE task by ``_cc_label_kernel``, whatever the
    component depth; more go to ``_cc_star``.  Like a broadcast
    threshold, the choice reads an observed size, so that task's memory
    is bounded by the constant, never by the corpus (PAPERS.md "Hyper
    Dimension Shuffle": bounded work per task)."""
    edges = track_cached(pairs.select(
        F.col("id_a").cast("long").alias("a"),
        F.col("id_b").cast("long").alias("b")).persist())
    if edges.count() > CC_LOCAL_EDGES:
        return _cc_star(edges)
    return edges.coalesce(1).mapInArrow(_cc_label_kernel,
                                        "node long, group_id long")


def duplicate_groups(pairs: DataFrame) -> DataFrame:
    """End-to-end near-dup clustering over a near-duplicate pair relation
    ``(id_a, id_b, …)``: connected components → one row per clustered
    document ``(doc_id, group_id, is_keep)`` with the min-id
    representative marked.  Documents with no near-dup partner don't
    appear (they are all keeps).

    The caller picks the pair relation: ``ngram_jaccard_pairs`` (the
    exact all-pairs co-shingle join under a shingle-df cap) or
    ``lsh_jaccard_pairs`` (round 5: MinHash-LSH candidates, exact
    uncapped Jaccard verify — linear in candidates, independent of
    shingle document frequencies; the sf1 scale check measured the
    all-pairs join's quadratic df-densification regime).  The two
    relations coincide exactly when the cap never binds and LSH recall is
    1 — true on the bench corpus, not a general identity (ADVICE r5)."""
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        "group_id",
        (F.col("node") == F.col("group_id")).alias("is_keep"),
    )


def simhash32(df: DataFrame) -> DataFrame:
    """32-bit SimHash as a '0'/'1' string (MSB first).

    Bit j of a token = high bit of hex digit j of md5(token) (a hex digit
    >= '8' lexicographically).  Signature bit j = majority vote weighted by
    token frequency.  String-domain trick keeps it engine-portable."""
    toks = df.select(
        F.col("doc_id"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    h = F.md5(F.col("tok").cast("binary"))
    votes = [
        F.sum(
            F.when(F.substring(h, j + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(32)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    bits = F.concat(*[
        F.when(F.col(f"v{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(32)
    ])
    return agg.select(F.col("doc_id"), bits.alias("simhash"))


def simhash_chunk_bounds(radius: int, sig_bits: int = 32) -> list[tuple[int, int]]:
    """1-based (start, width) of each pigeonhole chunk, covering ALL bits:
    the remainder of ``sig_bits / (radius + 1)`` is spread one extra bit per
    leading chunk so no trailing bits fall outside every bucket key (which
    would silently coarsen the buckets when radius+1 doesn't divide 32)."""
    chunks = radius + 1
    base, rem = divmod(sig_bits, chunks)
    bounds, start = [], 1
    for c in range(chunks):
        width = base + (1 if c < rem else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_near_pairs(df: DataFrame,
                       radius: int = SIMHASH_RADIUS) -> DataFrame:
    """SimHash neighbor search: (id_a < id_b, hamming) pairs within radius.

    Round-6 shape (identical output, measured 70.9 s → seconds at sf1):

    1. **Collapse to DISTINCT signatures first.**  Every doc sharing a
       signature joins identically, so candidate generation runs over the
       distinct-sig relation (30.6k rows vs 50k docs at sf1 — and the gap
       widens with duplication).  Doc pairs are recovered afterwards by
       two id-joins (inter-sig) plus a same-sig self-join (intra-sig,
       hamming 0, bounded by sum of multiplicity²).
    2. **1-bit-expansion block join** instead of the radius+1-chunk
       pigeonhole equi-join.  The old scheme split 32 bits into radius+1
       = 4 chunks of 8 bits — only 2^8 buckets per chunk, which on 50k
       docs materialized **1.14e9 join rows** (measured; chunk 2 alone
       711M — simhash buckets are skewed because signature bits are
       correlated) for a ~2.2M-pair answer.  Splitting into
       ``ceil((radius+1)/2)`` chunks instead, a pair within ``radius``
       must have SOME chunk within distance **1** (pigeonhole:
       c chunks, min chunk dist <= floor(radius/c) <= 1), so candidates =
       equi-join of one side's {chunk, chunk with one bit flipped}
       expansion (width+1 keys per chunk) against the other side's exact
       chunk.  For radius 3 that is 2 chunks of 16 bits — 2^16 buckets,
       17+1 keys per sig per chunk — measured 47M join rows, 24x fewer,
       and the distinct runs on sig pairs (2.2M) not doc pairs.
       Both directions of every qualifying pair are generated (the
       expansion is symmetric), so ``sig_a < sig_b`` keeps exactly one.
    3. Exact ``bit_count(xor) <= radius`` verify on the deduped sig
       pairs restores equality with the old output.

    Scale note: at 10^9+ near-uniform docs the distinct-sig relation
    approaches N and 2^16 buckets saturate — there you widen the
    signature (64/128-bit) and the same construction gives 2^32+ buckets;
    the knob is signature width, not this plan shape.

    Two relations are cached: (doc_id, sig_int) (feeds the two recovery
    joins + the intra self-join) and the distinct-sig relation (feeds both
    candidate sides)."""
    sig = track_cached(simhash32(df).select(
        F.col("doc_id"),
        F.conv(F.col("simhash"), 2, 10).cast("bigint").alias("sig_int"),
    ).persist())
    D = track_cached(sig.select("sig_int").distinct().persist())

    # c = ceil((radius+1)/2) chunks covering all 32 bits; chunk i of the
    # STRING bounds (1-based, MSB first) maps to shift = 32 - start+1 - width
    n_chunks = (radius + 2) // 2
    bounds = simhash_chunk_bounds(n_chunks - 1)
    exact_keys, expand_keys = [], []
    for i, (start, width) in enumerate(bounds):
        shift = 32 - (start - 1) - width
        base = F.shiftrightunsigned(F.col("sig_int"), shift) \
            .bitwiseAND(F.lit((1 << width) - 1))
        tag = F.lit(i * (1 << 20))  # disjoint key spaces per chunk
        exact_keys.append(tag + base)
        expand_keys.append(F.array(
            tag + base,
            *[tag + base.bitwiseXOR(F.lit(1 << j)) for j in range(width)],
        ))
    right = D.select("sig_int", F.explode(F.array(*exact_keys)).alias("k"))
    left = D.select(
        "sig_int",
        F.explode(F.flatten(F.array(*expand_keys))).alias("k"),
    )
    cand = (
        left.alias("l").join(right.alias("r"), on="k")
        .where(F.col("l.sig_int") < F.col("r.sig_int"))
        .select(F.col("l.sig_int").alias("sig_a"),
                F.col("r.sig_int").alias("sig_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(
            F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"))
        .where(F.col("hamming") <= radius)
    )
    ia = sig.select(F.col("doc_id").alias("_ida"), F.col("sig_int").alias("sig_a"))
    ib = sig.select(F.col("doc_id").alias("_idb"), F.col("sig_int").alias("sig_b"))
    inter = (
        cand.join(ia, on="sig_a").join(ib, on="sig_b")
        .select(F.least("_ida", "_idb").alias("id_a"),
                F.greatest("_ida", "_idb").alias("id_b"),
                "hamming")
    )
    intra = (
        sig.alias("a").join(sig.alias("b"), on="sig_int")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"))
    )
    return inter.unionAll(intra)


def ngram_jaccard_pairs(df: DataFrame, n: int = SHINGLE_N,
                        threshold: float = 0.8,
                        max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs above threshold.

    Round-6 shape: prefix filtering (AllPairs/PPJoin, Bayardo et al. 2007;
    Xiao et al. 2008) instead of the naive co-shingle self-join.  The
    naive join emits one row per co-occurrence — sum over shingles of
    df^2 — and on the dense bench corpus at sf1.0 that was measured at
    154M join rows feeding a 138M-distinct-key aggregate for an 8.1k-row
    answer.  Three provably lossless pair filters cut that to ~2.9M
    candidates (47x) before any aggregation:

    * prefix — order each doc's shingles canonically by (global df,
      shingle); two docs with J >= t MUST share a shingle within their
      first ``sz - ceil(t*sz) + 1`` shingles, so only those prefix rows
      enter the self-join;
    * size — J >= t implies 10000*min(|A|,|B|) >= t_e4*max(|A|,|B|);
    * positional — at the first common prefix shingle (positions pa, pb)
      the overlap is bounded by 1 + min(|A|-pa, |B|-pb), which must reach
      ceil(t/(1+t) * (|A|+|B|)); a pair is kept when ANY matching row
      passes, so the filter only ever removes non-qualifying pairs.

    All three are integer arithmetic on ``t_e4 = int(threshold*10000)`` —
    exactly the final filter's threshold — so the candidate set is a
    strict superset of the answer and the exact verify restores equality.
    Verification intersects per-doc shingle-id arrays
    (``size(array_intersect)``) instead of re-joining the full shingle
    relation: int arrays, one row per candidate pair.  Shingles ride as
    dense int ids (row_number over the distinct-shingle relation, which
    the df-cap aggregate produces anyway) so every join key and array
    element after the first aggregate is an int, not a 3-word string.

    ``max_df`` cap semantics are unchanged: shingles above the cap drop
    from intersections AND sizes (the oracle mirrors this).  Two
    relations are cached: the ranked shingle relation (feeds the prefix
    join and the arrays) and the per-doc array/bitmap aggregate.

    Scale notes (100 TB): the shingle-id window runs over the distinct-
    shingle relation (vocabulary-sized, not corpus-sized); the per-doc
    rank window shuffles (id, sid, df) ints once; the array relation is
    |docs| rows of ~|shingles/doc| ints and is broadcast here — a
    corpus-scale deployment would bucket it by id instead (the candidate
    relation is already int pairs, so either side of that join is
    cheap)."""
    t_e4 = int(threshold * 10000)
    sh = word_shingles(df, n)
    dft = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    if max_df is not None:
        dft = dft.where(F.col("_df") <= max_df)
    # dense int ids over the (vocabulary-sized) distinct-shingle relation;
    # ordering by shingle makes (_df, _sid) the same canonical total order
    # as (_df, shingle)
    sids = dft.select(
        "shingle", "_df",
        F.row_number().over(Window.orderBy("shingle")).alias("_sid"),
    )
    shk = sh.join(sids, on="shingle").select("doc_id", "_sid", "_df")
    w_doc = Window.partitionBy("doc_id")
    shr = shk.select(
        F.col("doc_id"),
        F.col("_sid"),
        F.row_number().over(w_doc.orderBy("_df", "_sid")).alias("_rn"),
        F.count("*").over(w_doc).alias("_sz"),
    )
    # NOT co-partitioned by _sid on purpose (unlike the band-key caches):
    # the window above leaves shr partitioned by doc_id, which the arr
    # groupBy(id) below reuses exchange-free, and a round-6 A/B of
    # repartition("_sid") before persist measured WORSE steady-state
    # (0.68 → 0.81 s in the clean rep) — the prefix join's two exchanges
    # are AQE-coalesced and cheaper than 32 fixed cache-side sorts here.
    shr = track_cached(shr.persist())
    # per-doc verify structures from ONE aggregate over shr:
    # * _set  — the shingle-id array (exact verify via array_intersect);
    # * _bm0.._bm{W-1} — a 64*W-bit hashed bitmap of the id set (codegen'd
    #   bit_or aggregate) for the pre-filter below;
    # * _coll — EXACT per-doc bitmap collision count (sz - popcount(own
    #   bitmap)): collisions within A∩B are collisions within A and
    #   within B, so inter <= popcount(bmA & bmB) + min(collA, collB) —
    #   a provable upper bound, hence pruning on it is lossless.
    nwords = _BITMAP_WORDS
    bm_aggs = [
        F.expr(
            f"bit_or(CASE WHEN ((_sid % {64 * nwords}) div 64) = {k} "
            f"THEN shiftleft(CAST(1 AS BIGINT), _sid % 64) "
            f"ELSE CAST(0 AS BIGINT) END)"
        ).alias(f"_bm{k}")
        for k in range(nwords)
    ]
    popc = sum(F.bit_count(F.col(f"_bm{k}")) for k in range(nwords))
    # arr feeds THREE broadcast consumers (bmr + both verify sides);
    # without its own persist each broadcast job re-runs the
    # collect_list/bit_or aggregate over the full shingle relation —
    # measured as three concurrent ~1.5 s jobs at sf1 (round 6)
    arr = track_cached(
        shr.groupBy("doc_id")
        .agg(F.collect_list("_sid").alias("_set"), *bm_aggs)
        .withColumn("_coll", (F.size("_set") - popc).cast("bigint"))
        .persist())
    bm_cols = [f"_bm{k}" for k in range(nwords)] + ["_coll"]
    bmr = arr.select(F.col("doc_id"), *bm_cols)

    # prefix length: sz - ceil(t*sz) + 1, exact integer ceil on t_e4
    pfx = shr.where(
        F.col("_rn") <= F.col("_sz")
        - F.expr(f"(_sz * {t_e4} + 9999) div 10000") + 1
    ).join(F.broadcast(bmr), on="doc_id")
    # Index-prefix asymmetry (Xiao et al. 2008): orient every pair so the
    # LARGER-size element (ties: larger id) is the probe side l and the
    # smaller one the indexed side r.  For the indexed element y, any
    # partner x has sx >= sy, so the pair's required overlap
    # alpha = ceil(t/(1+t)*(sx+sy)) >= ceil(2t/(1+t)*sy); the FIRST common
    # shingle of the pair (in the global (_df,_sid) canonical order) sits
    # at position <= sz - alpha + 1 in BOTH docs, hence within y's first
    # sy - ceil(2t/(1+t)*sy) + 1 rows — a ~45% shorter prefix at t=0.8
    # than the probe bound sx - ceil(t*sx) + 1 (which itself only needs
    # the size filter sy >= t*sx, implied by J >= t).  The join therefore
    # compares probe-prefix x index-prefix rows instead of full-prefix
    # squared — strictly fewer joined rows, still a lossless superset.
    idx = pfx.where(
        F.col("_rn") <= F.col("_sz")
        - F.expr(f"(_sz * {2 * t_e4} + {10000 + t_e4 - 1}) "
                 f"div {10000 + t_e4}") + 1
    )
    l, r = pfx.alias("l"), idx.alias("r")
    la, ra = F.col("l.doc_id"), F.col("r.doc_id")
    lsz, rsz = F.col("l._sz"), F.col("r._sz")
    # overlap upper bound at this matching position (PPJoin positional
    # filter); alpha = ceil(t/(1+t) * (sa+sb)) -> cross-multiplied
    ubound = F.lit(1) + F.least(lsz - F.col("l._rn"), rsz - F.col("r._rn"))
    # hashed-bitmap overlap bound: inter <= popcount(AND) + min(coll) —
    # ~20 codegen'd ops per joined row, so almost no non-qualifying pair
    # survives to the distinct or the (slow, per-row-allocating)
    # array_intersect.  All three structural filters plus this one are
    # lossless supersets of the true answer; the exact verify restores
    # equality.
    hash_inter = sum(
        F.bit_count(F.col(f"l._bm{k}").bitwiseAND(F.col(f"r._bm{k}")))
        for k in range(nwords)
    )
    bm_bound = hash_inter + F.least(F.col("l._coll"), F.col("r._coll"))
    # (sz, id) is a strict total order, so each unordered pair is emitted
    # by exactly one orientation; ids/sizes are normalized back to
    # id_a < id_b below.
    orient = (lsz > rsz) | ((lsz == rsz) & (la > ra))
    sel = [F.least(la, ra).alias("id_a"),
           F.greatest(la, ra).alias("id_b"),
           F.when(la < ra, lsz).otherwise(rsz).alias("_sa"),
           F.when(la < ra, rsz).otherwise(lsz).alias("_sb")]
    cands = (
        l.join(r, on="_sid")
        .where(
            orient
            & (10000 * F.least(lsz, rsz) >= t_e4 * F.greatest(lsz, rsz))
            & ((10000 + t_e4) * ubound >= t_e4 * (lsz + rsz))
            & ((10000 + t_e4) * bm_bound >= t_e4 * (lsz + rsz))
        )
        .select(*sel)
        .distinct()
    )
    aa = arr.select(F.col("doc_id").alias("id_a"), F.col("_set").alias("_seta"))
    ab = arr.select(F.col("doc_id").alias("id_b"), F.col("_set").alias("_setb"))
    inter = F.size(F.array_intersect("_seta", "_setb")).cast("bigint")
    # candidates share >= 1 shingle by construction, so the denominator is
    # always positive (no ANSI /0).  Broadcast the CANDIDATE side (small
    # by construction after the prefix/size/positional/bitmap filters) and
    # stream the cached array relation — broadcasting aa/ab shipped the
    # wide shingle-id arrays instead (round 6; same shape as the verify
    # join in lsh_jaccard_pairs).
    j1 = aa.join(F.broadcast(cands), "id_a")
    return (
        ab.join(F.broadcast(j1), "id_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard_e4",
            F.floor(
                F.col("inter") * 10000.0
                / (F.col("_sa") + F.col("_sb") - F.col("inter"))
            ).cast("bigint"),
        )
        .where(F.col("jaccard_e4") >= t_e4)
        .select("id_a", "id_b", "jaccard_e4")
    )
