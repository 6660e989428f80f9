"""Driver contract: entry / queries / oracle_sql.

Every operator from SURVEY.md §2 that is SQL-expressible appears here twice:
a Spark DataFrame implementation in ``queries()`` and a bit-exact DuckDB
oracle in ``oracle_sql()``.  The full extraction pipeline itself (HTML +
PDF paths end-to-end through mapInPandas) also has an exact oracle, because
the documents→pages bridge (sources/pages.py) produces pages whose expected
extracted text is a closed-form function of (doc_id, text).

Engine-exactness conventions (so order-insensitive value hashes match):
* money/measure sums: per-row ``floor(x * 10^k)`` → bigint sum (exact),
  never float sums or ``round()`` (HALF_UP vs bankers' ambiguity);
* hashes: md5/sha256 of utf-8 text — identical in both engines;
* ranks: ``row_number`` with a total ordering (explicit tie-breaks);
* timestamps rendered as strings via date_format/strftime.

Build cost: every ``pyspark.sql.functions`` call and ``Column`` operator
sends about a dozen py4j commands (PySpark's call-site capture), so the
plans the near-dup benchmark times (``_with_mirrors``, ``_emb_double`` and
the operators under them) are written as SQL text, one DataFrame call per
relational step; ``python bench_extra.py build <sf>`` counts the commands.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qwen_ocr_spark.operators import (
    dedup,
    sampling,
    similarity,
    textstats,
    timeseries,
)
from qwen_ocr_spark.operators.extract import extract_pages, figures_table
from qwen_ocr_spark.plans.session import SCAN_TASK_BYTES, coalesce_by_size
from qwen_ocr_spark.sources.pages import extract_documents

SF_DEFAULT = "/root/testdata/sf0.001"


# The schema of every table ``_t`` reads, declared so that building a query
# launches no Spark job: a schema-less ``spark.read.parquet`` runs one to
# read a Parquet footer.  The types are the ones Parquet inference gives
# these files: pyarrow writes its timestamps without the UTC-adjusted flag,
# so they read as ``timestamp_ntz``, never ``timestamp``.
TABLE_SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": ("c_custkey bigint, c_name string, c_nationkey int, "
                 "c_acctbal double, c_mktsegment string"),
    "supplier": ("s_suppkey bigint, s_name string, s_nationkey int, "
                 "s_acctbal double"),
    "part": ("p_partkey bigint, p_name string, p_brand string, p_type string, "
             "p_size int, p_retailprice double"),
    "orders": ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
               "o_totalprice double, o_orderdate timestamp_ntz, "
               "o_orderpriority string"),
    "lineitem": ("l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                 "l_linenumber int, l_quantity double, "
                 "l_extendedprice double, l_discount double, l_tax double, "
                 "l_returnflag string, l_linestatus string, "
                 "l_shipdate timestamp_ntz"),
    "events": ("event_id bigint, ts timestamp_ntz, user_id bigint, "
               "event_type string, value double, props string"),
    "documents": ("doc_id bigint, text string, lang string, source string, "
                  "n_chars bigint"),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir``, read with its declared schema and
    coalesced to one task per ``SCAN_TASK_BYTES`` of its size estimate
    (``plans.session.coalesce_by_size``: a planner statistic, so sizing
    launches no Spark job).  A table that estimates at
    ``defaultParallelism × SCAN_TASK_BYTES`` or more is returned as
    read."""
    return coalesce_by_size(
        spark.read.schema(TABLE_SCHEMAS[name]).parquet(
            f"{sf_dir}/{name}.parquet"),
        SCAN_TASK_BYTES)


def _e(col, k: int = 4):
    """floor(x * 10^k) as bigint — the engine-exact measure encoding."""
    return F.floor(col * F.lit(10 ** k)).cast("bigint")


# ---------------------------------------------------------------------------
# extraction pipeline (U1/U2 + S-ops end-to-end)
# ---------------------------------------------------------------------------

def q_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: documents → pages (HTML + PDF payloads) →
    mapInPandas extraction → (url, doc_kind, digest, n_headers).
    Oracle-checkable because the bridge document's extracted text is
    provably 'Doc {id}\\n{text}' on both payload routes."""
    docs = _t(spark, sf_dir, "documents")
    # fused bridge (round 6): generation + extraction in ONE Python pass —
    # the payload bytes never cross the JVM↔Python boundary (guide §4);
    # row-identical to extract_pages over the same bridge pages (pinned by
    # test_pipeline.py::test_extract_documents_equals_extract_pages_over_bridge).
    # columns= narrows the UDF OUTPUT to what this query projects: a map
    # node is opaque, so without it every row ships its full markdown +
    # extracted_text + figures through Arrow just to be dropped here.
    out = extract_documents(
        docs, columns=["url", "doc_kind", "digest", "n_headers"])
    return out.select(
        "url", "doc_kind", "digest",
        F.col("n_headers").cast("int").alias("n_headers"),
    )


def q_extract_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown output contract over the bridge corpus: the markdown is
    '# Doc {id}\\n\\n{text}' exactly."""
    docs = _t(spark, sf_dir, "documents")
    # fused bridge + output narrowed to (url, markdown), see q_extract_docs
    out = extract_documents(docs, columns=["url", "markdown"])
    return out.select("url", F.md5(F.col("markdown").cast("binary")).alias("md_md5"))


def q_extract_figures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Figures side-output of the REAL pipeline (parse → bbox validity →
    area filter → per-page numbering) over the figured bridge: every
    document carries one figure whose bbox/type/caption are closed-form
    arithmetic on doc_id, so this has an exact SQL oracle (was rows-only
    in round 1 — VERDICT task 3)."""
    docs = _t(spark, sf_dir, "documents")
    # fused bridge + output narrowed to (url, figures), see q_extract_docs
    out = extract_documents(docs, figured=True, columns=["url", "figures"])
    return figures_table(out).select(
        "url", "page_number", "fig_number",
        F.col("bbox").getItem(0).alias("x1"),
        F.col("bbox").getItem(1).alias("y1"),
        F.col("bbox").getItem(2).alias("x2"),
        F.col("bbox").getItem(3).alias("y2"),
        "element_type", "caption",
    )


# ---------------------------------------------------------------------------
# kernel-shaped operators (P3-P6, W1, A1, A3-A6)
# ---------------------------------------------------------------------------

def q_header_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 header-line predicate + level extraction (processing.py:15-27)."""
    docs = _t(spark, sf_dir, "documents")
    md = F.concat(
        F.lit("# Doc "), F.col("doc_id").cast("string"),
        F.lit("\nintro words here\n## Src "), F.col("source"),
        F.lit("\n"), F.col("text"),
    )
    lines = docs.select("doc_id", F.explode(F.split(md, "\n")).alias("line"))
    s = F.ltrim(F.col("line"))
    level = F.length(F.regexp_extract(s, "^#+", 0))
    return (
        lines
        .where(s.startswith("#")
               & level.between(1, 6)
               & (F.trim(F.regexp_replace(s, "^#+", "")) != ""))
        .select("doc_id", level.cast("int").alias("level"), "line")
    )


def q_fence_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 code-fence strip (processing.py:30-42) as anchored regex."""
    docs = _t(spark, sf_dir, "documents")
    fenced = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("```markdown\n"), F.col("text"), F.lit("\n```")),
    ).otherwise(F.col("text"))
    stripped = F.regexp_replace(
        F.regexp_replace(fenced, "^```markdown\n", ""), "\n```$", ""
    )
    return docs.select(
        "doc_id", F.md5(stripped.cast("binary")).alias("stripped_md5")
    )


def _figure_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic figure relation from lineitem arithmetic (bbox domain 0-1000)."""
    li = _t(spark, sf_dir, "lineitem")
    x1 = (F.col("l_partkey") % 800).cast("int")
    y1 = (F.col("l_suppkey") % 800).cast("int")
    x2 = (x1 + 1 + (F.col("l_orderkey") % 399)).cast("int")
    y2 = (y1 + 1 + ((F.col("l_linenumber") * 83) % 399)).cast("int")
    return li.select(
        "l_orderkey", "l_linenumber",
        x1.alias("x1"), y1.alias("y1"), x2.alias("x2"), y2.alias("y2"),
    )


def q_figure_area_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4: bbox validity + area-in-[5%,85%] filter
    (document_job.py:203-227, pdf_handler.py:105-110)."""
    f = _figure_rel(spark, sf_dir)
    area = ((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))).cast("bigint")
    return (
        f.where((F.col("x2") <= 1000) & (F.col("y2") <= 1000))
         .withColumn("area_e6", area)
         .where(area.between(50000, 850000))
    )


def q_fig_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: fig_number = row_number per page ordered by (y1, x1, …)."""
    f = q_figure_area_filter(spark, sf_dir).withColumn(
        "page", (F.col("l_orderkey") % 50).cast("int")
    )
    w = Window.partitionBy("page").orderBy("y1", "x1", "l_orderkey", "l_linenumber")
    return f.select(
        "page", "l_orderkey", "l_linenumber", "x1", "y1",
        F.row_number().over(w).cast("int").alias("fig_number"),
    )


def q_image_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: (w // 28) * (h // 28) token cost model (processing.py:100-102)."""
    p = _t(spark, sf_dir, "part")
    w = 200 + F.col("p_partkey") % 1500
    h = 200 + (F.col("p_partkey") * 7) % 1800
    tokens = (F.floor(w / 28.0) * F.floor(h / 28.0)).cast("bigint")
    return (
        p.select("p_brand", tokens.alias("tokens"))
         .groupBy("p_brand")
         .agg(F.sum("tokens").alias("total_tokens"), F.count("*").alias("n_parts"))
    )


def q_batch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: ceil-division batch arithmetic (document_job.py:317-319)."""
    docs = _t(spark, sf_dir, "documents")
    pages_est = F.ceil(F.col("n_chars") / 500.0)
    return docs.select(
        "doc_id",
        pages_est.cast("bigint").alias("pages_est"),
        F.ceil(pages_est / 10.0).cast("bigint").alias("n_batches"),
    )


def q_job_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A5/A6: per-group running totals (document_job.py:364-366)."""
    docs = textstats.with_token_count(_t(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# relational engine checks (join/agg/window/sort/limit)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= "1998-09-02 00:00:00"
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(
              F.sum(_e(F.col("l_quantity"), 2)).alias("sum_qty_e2"),
              F.sum(_e(F.col("l_extendedprice"), 2)).alias("sum_base_e2"),
              F.sum(_e(disc_price, 4)).alias("sum_disc_e4"),
              F.sum(_e(charge, 4)).alias("sum_charge_e4"),
              F.count("*").alias("count_order"),
          )
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-03-15 00:00:00")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-03-15 00:00:00")
    # join ORDER matters (round 6): reduce orders by the selective customer
    # broadcast BEFORE the orders<->lineitem equi-join, so the orderkey
    # exchange moves ~1/5 of the orders rows instead of all of them (guide
    # §2.3 "shuffle fewer bytes" / §3.1); same row multiset either way.
    # (A/B'd at sf1: broadcasting the whole reduced co side into lineitem
    # removes the SMJ but the serialized broadcast-build job costs more
    # than the exchange it saves — 1.21 s vs 0.86 s — so SMJ stays.)
    # Round 6, §2.3 "narrower types": the per-row floor measure is a
    # bigint, so computing it BEFORE the orderkey exchange replaces two
    # shuffled doubles with one long on 3.19M rows; bigint sums reorder
    # exactly, so the grouped result is bit-identical.
    lin = li.select(
        "l_orderkey",
        _e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("_rev"),
    )
    j = o.join(c, o.o_custkey == c.c_custkey) \
         .join(lin, o.o_orderkey == lin.l_orderkey)
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
         .agg(F.sum("_rev").alias("revenue_e4"))
         .select("l_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                 "o_orderpriority", "revenue_e4")
         .orderBy(F.desc("revenue_e4"), F.asc("l_orderkey"))
         .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join; small dims (region/nation) broadcast by Catalyst/AQE."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-01-01 00:00:00")
    )
    li = _t(spark, sf_dir, "lineitem")
    # join ORDER matters (round 6): restrict supplier to the ASIA nations
    # first (region -> nation -> supplier are all broadcast-sized dims) and
    # broadcast THAT into lineitem, so the only big exchange — lineitem by
    # l_orderkey for the merge join with orders — carries ~1/5 of the rows.
    # Semantically identical: every lineitem row dropped here would have
    # been dropped by the same n/r joins after the fact (n_nationkey and
    # r_regionkey are unique keys).  The c_nationkey == s_nationkey leg
    # moves onto the orderkey join, where both sides are already reduced.
    sn = s.join(n, s.s_nationkey == n.n_nationkey) \
          .join(r, n.n_regionkey == r.r_regionkey)
    # Round 6, §2.3: compute the bigint floor measure before the orderkey
    # exchange (two doubles → one long on the 1.2M supplier-reduced rows;
    # bigint sums reorder exactly) and project both SMJ inputs to the
    # columns the join/agg need.  (A/B'd: broadcasting the reduced
    # 228k-row co side instead of the merge join lost — the serialized
    # broadcast-build job costs more than the exchanges it saves.)
    # The broadcast must be EXPLICIT: sn is a join result, and Catalyst's
    # size estimate for it (product of the input estimates) lands above the
    # auto-broadcast threshold — the round-start plan shows a SortMergeJoin
    # here, i.e. the full 6M-row lineitem exchanged by l_suppkey and the
    # supplier side exchanged too, before the orderkey exchange (4 exchanges
    # on the heavy path).  sn's build job is bare dim scans + two broadcast
    # joins (no exchange), the shape the round-6 gotcha says broadcasts
    # cheaply; forcing it removes both l_suppkey-side exchanges.
    lis = li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey).select(
        "l_orderkey", "s_nationkey", "n_name",
        _e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("_rev"),
    )
    co = c.select("c_custkey", "c_nationkey") \
          .join(o.select("o_orderkey", "o_custkey"),
                F.col("c_custkey") == F.col("o_custkey"))
    j = co.join(
        lis,
        (co.o_orderkey == lis.l_orderkey)
        & (co.c_nationkey == lis.s_nationkey),
    )
    return j.groupBy("n_name").agg(F.sum("_rev").alias("revenue_e4"))


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01 00:00:00")
            & (F.col("l_shipdate") < "1998-01-01 00:00:00")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(_e(F.col("l_extendedprice") * F.col("l_discount"), 4))
              .alias("revenue_e4"),
             F.count("*").alias("n_rows"))
    )


def q_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join shape (TPC-H q4 analog on this schema): orders in a date
    window having at least one deeply-discounted lineitem."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-07-01 00:00:00")
        & (F.col("o_orderdate") < "1996-10-01 00:00:00")
    )
    disc = _t(spark, sf_dir, "lineitem") \
        .where(F.col("l_discount") >= 0.09) \
        .select("l_orderkey")
    # round 6: broadcast the SELECTIVE side (the 3-month orders slice,
    # ~4% of orders) into the discounted-lineitem stream instead of
    # shuffle-semi-joining both sides — the 600k lineitem keys are never
    # exchanged (guide §3.1).  Equivalent because o_orderkey is unique in
    # orders: left-semi == inner ⋈ + distinct orderkey.  Measured
    # 0.60 s → 0.23 s at sf1.
    return (
        disc.join(F.broadcast(o.select("o_orderkey", "o_orderpriority")),
                  disc.l_orderkey == F.col("o_orderkey"))
            .select("o_orderkey", "o_orderpriority").distinct()
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count"))
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + conditional aggregation (CASE inside SUM)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
    )
    o = _t(spark, sf_dir, "orders")
    hi = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    # round 6, §2.3 narrower types: evaluate the CASE to an int BEFORE the
    # orderkey exchange so the shuffle carries a 4-byte flag instead of
    # the ~10-char priority string (0.80 s → 0.66 s at sf1)
    o2 = o.select("o_orderkey", hi.alias("_hi"))
    return (
        li.select("l_orderkey", "l_linestatus")
          .join(o2, F.col("l_orderkey") == o2.o_orderkey)
          .groupBy("l_linestatus")
          .agg(F.sum("_hi").alias("high_line_count"),
               F.sum(1 - F.col("_hi")).alias("low_line_count"))
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (TPC-H q17 analog): lineitems whose
    quantity is below 20% of their part's average quantity.  Decorrelated
    the Spark-native way — a window aggregate per part key instead of a
    per-row subquery — and kept in the exact integer domain:
    q < 0.2 * sum/cnt  ⇔  5 * q_e2 * cnt < sum_e2 (cnt > 0)."""
    li = _t(spark, sf_dir, "lineitem")
    q_e2 = _e(F.col("l_quantity"), 2)
    w = Window.partitionBy("l_partkey")
    x = li.select(
        "l_partkey",
        q_e2.alias("q_e2"),
        _e(F.col("l_extendedprice"), 2).alias("price_e2"),
    ).withColumn("sum_q_e2", F.sum("q_e2").over(w)) \
     .withColumn("cnt", F.count("*").over(w))
    return (
        x.where(F.lit(5) * F.col("q_e2") * F.col("cnt") < F.col("sum_q_e2"))
         .agg(F.sum("price_e2").cast("bigint").alias("total_price_e2"),
              F.count("*").alias("n_rows"))
    )


def q_priority_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join shape: customers with no orders at all."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, on="c_custkey", how="left_anti")
         .groupBy("c_mktsegment")
         .agg(F.count("*").alias("n_custs_no_orders"))
    )


def q_supplier_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: distinct suppliers and parts per return flag."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over orders (engine capability check)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
         .agg(F.count("*").alias("n"),
              F.sum(_e(F.col("o_totalprice"), 2)).alias("total_e2"))
    )


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def _with_mirrors(df: DataFrame, key: str, value: str) -> DataFrame:
    """``df``'s (key, value) rows plus a mirrored copy, keyed key+1000000,
    of every row whose key % 10 == 0.  ONE scan (round 6): a
    ``unionAll(df, df.where(...))`` reads the input twice per action; the
    ``inline`` emits the mirror row next to its original from the same
    scan — identical row multiset.  One SQL-text projection (module
    docstring: build cost)."""
    row = f"named_struct('{key}', `{key}`, '{value}', `{value}`)"
    mirror = f"named_struct('{key}', `{key}` + 1000000, '{value}', `{value}`)"
    return df.selectExpr(
        f"inline(CASE WHEN `{key}` % 10 = 0 THEN array({row}, {mirror}) "
        f"ELSE array({row}) END)")


def _docs2(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """documents plus mirrored duplicates (doc_id+1000000 for doc_id%10==0)
    so dedup joins have guaranteed positives.  ``spread`` repartitions up
    front for CPU-heavy consumers (shingle explode over a single-file
    parquet would otherwise serialize); pure hash-aggregate consumers pass
    spread=False — map-side partial agg needs no pre-shuffle."""
    both = _with_mirrors(_t(spark, sf_dir, "documents"), "doc_id", "text")
    if spread:
        both = both.repartition(spark.sparkContext.defaultParallelism)
    return both


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=False: md5 hash-agg does its own (tiny, 16-byte-key) shuffle;
    # pre-repartitioning would move the full text twice (VERDICT r1 item 10)
    return dedup.exact_dups(_docs2(spark, sf_dir, spread=False))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text") \
        .repartition(spark.sparkContext.defaultParallelism)
    # distinct=False: min-agg is duplicate-insensitive, so the shingle
    # distinct (a full shuffle of every shingle string) is pure waste here
    sh = dedup.word_shingles(docs, distinct=False)
    sigs = dedup.minhash_signatures(sh)
    return sigs.select(
        "doc_id",
        F.concat_ws("|", *[F.col(f"mh{i}") for i in range(dedup.MINHASH_SLOTS)])
         .alias("minhash_sig"),
    )


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct=False (min-agg ignores duplicates) drops the widest shuffle;
    # lsh_candidate_pairs pairs each band bucket in one Arrow pass (at
    # most one band_key exchange, no join, no cache)
    sh = dedup.word_shingles(_docs2(spark, sf_dir), distinct=False)
    return dedup.lsh_candidate_pairs(dedup.minhash_signatures(sh))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text") \
        .repartition(spark.sparkContext.defaultParallelism)
    return dedup.simhash32(docs)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-radius SimHash neighbor join (mirrored dups are distance-0
    positives; chunk-bucket pigeonhole keeps it sub-quadratic)."""
    return dedup.simhash_near_pairs(_docs2(spark, sf_dir))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs2(spark, sf_dir), threshold=0.8,
                                     max_df=dedup.MAX_SHINGLE_DF)


def q_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup composition (round 5): MinHash-LSH
    proposes candidate pairs sub-quadratically, exact n-gram Jaccard
    verifies ONLY those pairs — linear in candidates, independent of
    shingle document frequencies.  This is the shape that survives at
    10^12 documents; the all-pairs ngram_jaccard query above is the
    exact bounded-relation baseline (and showed the expected quadratic
    df-densification regime at the sf1 scale check)."""
    return dedup.lsh_jaccard_pairs(_docs2(spark, sf_dir), threshold=0.8)


def q_dedup_groups_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_groups over the corpus-scale pair relation (round 5):
    MinHash-LSH candidates -> exact Jaccard verify -> connected
    components.  Same exact recursive-closure oracle shape as
    dedup_groups, over the verified pair set."""
    return dedup.duplicate_groups(
        dedup.lsh_jaccard_pairs(_docs2(spark, sf_dir), threshold=0.8))


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: capped-jaccard pairs → connected components →
    min-id representative per group (is_keep).  Exactly oracled via a
    recursive transitive-closure CTE over the same pair SQL."""
    return dedup.duplicate_groups(dedup.ngram_jaccard_pairs(
        _docs2(spark, sf_dir), threshold=0.8, max_df=dedup.MAX_SHINGLE_DF))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    # container-level cast, NOT transform(x -> cast(x)): higher-order
    # lambdas are interpreted per element (round-2 gotcha) and this cast
    # runs under every ANN consumer; float->double widening is exact
    # either way (round 6)
    return _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS embedding")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(_emb_double(spark, sf_dir), [0, 1, 2, 3, 4], k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH ANN top-k: hyperplanes are plan-time literals derived from
    md5, so the DuckDB oracle embeds the SAME planes as literal arrays and
    the whole candidate-generation + re-rank is exactly hash-checked."""
    return similarity.lsh_bucketed_topk(_emb_double(spark, sf_dir), [0, 1, 2, 3, 4], k=5)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nearest-centroid cells + nprobe probing + exact re-rank —
    exactly oracle-able because centroids are a deterministic md5-ordered
    hash sample of the corpus (similarity.ivf_centroids)."""
    return similarity.ivf_topk(_emb_double(spark, sf_dir), [0, 1, 2, 3, 4],
                               k=5, n_cells=16, nprobe=2)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over banded LSH candidates, scored
    inside their band bucket (one mapInArrow kernel, behind a band_key
    shuffle only above one task's worth of band rows; no join, distinct or
    cache) — exact oracle (same literal hyperplanes
    as ann_lsh_topk; the oracle still self-joins the bands, takes the
    distinct pairs and joins the vectors back, so it checks the kernel's
    first-shared-band ownership against a plain union).  Mirrored copies
    (vec_id+1000000) guarantee positives (cosine = 1)."""
    return similarity.embedding_near_dups(
        _with_mirrors(_emb_double(spark, sf_dir), "vec_id", "embedding"),
        threshold_e6=950_000)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (dup-line fraction, top
    word-bigram fraction) — pure count ratios, exactly oracled."""
    return textstats.repetition_stats(_t(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.with_lang_id(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "pred_lang"
    )


def q_gopher_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 Gopher-signal completion: mean word length, symbol-word
    fraction, bullet-line and ellipsis-line fractions."""
    return textstats.gopher_signals(_t(spark, sf_dir, "documents"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.with_token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_subtokens_est"
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pred_lang is in the output so the oracle verifies the language
    # keying of the stopword table, not just the arithmetic (round 5)
    return textstats.with_quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "pred_lang", "length_score_e4", "alpha_ratio_e4",
        "stopword_score_e4", "quality_score_e4",
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.with_fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 10% sample — identical row set on any cluster
    size / engine / day (reproducible, unlike RNG-based sample())."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.hash_sample(docs, pct=10.0)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by md5 bucket."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return sampling.hash_split(docs)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: docs assigned to ~2000-token bins per language
    via one window cumsum (the training-dataloader greedy rule)."""
    docs = textstats.with_token_count(_t(spark, sf_dir, "documents"))
    return sampling.pack_sequences(docs, bin_tokens=2000)


def q_top_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group: 3 longest documents per language."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("int"))
            .where(F.col("rk") <= 3)
            .select("lang", "doc_id", "n_chars", "rk")
    )


# ---------------------------------------------------------------------------
# event-time operators
# ---------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # round 6: group by the truncated TIMESTAMP and render the string per
    # GROUP, not per row — date_trunc values map 1:1 to their formatted
    # strings (fixed session tz), so the groups and the output are
    # identical while ~1M date_format calls become ~11k (0.49 → 0.39 s)
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("_h"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(_e(F.col("value"), 4)).alias("sum_value_e4"))
        .select(F.date_format("_h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type", "n", "sum_value_e4")
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (``SESSION_GAP_SEC``, 30 min) via lag +
    running sum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: hop through TIMESTAMP (session tz = UTC) to get
    # epoch seconds as double, matching DuckDB's epoch(ts) on naive values
    sec = F.col("ts").cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    is_new = F.when(gap.isNull() | (gap <= float(timeseries.SESSION_GAP_SEC)),
                    0).otherwise(1)
    return ev.select(
        "event_id", "user_id",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("bigint").alias("session_num"),
    )


def q_events_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete median (lower) per event_type — distribution-bucket
    construction (round 6).  The round-1 shape ranked EVERY event with a
    row_number window partitioned by event_type: with a handful of types,
    that is one single-threaded 200k-row sort per type after shuffling the
    full table into ~5 partitions (guide §2.5 — partition count == key
    cardinality is structural skew).  Instead:

    1. histogram pass — map-side groupBy (type, int(value) bucket): ~560
       tiny rows; a window over THAT locates each type's median bucket
       and the residual rank k' inside it (the lower-median rank k =
       floor((n+1)/2) only depends on counts);
    2. rank pass — broadcast-join the target buckets back and row_number
       only the rows inside them (~n/560 per type).

    The k-th row's value_e4 ordered by (value, event_id) equals the k-th
    smallest of the value_e4 MULTISET (floor is monotone; event_id only
    breaks ties between rows whose value_e4 is equal), so ranking inside
    the bucket by value_e4 alone returns the identical median_e4.
    Measured 0.74 s → ~0.25 s at sf1; the full-sort never happens at any
    scale."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select("event_type", _e(F.col("value"), 4).alias("value_e4"))
    bucket = F.floor(F.col("value_e4") / 10000)
    hist = v.groupBy("event_type", bucket.alias("_b")) \
            .agg(F.count("*").alias("_c"))
    wt = Window.partitionBy("event_type").orderBy("_b")
    marked = hist.select(
        "event_type", "_b", "_c",
        (F.sum("_c").over(wt) - F.col("_c")).alias("_before"),
        F.sum("_c").over(Window.partitionBy("event_type")).alias("n"),
    )
    k = F.floor((F.col("n") + 1) / 2)
    target = marked.where(
        (k > F.col("_before")) & (k <= F.col("_before") + F.col("_c"))
    ).select("event_type", "_b", (k - F.col("_before")).alias("_k"), "n")
    in_bucket = v.withColumn("_b", bucket).join(
        F.broadcast(target), on=["event_type", "_b"])
    wb = Window.partitionBy("event_type").orderBy("value_e4")
    return (
        in_bucket.withColumn("_rn", F.row_number().over(wb))
        .where(F.col("_rn") == F.col("_k"))
        .select("event_type", F.col("value_e4").alias("median_e4"), "n")
    )


def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column extraction (semi-structured surface): parse props and
    aggregate the extracted field per event type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
          .where(F.col("k").isNotNull())
          .groupBy("event_type")
          .agg(F.count("*").alias("n"),
               F.sum("k").alias("sum_k"),
               F.max("k").alias("max_k"))
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior
    click (union + carry-forward — one shuffle, no inequality join)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts", "value")
    out = timeseries.asof_join(purchases, clicks)
    return out.select(
        "event_id", "user_id",
        F.col("asof_event_id").alias("click_id"),
        _e(F.col("asof_value"), 4).alias("click_value_e4"),
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: clicks within 1 hour after each signup."""
    ev = _t(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup")
    clicks = ev.where(F.col("event_type") == "click")
    return timeseries.bucketed_range_agg(signups, clicks, window_sec=3600)


def q_events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.sum(_e(F.col("value"), 4)).over(w).alias("running_value_e4"),
    )


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction over pages derived from sf0.001 documents."""
    docs = _t(spark, SF_DEFAULT, "documents")
    out = extract_documents(docs)  # fused bridge, see q_extract_docs
    return out.select(
        "url", "warc_ts", "doc_kind", "markdown", "extracted_text", "digest",
        "n_pages", "n_headers", "n_blocks_kept", "n_blocks_dropped",
        "image_tokens", "error",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_docs": q_extract_docs,
        "extract_markdown": q_extract_markdown,
        "extract_figures": q_extract_figures,
        "header_lines": q_header_lines,
        "fence_strip": q_fence_strip,
        "figure_area_filter": q_figure_area_filter,
        "fig_numbering": q_fig_numbering,
        "image_tokens": q_image_tokens,
        "batch_counts": q_batch_counts,
        "job_totals": q_job_totals,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "tpch_q12": q_tpch_q12,
        "tpch_q17": q_tpch_q17,
        "orders_semi": q_orders_semi,
        "customers_anti": q_priority_anti,
        "supplier_distinct": q_supplier_distinct,
        "orders_rollup": q_orders_rollup,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "lsh_pairs": q_lsh_pairs,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "dedup_groups": q_dedup_groups,
        "dedup_groups_scalable": q_dedup_groups_scalable,
        "ngram_jaccard": q_ngram_jaccard,
        "jaccard_verified": q_jaccard_verified,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "lang_id": q_lang_id,
        "repetition_stats": q_repetition_stats,
        "gopher_signals": q_gopher_signals,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "doc_fingerprint": q_doc_fingerprint,
        "hash_sample": q_hash_sample,
        "hash_split": q_hash_split,
        "pack_sequences": q_pack_sequences,
        "top_docs_per_lang": q_top_docs_per_lang,
        "events_hourly": q_events_hourly,
        "events_median": q_events_median,
        "events_sessionize": q_events_sessionize,
        "events_running_total": q_events_running_total,
        "events_asof": q_events_asof,
        "events_range_join": q_events_range_join,
        "events_props_json": q_events_props_json,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _shingles_sql(src: str) -> str:
    """CTE text: distinct 3-word shingles over table expr ``src``
    (must yield (doc_id, text)); ends with CTE ``sh``."""
    return f"""
t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM {src}),
ix AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
       FROM t WHERE len(toks) >= 3),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle FROM ix)
"""


def _minhash_slots_sql(src: str) -> str:
    """Shingle CTEs + 8 minhash slots; ends with CTE ``sig``."""
    slots = ",\n       ".join(
        f"min(md5('{i}|' || shingle)) AS mh{i}" for i in range(dedup.MINHASH_SLOTS)
    )
    return _shingles_sql(src) + f""",
sig AS (SELECT doc_id, {slots} FROM sh GROUP BY doc_id)
"""


def _simhash_cte(src: str) -> str:
    """CTE text ending with ``sig(doc_id, simhash)`` over table expr src."""
    votes = ",\n       ".join(
        f"sum(CASE WHEN substring(hh, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v{j}"
        for j in range(32)
    )
    bits = " || ".join(
        f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(32)
    )
    return f"""toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
              FROM {src}),
h AS (SELECT doc_id, md5(tok) AS hh FROM toks WHERE tok <> ''),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {bits} AS simhash FROM v)"""


def _plane_literal_sql(p: int, dims: int = 64) -> str:
    """The deterministic hyperplane as a DuckDB DOUBLE[] literal — the SAME
    plan-time constants the Spark side embeds (similarity._plane), which is
    what makes the banded-LSH queries exactly oracle-able."""
    from qwen_ocr_spark.operators.similarity import _plane
    return "[" + ",".join(repr(x) for x in _plane(p, dims)) + "]::DOUBLE[]"


def _banded_sql(bands: int, rows: int) -> str:
    """UNION ALL selects producing (vec_id, band_key) from CTE e(vec_id, v)."""
    selects = []
    for b in range(bands):
        bits = " || ".join(
            f"(CASE WHEN list_dot_product(v, {_plane_literal_sql(b * rows + r)}) >= 0"
            " THEN '1' ELSE '0' END)"
            for r in range(rows)
        )
        selects.append(f"SELECT vec_id, '{b}|' || {bits} AS band_key FROM e")
    return "\nUNION ALL\n".join(selects)


def _cos_sql(x: str, y: str) -> str:
    """Zero-norm-safe cosine over DOUBLE[] exprs — mirrors the fold of
    similarity._cosine_e6_udf term-for-term (same dot arg order, same den
    product order)."""
    return (f"CASE WHEN sqrt(list_dot_product({x}, {x}))"
            f" * sqrt(list_dot_product({y}, {y})) = 0 THEN NULL"
            f" ELSE list_dot_product({x}, {y})"
            f" / (sqrt(list_dot_product({x}, {x}))"
            f" * sqrt(list_dot_product({y}, {y}))) END")


_COS_SQL = _cos_sql("a.v", "b.v")


_DOCS2 = """docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)"""

def oracle_sql() -> dict[str, str]:
    q = {}

    q["extract_docs"] = """
SELECT CASE WHEN doc_id % 7 = 0 THEN 'https://docs.example.com/' || doc_id || '.pdf'
            ELSE 'https://docs.example.com/' || doc_id END AS url,
       CASE WHEN doc_id % 7 = 0 THEN 'pdf' ELSE 'html' END AS doc_kind,
       sha256('Doc ' || doc_id || chr(10) || text) AS digest,
       1 AS n_headers
FROM documents
"""

    q["extract_markdown"] = """
SELECT CASE WHEN doc_id % 7 = 0 THEN 'https://docs.example.com/' || doc_id || '.pdf'
            ELSE 'https://docs.example.com/' || doc_id END AS url,
       md5('# Doc ' || doc_id || chr(10) || chr(10) || text) AS md_md5
FROM documents
"""

    q["extract_figures"] = """
SELECT 'https://docs.example.com/fig/' || doc_id AS url,
       1 AS page_number, 1 AS fig_number,
       CAST(doc_id % 300 AS INT) AS x1,
       CAST((doc_id * 7) % 300 AS INT) AS y1,
       CAST(doc_id % 300 + 400 + doc_id % 100 AS INT) AS x2,
       CAST((doc_id * 7) % 300 + 350 + doc_id % 80 AS INT) AS y2,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'chart' WHEN 1 THEN 'graph'
            ELSE 'diagram' END AS element_type,
       'Figure 1: doc ' || doc_id AS caption
FROM documents
"""

    q["header_lines"] = """
WITH md AS (
  SELECT doc_id,
         '# Doc ' || doc_id || chr(10) || 'intro words here' || chr(10)
         || '## Src ' || source || chr(10) || text AS m
  FROM documents
), lines AS (
  SELECT doc_id, unnest(string_split(m, chr(10))) AS line FROM md
), x AS (
  SELECT doc_id, line, ltrim(line) AS s FROM lines
)
SELECT doc_id,
       CAST(length(regexp_extract(s, '^#+')) AS INT) AS level,
       line
FROM x
WHERE s LIKE '#%'
  AND length(regexp_extract(s, '^#+')) BETWEEN 1 AND 6
  AND trim(regexp_replace(s, '^#+', '')) <> ''
"""

    q["fence_strip"] = """
WITH f AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN '```markdown' || chr(10) || text || chr(10) || '```'
              ELSE text END AS fenced
  FROM documents
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(fenced, '^```markdown\\n', ''),
                          '\\n```$', '')) AS stripped_md5
FROM f
"""

    _fig_rel = """
SELECT l_orderkey, l_linenumber,
       CAST(l_partkey % 800 AS INT) AS x1,
       CAST(l_suppkey % 800 AS INT) AS y1,
       CAST(l_partkey % 800 + 1 + (l_orderkey % 399) AS INT) AS x2,
       CAST(l_suppkey % 800 + 1 + ((l_linenumber * 83) % 399) AS INT) AS y2
FROM lineitem
"""
    q["figure_area_filter"] = f"""
WITH f AS ({_fig_rel})
SELECT *, CAST((x2 - x1) * (y2 - y1) AS BIGINT) AS area_e6
FROM f
WHERE x2 <= 1000 AND y2 <= 1000
  AND (x2 - x1) * (y2 - y1) BETWEEN 50000 AND 850000
"""

    q["fig_numbering"] = f"""
WITH f AS ({_fig_rel}),
kept AS (
  SELECT *, CAST((x2 - x1) * (y2 - y1) AS BIGINT) AS area_e6,
         CAST(l_orderkey % 50 AS INT) AS page
  FROM f
  WHERE x2 <= 1000 AND y2 <= 1000
    AND (x2 - x1) * (y2 - y1) BETWEEN 50000 AND 850000
)
SELECT page, l_orderkey, l_linenumber, x1, y1,
       CAST(row_number() OVER (PARTITION BY page
                               ORDER BY y1, x1, l_orderkey, l_linenumber) AS INT)
         AS fig_number
FROM kept
"""

    q["image_tokens"] = """
WITH t AS (
  SELECT p_brand,
         CAST(floor((200 + p_partkey % 1500) / 28.0)
              * floor((200 + (p_partkey * 7) % 1800) / 28.0) AS BIGINT) AS tokens
  FROM part
)
SELECT p_brand, CAST(sum(tokens) AS BIGINT) AS total_tokens, count(*) AS n_parts
FROM t GROUP BY p_brand
"""

    q["batch_counts"] = """
SELECT doc_id,
       CAST(ceil(n_chars / 500.0) AS BIGINT) AS pages_est,
       CAST(ceil(ceil(n_chars / 500.0) / 10.0) AS BIGINT) AS n_batches
FROM documents
"""

    q["job_totals"] = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
         AS total_tokens
FROM documents GROUP BY lang
"""

    q["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_e2,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_e2,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000) AS BIGINT)) AS BIGINT) AS sum_charge_e4,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    q["tpch_q3"] = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue_e4 DESC, l_orderkey
LIMIT 10
"""

    q["tpch_q5"] = """
SELECT n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""

    q["tpch_q6"] = """
SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

    q["tpch_q12"] = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""

    q["tpch_q17"] = """
WITH x AS (
  SELECT l_partkey,
         CAST(floor(l_quantity * 100) AS BIGINT) AS q_e2,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_e2
  FROM lineitem
), y AS (
  SELECT *,
         CAST(sum(q_e2) OVER (PARTITION BY l_partkey) AS BIGINT) AS sum_q_e2,
         count(*) OVER (PARTITION BY l_partkey) AS cnt
  FROM x
)
SELECT CAST(sum(price_e2) AS BIGINT) AS total_price_e2, count(*) AS n_rows
FROM y WHERE 5 * q_e2 * cnt < sum_q_e2
"""

    q["orders_semi"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount >= 0.09)
GROUP BY o_orderpriority
"""

    q["customers_anti"] = """
SELECT c_mktsegment, count(*) AS n_custs_no_orders
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""

    q["supplier_distinct"] = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT l_partkey) AS n_parts,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""

    q["orders_rollup"] = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_e2
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

    q["dedup_exact"] = f"""
WITH {_DOCS2}
SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS dup_count
FROM docs2 GROUP BY md5(text)
"""

    sig_cols = " || '|' || ".join(f"mh{i}" for i in range(dedup.MINHASH_SLOTS))
    q["minhash_signatures"] = f"""
WITH {_minhash_slots_sql('documents')}
SELECT doc_id, {sig_cols} AS minhash_sig FROM sig
"""

    bands = dedup.MINHASH_BANDS
    rpb = dedup.MINHASH_SLOTS // bands
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, '" + str(b) + "' || '|' || "
        + " || '|' || ".join(f"mh{i}" for i in range(b * rpb, (b + 1) * rpb))
        + " AS band_key FROM sig"
        for b in range(bands)
    )
    q["lsh_pairs"] = f"""
WITH {_DOCS2},
{_minhash_slots_sql('docs2')},
banded AS ({band_selects})
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM banded l JOIN banded r ON l.band_key = r.band_key
WHERE l.doc_id < r.doc_id
"""

    q["jaccard_verified"] = f"""
WITH {_DOCS2},
{_minhash_slots_sql('docs2')},
banded AS ({band_selects}),
cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         FROM banded l JOIN banded r ON l.band_key = r.band_key
         WHERE l.doc_id < r.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       CAST(floor(inter * 10000.0 / (sa.n_shingles + sb.n_shingles - inter)) AS BIGINT)
         AS jaccard_e4
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE floor(inter * 10000.0 / (sa.n_shingles + sb.n_shingles - inter)) >= 8000
"""

    q["dedup_groups_scalable"] = f"""
WITH RECURSIVE {_DOCS2},
{_minhash_slots_sql('docs2')},
banded AS ({band_selects}),
cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         FROM banded l JOIN banded r ON l.band_key = r.band_key
         WHERE l.doc_id < r.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE floor(inter * 10000.0 / (sa.n_shingles + sb.n_shingles - inter)) >= 8000
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(node, reach) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
)
SELECT node AS doc_id, min(reach) AS group_id,
       (node = min(reach)) AS is_keep
FROM walk GROUP BY node
"""

    q["simhash"] = f"""
WITH {_simhash_cte('documents')}
SELECT doc_id, simhash FROM sig
"""

    from qwen_ocr_spark.operators.dedup import SIMHASH_RADIUS, simhash_chunk_bounds
    chunk_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, '{c}|' || substring(simhash, {start}, {width})"
        " AS chunk_key FROM sig"
        for c, (start, width) in enumerate(simhash_chunk_bounds(SIMHASH_RADIUS))
    )
    q["simhash_pairs"] = f"""
WITH {_DOCS2},
{_simhash_cte('docs2')},
chunked AS ({chunk_selects}),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.simhash AS sa, r.simhash AS sb
  FROM chunked l JOIN chunked r ON l.chunk_key = r.chunk_key
  WHERE l.doc_id < r.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(CAST(sa AS BIT), CAST(sb AS BIT))) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(CAST(sa AS BIT), CAST(sb AS BIT))) <= {SIMHASH_RADIUS}
"""

    q["ngram_jaccard"] = f"""
WITH {_DOCS2},
{_shingles_sql('docs2')},
kept AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING count(*) <= {dedup.MAX_SHINGLE_DF}),
shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shk GROUP BY doc_id),
inter AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS inter
  FROM shk l JOIN shk r ON l.shingle = r.shingle
  WHERE l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
SELECT id_a, id_b,
       CAST(floor(inter * 10000.0 / (sa.n_shingles + sb.n_shingles - inter)) AS BIGINT)
         AS jaccard_e4
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE floor(inter * 10000.0 / (sa.n_shingles + sb.n_shingles - inter)) >= 8000
"""

    # near-dup clustering: the SAME capped-jaccard pair CTEs feed a
    # recursive transitive closure; group_id = min reachable id (exactly
    # the component minimum dedup.connected_components labels with)
    q["dedup_groups"] = f"""
WITH RECURSIVE {_DOCS2},
{_shingles_sql('docs2')},
kept AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING count(*) <= {dedup.MAX_SHINGLE_DF}),
shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shk GROUP BY doc_id),
inter AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS inter
  FROM shk l JOIN shk r ON l.shingle = r.shingle
  WHERE l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE floor(inter * 10000.0 / (sa.n_shingles + sb.n_shingles - inter)) >= 8000
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(node, reach) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
)
SELECT node AS doc_id, min(reach) AS group_id,
       (node = min(reach)) AS is_keep
FROM walk GROUP BY node
"""

    q["ann_cosine_topk"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
s AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         CAST(floor(1e6 * (list_dot_product(qv, v)
              / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))))
              AS BIGINT) AS score_e6
  FROM q, e WHERE e.vec_id <> query_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_e6 DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, neighbor_id, score_e6, CAST(rk AS INT) AS rank
FROM r WHERE rk <= 5
"""

    from qwen_ocr_spark.operators.similarity import (
        ANN_BANDS, ANN_ROWS, LSH_BANDS, LSH_ROWS,
    )
    q["ann_lsh_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
banded AS ({_banded_sql(ANN_BANDS, ANN_ROWS)}),
qb AS (SELECT vec_id AS query_id, band_key FROM banded WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT qb.query_id, c.vec_id AS neighbor_id
  FROM qb JOIN banded c ON qb.band_key = c.band_key
  WHERE c.vec_id <> qb.query_id
),
s AS (
  SELECT query_id, neighbor_id,
         CAST(floor(({_COS_SQL}) * 1e6) AS BIGINT) AS score_e6
  FROM cand
  JOIN e a ON a.vec_id = query_id
  JOIN e b ON b.vec_id = neighbor_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_e6 DESC, neighbor_id) AS rk
  FROM s WHERE score_e6 IS NOT NULL
)
SELECT query_id, neighbor_id, score_e6, CAST(rk AS INT) AS rank
FROM r WHERE rk <= 5
"""

    q["ann_ivf_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cell_id, v AS cvec FROM e
         ORDER BY md5('ivf|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
scored AS (
  SELECT e.vec_id, e.v, cent.cell_id,
         CAST(floor(({_cos_sql('e.v', 'cent.cvec')}) * 1e6) AS BIGINT) AS cscore_e6
  FROM e CROSS JOIN cent
  WHERE floor(({_cos_sql('e.v', 'cent.cvec')}) * 1e6) IS NOT NULL
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cscore_e6 DESC, cell_id) AS crank
  FROM scored
),
assign AS (SELECT vec_id AS neighbor_id, v AS nv, cell_id
           FROM ranked WHERE crank = 1),
qcells AS (SELECT vec_id AS query_id, v AS qv, cell_id
           FROM ranked WHERE vec_id < 5 AND crank <= 2),
s AS (
  SELECT query_id, neighbor_id,
         CAST(floor(({_cos_sql('qv', 'nv')}) * 1e6) AS BIGINT) AS score_e6
  FROM qcells JOIN assign ON qcells.cell_id = assign.cell_id
  WHERE neighbor_id <> query_id
    AND floor(({_cos_sql('qv', 'nv')}) * 1e6) IS NOT NULL
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_e6 DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, neighbor_id, score_e6, CAST(rk AS INT) AS rank
FROM r WHERE rk <= 5
"""

    q["embedding_near_dups"] = f"""
WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
e AS (SELECT vec_id, v FROM raw
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, v FROM raw WHERE vec_id % 10 = 0),
banded AS ({_banded_sql(LSH_BANDS, LSH_ROWS)}),
pairs AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM banded l JOIN banded r ON l.band_key = r.band_key
  WHERE l.vec_id < r.vec_id
)
SELECT id_a, id_b,
       CAST(floor(({_COS_SQL}) * 1e6) AS BIGINT) AS score_e6
FROM pairs
JOIN e a ON a.vec_id = id_a
JOIN e b ON b.vec_id = id_b
WHERE floor(({_COS_SQL}) * 1e6) IS NOT NULL
  AND floor(({_COS_SQL}) * 1e6) >= 950000
"""

    # generated from textstats.LANG_TRIGRAMS so Spark operator and oracle
    # can never drift: per-language trigram-occurrence sums over the padded
    # lowered text, argmax with ties breaking by dict order (the Spark
    # side's inverted-prio struct max).  length() is characters in both
    # engines, so multi-byte trigrams ("ção") divide identically.
    from qwen_ocr_spark.operators.textstats import LANG_TRIGRAMS
    _langs = list(LANG_TRIGRAMS)
    _score_cols = ",\n    ".join(
        " + ".join(
            f"CAST((length(pt) - length(replace(pt, '{t}', ''))) / {len(t)} AS INT)"
            for t in trigrams
        ) + f" AS s_{lang}"
        for lang, trigrams in LANG_TRIGRAMS.items()
    )
    _argmax = "\n       ".join(
        "WHEN " + " AND ".join(
            f"s_{lang} >= s_{other}" for other in _langs[i + 1:]
        ) + f" THEN '{lang}'"
        for i, lang in enumerate(_langs[:-1])
    )
    # script-range short-circuits, generated from the same SCRIPT_LANGS
    # table the operator uses (\\uXXXX → DuckDB's \\x{XXXX} class syntax)
    from qwen_ocr_spark.operators.textstats import SCRIPT_LANGS
    import re as _re_mod
    _script_whens = "\n       ".join(
        "WHEN regexp_matches(text, '{}') THEN '{}'".format(
            _re_mod.sub(r"\\u([0-9a-fA-F]{4})", r"\\x{\1}", pat), lang)
        for lang, pat in SCRIPT_LANGS
    )
    _pred_case = f"""CASE {_script_whens}
       WHEN greatest({", ".join(f"s_{l}" for l in _langs)}) <= 0 THEN 'und'
       {_argmax}
       ELSE '{_langs[-1]}' END"""
    q["lang_id"] = f"""
WITH p AS (SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS pt FROM documents),
s AS (
  SELECT doc_id, lang, text,
    {_score_cols}
  FROM p
)
SELECT doc_id, lang,
  {_pred_case} AS pred_lang
FROM s
"""

    q["repetition_stats"] = """
WITH lines AS (
  SELECT doc_id,
         list_filter(str_split(text, chr(10)),
                     x -> length(trim(x)) > 0) AS ls
  FROM documents
),
base AS (
  SELECT doc_id,
    CASE WHEN len(ls) = 0 THEN CAST(0 AS BIGINT)
         ELSE CAST(floor((len(ls) - len(list_distinct(ls))) * 10000.0
                         / len(ls)) AS BIGINT)
    END AS dup_line_frac_e4
  FROM lines
),
toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
         FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM toks WHERE len(tk) >= 2
),
per AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram),
top AS (SELECT doc_id, max(c) AS max_c, sum(c) AS n_bigrams
        FROM per GROUP BY doc_id)
SELECT base.doc_id, dup_line_frac_e4,
       CAST(coalesce(floor(max_c * 10000.0 / n_bigrams), 0) AS BIGINT)
         AS top_bigram_frac_e4
FROM base LEFT JOIN top ON base.doc_id = top.doc_id
"""

    q["gopher_signals"] = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS toks,
         list_filter(str_split(text, chr(10)),
                     x -> length(trim(x)) > 0) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_toks,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS tok_chars,
         len(list_filter(toks, x -> contains(x, '#') OR contains(x, '...')
                                    OR contains(x, chr(8230)))) AS sym,
         len(lines) AS n_lines,
         len(list_filter(lines,
             x -> regexp_matches(trim(x), '^[-*' || chr(8226) || ']'))) AS bullet,
         len(list_filter(lines,
             x -> regexp_matches(trim(x), '(\.\.\.|' || chr(8230) || ')$'))) AS ellipsis
  FROM base
)
SELECT doc_id,
       CAST(CASE WHEN n_toks = 0 THEN 0
                 ELSE floor(tok_chars * 10000.0 / n_toks) END AS BIGINT)
         AS mean_word_len_e4,
       CAST(CASE WHEN n_toks = 0 THEN 0
                 ELSE floor(sym * 10000.0 / n_toks) END AS BIGINT)
         AS symbol_word_frac_e4,
       CAST(CASE WHEN n_lines = 0 THEN 0
                 ELSE floor(bullet * 10000.0 / n_lines) END AS BIGINT)
         AS bullet_line_frac_e4,
       CAST(CASE WHEN n_lines = 0 THEN 0
                 ELSE floor(ellipsis * 10000.0 / n_lines) END AS BIGINT)
         AS ellipsis_line_frac_e4
FROM m
"""

    q["token_count"] = """
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
         AS n_tokens,
       CAST(ceil(length(trim(text)) / 4.0) AS BIGINT) AS n_subtokens_est
FROM documents
"""

    # language-aware stopword hits (round 5): the needle table, the CASE
    # keyed on pred_lang, and the unspaced-script denominator are ALL
    # generated from textstats.STOPWORD_NEEDLES / UNSPACED_LANGS so the
    # Spark operator and the oracle cannot drift.  pred_lang reuses the
    # SAME generated snippet (_pred_case) the lang_id oracle uses.
    _stop_case = "CASE pred_lang " + "\n       ".join(
        "WHEN '{}' THEN {}".format(
            lang,
            " + ".join(
                f"CAST((length(pt) - length(replace(pt, '{n}', ''))) / {len(n)} AS INT)"
                for n in needles
            ),
        )
        for lang, needles in textstats.STOPWORD_NEEDLES.items()
    ) + " ELSE 0 END"
    _unspaced = ", ".join(f"'{l}'" for l in sorted(textstats.UNSPACED_LANGS))
    q["quality_score"] = f"""
WITH b AS (
  SELECT doc_id, text, ' ' || lower(text) || ' ' AS pt,
         length(text) AS chars,
         length(regexp_replace(text, '[^\\p{{L}} ]', '', 'g')) AS alpha,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS words
  FROM documents
), s AS (
  SELECT doc_id, text, pt, chars, alpha, words,
    {_score_cols}
  FROM b
), l AS (
  SELECT doc_id, pt, chars, alpha, words,
         {_pred_case} AS pred_lang
  FROM s
), f AS (
  SELECT doc_id, pred_lang, chars, alpha, words,
         {_stop_case} AS stop_hits,
         CASE WHEN pred_lang IN ({_unspaced}) THEN chars ELSE words END AS denom
  FROM l
), g AS (
  SELECT doc_id, pred_lang,
         least(1.0, chars / 500.0) AS length_score,
         CASE WHEN chars = 0 THEN 0.0 ELSE alpha / CAST(chars AS DOUBLE) END AS alpha_ratio,
         CASE WHEN denom = 0 THEN 0.0
              ELSE least(0.5, stop_hits / CAST(denom AS DOUBLE)) * 2.0 END AS stop_ratio
  FROM f
)
SELECT doc_id, pred_lang,
       CAST(floor(length_score * 10000) AS BIGINT) AS length_score_e4,
       CAST(floor(alpha_ratio * 10000) AS BIGINT) AS alpha_ratio_e4,
       CAST(floor(stop_ratio * 10000) AS BIGINT) AS stopword_score_e4,
       CAST(floor((0.4 * length_score + 0.4 * alpha_ratio + 0.2 * stop_ratio) * 10000)
            AS BIGINT) AS quality_score_e4
FROM g
"""

    q["doc_fingerprint"] = """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""

    from qwen_ocr_spark.operators.sampling import TRAIN_PCT, VAL_PCT, _bucket_hex
    _b = "substring(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 4)"
    q["hash_sample"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_b} < '{_bucket_hex(0.10)}'
"""

    q["hash_split"] = f"""
SELECT doc_id,
       CASE WHEN {_b} < '{_bucket_hex(TRAIN_PCT / 100.0)}' THEN 'train'
            WHEN {_b} < '{_bucket_hex((TRAIN_PCT + VAL_PCT) / 100.0)}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

    q["pack_sequences"] = """
WITH t AS (
  SELECT lang, doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
           AS n_tokens
  FROM documents
), c AS (
  SELECT lang, doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM t
)
SELECT lang, doc_id, n_tokens,
       CAST(floor(cum_before / 2000) AS BIGINT) AS bin_id
FROM c
"""

    q["top_docs_per_lang"] = """
WITH r AS (
  SELECT lang, doc_id, n_chars,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC, doc_id) AS INT) AS rk
  FROM documents
)
SELECT lang, doc_id, n_chars, rk FROM r WHERE rk <= 3
"""

    q["events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
FROM events
GROUP BY 1, 2
"""

    q["events_median"] = """
WITH r AS (
  SELECT event_type,
         CAST(floor(value * 10000) AS BIGINT) AS value_e4,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, value_e4 AS median_e4, n
FROM r WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
"""

    q["events_sessionize"] = f"""
WITH g AS (
  SELECT event_id, user_id, ts,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS gap
  FROM events
)
SELECT event_id, user_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap <= {float(timeseries.SESSION_GAP_SEC)} THEN 0 ELSE 1 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_num
FROM g
"""

    q["events_props_json"] = """
WITH x AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM x WHERE k IS NOT NULL
GROUP BY event_type
"""

    q["events_asof"] = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, m.click_id, m.click_value_e4
FROM p LEFT JOIN LATERAL (
  SELECT c.event_id AS click_id,
         CAST(floor(c.value * 10000) AS BIGINT) AS click_value_e4
  FROM c
  WHERE c.user_id = p.user_id
    AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
) m ON TRUE
"""

    q["events_range_join"] = """
WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT s.event_id, s.user_id, count(*) AS n_in_window,
       CAST(sum(CAST(floor(c.value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
FROM s JOIN c ON c.user_id = s.user_id
  AND epoch(c.ts) > epoch(s.ts)
  AND epoch(c.ts) <= epoch(s.ts) + 3600
GROUP BY s.event_id, s.user_id
"""

    q["events_running_total"] = """
SELECT event_id, user_id,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS running_value_e4
FROM events
"""
    return q
