"""The extraction pipeline: pages → (out, figures) via one Arrow-batched UDF.

Spark restatement of the reference's whole job (SURVEY.md §3.1):

    read pages → prune to (url, warc_ts, html) → salted repartition by
    url-hash → mapInPandas(extract) → out table (+ exploded figures view)

Design notes for the 10^12-row target:

* **Column pruning**: the UDF input is selected down to exactly
  (url, warc_ts, html) before the repartition, so the parquet/Iceberg scan
  never reads the crawl ``text`` column (the reference's downscale-for-
  transmission optimization mapped to its Spark analog, SURVEY.md §4).
* **Salted repartition**: Common-Crawl inputs arrive clustered by host with
  correlated document sizes; ``repartition(xxhash64(url, salt))`` breaks
  that clustering so every task gets a mixed diet of cheap/expensive
  documents.  AQE handles residual skew.  The shuffle is sized by its
  input: one task per ``EXTRACT_TASK_BYTES`` of the planner's size
  estimate of the pruned input, at least 1 and at most
  ``defaultParallelism`` (an input with no size statistic gets the
  maximum), so a small resume increment commits one output file, not one
  per core.
* **One UDF pass computes text AND figures** — the reference ran two model
  calls per batch concurrently (src/models/document_job.py:338-362); here
  one shared parse produces both output columns, figures nested as an
  array<struct> exploded later without reparsing.
* **Determinism**: the UDF output is a pure function of (url, html) bytes —
  task retries and speculative execution yield byte-identical rows, which
  is what makes the digest-based manifest (sinks/manifest.py) sound.
* **Error channel**: a document that fails to parse yields a row with
  ``error`` set and null markdown — one bad document never fails the job
  (reference semantics, src/models/document_job.py:229-239).
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qwen_ocr_spark.functions import blocks as bk
from qwen_ocr_spark.functions import htmlx, pdfx
from qwen_ocr_spark.functions.figures import image_tokens
from qwen_ocr_spark.functions.markdown import build_context
from qwen_ocr_spark.plans.session import task_count

# one figure: an element of the ``figures`` column, a row of the figures table
FIGURE_FIELDS = ("page_number int, fig_number int, bbox array<int>, "
                 "caption string, element_type string, img_format string, "
                 "png binary")
_OUT_FIELDS = [
    ("url", "string"), ("warc_ts", "timestamp"), ("doc_kind", "string"),
    ("markdown", "string"), ("extracted_text", "string"),
    ("digest", "string"), ("n_pages", "int"), ("n_headers", "int"),
    ("n_blocks_kept", "int"), ("n_blocks_dropped", "int"),
    ("image_tokens", "bigint"), ("breadcrumb", "string"),
    ("figures", f"array<struct<{FIGURE_FIELDS}>>"),
    ("error", "string"),
]
OUT_SCHEMA = ", ".join(f"{c} {t}" for c, t in _OUT_FIELDS)
_ALL_COLUMNS = [c for c, _ in _OUT_FIELDS]

FIGURES_COLUMNS = ["url", "page_number", "fig_number", "bbox", "caption",
                   "element_type", "img_format", "png"]

# 130 DPI page-image token cost (reference cost model A1 —
# src/processing.py:100-102 at src/pdf_handler.py:11's DPI): tokens are
# computed from the page's MediaBox rendered at 130 DPI.
_DPI = 130.0
_PT_PER_IN = 72.0

# extract_documents' bridge: every PDF_EVERY-th doc_id becomes a PDF page,
# the others HTML (the extract_docs oracle assumes 7)
PDF_EVERY = 7

# Input bytes (the planner's estimate of the pruned pages) per extraction
# task when ``extract_pages`` sizes its own shuffle.  Every partition costs
# about 0.2 CPU-s across a commit's stages (task deserialization, a Python
# worker round trip, one Parquet writer per output and figure file, the
# manifest read-back): a traced perfbench append_resume commit of 40 pages
# on 4 cores took 1.92 CPU-s in 4 tasks and 1.22 in 1.  128 KiB is about 110
# seeded pages, about 0.15 CPU-s of ``_extract_rows`` work, so below it a
# second task would cost more CPU than the extraction it moves.
EXTRACT_TASK_BYTES = 128 * 1024


def _extract_one(url: str, payload: bytes) -> dict:
    if payload[:5] == b"%PDF-":
        pages = pdfx.parse_pdf(payload)
        res = bk.assemble_document(pdfx.pdf_pages_to_blocks(pages))
        kind = "pdf"
        n_pages = len(pages)
        itok = sum(
            image_tokens(int(p.width / _PT_PER_IN * _DPI), int(p.height / _PT_PER_IN * _DPI))
            for p in pages
        )
    else:
        res = htmlx.extract_html(htmlx.decode_html_bytes(payload))
        kind = "html"
        n_pages = 1
        itok = 0
    return {
        "doc_kind": kind,
        "markdown": res.markdown,
        "extracted_text": res.extracted_text,
        "digest": hashlib.sha256(res.extracted_text.encode("utf-8")).hexdigest(),
        "n_pages": n_pages,
        "n_headers": len(res.header_stack),
        "n_blocks_kept": res.n_blocks_kept,
        "n_blocks_dropped": res.n_blocks_dropped,
        "image_tokens": itok,
        "breadcrumb": build_context(res.header_stack),
        "figures": [
            (f.page_number, f.fig_number, list(f.bbox), f.caption,
             f.element_type, f.img_format, f.png)
            for f in res.figures
        ],
        "error": None,
    }


def _error_record(exc: Exception) -> dict:
    """The row fields for a document whose extraction raised: null text,
    zero counts, and ``error`` = ``"<ExceptionClass>: <message>"``."""
    return {
        "doc_kind": "unknown", "markdown": None, "extracted_text": None,
        "digest": None, "n_pages": 0, "n_headers": 0, "n_blocks_kept": 0,
        "n_blocks_dropped": 0, "image_tokens": 0, "breadcrumb": None,
        "figures": [], "error": f"{type(exc).__name__}: {exc}",
    }


def _extract_rows(rows: Iterable[tuple], columns: list[str]) -> pd.DataFrame:
    """Extract each ``(url, warc_ts, payload)`` row into a frame of the
    named ``OUT_SCHEMA`` fields; a row whose extraction raises becomes an
    error record (never fails the task)."""
    cols: dict[str, list] = {c: [] for c in columns}
    for url, ts, payload in rows:
        try:
            rec = _extract_one(url, bytes(payload))
        except Exception as e:  # error channel, never fail the task
            rec = _error_record(e)
        rec["url"] = url
        rec["warc_ts"] = ts
        for c in columns:
            cols[c].append(rec[c])
    return pd.DataFrame(cols, columns=columns)


def _extract_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        yield _extract_rows(zip(b["url"], b["warc_ts"], b["html"]),
                            _ALL_COLUMNS)


def extract_documents(docs_df: DataFrame, *, figured: bool = False,
                      columns: list[str] | None = None) -> DataFrame:
    """documents → out in ONE Python pass: the bridge payload is
    synthesized and extracted inside the same ``mapInPandas`` task, so the
    payload bytes never cross the JVM↔Python boundary at all (round 6).

    Row-identical to ``extract_pages`` over pages built from the same
    bridge payloads, urls and timestamps (pinned by
    ``tests/test_pipeline.py::test_extract_documents_equals_extract_pages_over_bridge``),
    same error channel — but that composition ships every generated payload
    Python→JVM (Arrow), projects it, and ships it JVM→Python again for
    extraction: two full serializations of the corpus bytes plus an extra
    pandas materialization, for zero computational benefit (guide §4 —
    eliminate boundary crossings; the noop-isolated generation pass alone
    cost as much as the whole fused pipeline).  ``extract_pages`` remains
    the production operator for pages that exist as REAL data; this is the
    fused path for the synthesized documents bridge, where generation is
    itself Python and fusing is free.

    Without ``figured`` a doc_id divisible by ``PDF_EVERY`` is bridged as
    a PDF, every other one as HTML.  ``figured=True`` uses the
    figured-HTML bridge (one closed-form figure per document, all-HTML) —
    the extract_figures recipe.

    ``columns`` narrows the UDF's OUTPUT to the named ``OUT_SCHEMA``
    fields (any order; emitted in schema order).  A map node is opaque to
    Catalyst, so a downstream ``.select()`` cannot prune what the Python
    side serializes — every row would ship its full markdown, extracted
    text and figures through Arrow just to be dropped by the projection
    (guide §4.1, applied to the output side of the boundary).  The same
    parse still runs per document; only the emitted columns change, so a
    consumer selecting exactly ``columns`` gets rows identical to the
    full-schema path.  An empty list raises ``ValueError``."""
    import datetime as _dt

    from qwen_ocr_spark.sources.pages import (
        EPOCH,
        _bridge_html,
        _bridge_html_figured,
        _bridge_pdf,
    )

    n = docs_df.sparkSession.sparkContext.defaultParallelism
    df = docs_df.select("doc_id", "text")
    # spread only when the scan under-parallelizes (the driver testdata is
    # a single-partition parquet; a multi-file corpus already spreads) —
    # guide §2.4: don't pay an exchange the layout already provides
    if df.rdd.getNumPartitions() < n:
        df = df.repartition(n)
    if columns is None:
        out_columns = _ALL_COLUMNS
        schema = OUT_SCHEMA
    else:
        if not columns:
            raise ValueError("columns=[] selects no output column; "
                             "pass None for the full schema")
        unknown = set(columns) - set(_ALL_COLUMNS)
        if unknown:
            raise ValueError(f"unknown output columns: {sorted(unknown)}")
        keep = set(columns)
        out_columns = [c for c in _ALL_COLUMNS if c in keep]
        schema = ", ".join(f"{c} {t}" for c, t in _OUT_FIELDS if c in keep)

    def bridge_rows(b: pd.DataFrame) -> Iterator[tuple]:
        for doc_id, text in zip(b["doc_id"], b["text"]):
            doc_id = int(doc_id)
            ts = EPOCH + _dt.timedelta(seconds=doc_id)
            if figured:
                yield (f"https://docs.example.com/fig/{doc_id}", ts,
                       _bridge_html_figured(doc_id, text))
            elif doc_id % PDF_EVERY == 0:
                yield (f"https://docs.example.com/{doc_id}.pdf", ts,
                       _bridge_pdf(doc_id, text))
            else:
                yield (f"https://docs.example.com/{doc_id}", ts,
                       _bridge_html(doc_id, text))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _extract_rows(bridge_rows(b), out_columns)

    return df.mapInPandas(gen, schema=schema)


def extract_pages(pages_df: DataFrame, *, salt: int = 0,
                  partitions: int | None = None,
                  lang: str | None = None,
                  repartition: bool = True) -> DataFrame:
    """pages → out.  Optional predicate-pushdown lang filter; explicit
    salted repartition by url-hash before the UDF (skew strategy per
    SURVEY.md §4).  Pass ``repartition=False`` when the input is already
    well balanced (e.g. a freshly bucketed/synthesized corpus) to skip the
    payload shuffle entirely — scan partitions feed the UDF directly.

    Without ``partitions`` the shuffle has
    ``plans.session.task_count(input, EXTRACT_TASK_BYTES)`` partitions:
    one per ``EXTRACT_TASK_BYTES`` of the filtered, pruned input's size
    estimate, between 1 and ``defaultParallelism``, read from the plan
    without launching a Spark job."""
    df = pages_df
    if lang is not None:
        df = df.filter(F.col("lang") == lang)  # pushed to the scan
    df = df.select("url", "warc_ts", "html")   # column pruning: never read text
    if repartition:
        n = partitions or task_count(df, EXTRACT_TASK_BYTES)
        df = df.repartition(n, F.xxhash64(F.col("url"), F.lit(salt)))
    return df.mapInPandas(_extract_iter, schema=OUT_SCHEMA)


def figures_table(out_df: DataFrame) -> DataFrame:
    """Explode the nested figures into the side-output table
    figures(url, page_number, fig_number, bbox, caption, element_type, png)
    — the Spark analog of images/{page}_fig{n}.png
    (/root/reference/src/models/extracted_image.py:34-43)."""
    return (
        out_df
        .select("url", F.explode("figures").alias("f"))
        .select("url", "f.page_number", "f.fig_number", "f.bbox",
                "f.caption", "f.element_type", "f.img_format", "f.png")
    )


def job_totals(out_df: DataFrame) -> DataFrame:
    """Per-job aggregate metrics (reference A3/A6 —
    src/models/document_job.py:364-366, src/main.py:298-311)."""
    return out_df.agg(
        F.count("*").alias("documents"),
        F.sum("n_pages").alias("total_pages"),
        F.sum("image_tokens").alias("total_input_tokens"),
        F.sum(F.size("figures")).alias("images_extracted"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        F.lit(0.0).alias("total_cost"),  # dead metric kept for fidelity (A7)
    )
