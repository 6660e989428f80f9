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
  per core.  A one-task width is a ``coalesce(1)``, not a shuffle: one
  partition has no skew to break.
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

The row loop, ``extract_rows``, is public: ``sources.pages.extract_documents``
runs it over bridge payloads it synthesizes in the same task.  This module
imports only ``functions/`` and ``plans/``; it knows no source or sink.
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
from qwen_ocr_spark.plans.session import repartition_or_coalesce, task_count

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

# 130 DPI page-image token cost (reference cost model A1 —
# src/processing.py:100-102 at src/pdf_handler.py:11's DPI): tokens are
# computed from the page's MediaBox rendered at 130 DPI.
_DPI = 130.0
_PT_PER_IN = 72.0

# Input bytes (the planner's estimate of the pruned pages) per extraction
# task when ``extract_pages`` sizes its own shuffle.  Every partition costs
# about 0.2 CPU-s across a commit's stages (task deserialization, a Python
# worker round trip, one Parquet writer per output and figure file, the
# manifest read-back): a traced perfbench append_resume commit of 40 pages
# on 4 cores took 1.92 CPU-s in 4 tasks and 1.22 in 1.  128 KiB is about 110
# seeded pages, about 0.15 CPU-s of ``extract_rows`` work, so below it a
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


def output_fields(columns: list[str] | None) -> tuple[list[str], str]:
    """The ``OUT_SCHEMA`` fields named by ``columns`` (any order) in schema
    order, and their DDL schema; ``None`` names every field.  An empty or
    unknown name list raises ``ValueError``."""
    if columns is None:
        return _ALL_COLUMNS, OUT_SCHEMA
    if not columns:
        raise ValueError("columns=[] selects no output column; "
                         "pass None for the full schema")
    unknown = set(columns) - set(_ALL_COLUMNS)
    if unknown:
        raise ValueError(f"unknown output columns: {sorted(unknown)}")
    keep = set(columns)
    return ([c for c in _ALL_COLUMNS if c in keep],
            ", ".join(f"{c} {t}" for c, t in _OUT_FIELDS if c in keep))


def extract_rows(rows: Iterable[tuple], columns: list[str]) -> pd.DataFrame:
    """Extract each ``(url, warc_ts, payload)`` row into a frame of the
    named ``OUT_SCHEMA`` fields; a row whose extraction raises becomes an
    error record (never fails the task).  ``extract_pages`` runs it over
    real pages, ``sources.pages.extract_documents`` over bridge payloads
    it synthesizes in the same task."""
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
        yield extract_rows(zip(b["url"], b["warc_ts"], b["html"]),
                           _ALL_COLUMNS)


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
    without launching a Spark job.  A width of 1 plans ``coalesce(1)``
    instead (``plans.session.repartition_or_coalesce``): no exchange, the
    scan feeds the one extraction task."""
    df = pages_df
    if lang is not None:
        df = df.filter(F.col("lang") == lang)  # pushed to the scan
    df = df.select("url", "warc_ts", "html")   # column pruning: never read text
    if repartition:
        n = partitions or task_count(df, EXTRACT_TASK_BYTES)
        df = repartition_or_coalesce(df, n, n, F.xxhash64("url", F.lit(salt)))
    return df.mapInPandas(_extract_iter, schema=OUT_SCHEMA)


def figures_table(out_df: DataFrame) -> DataFrame:
    """Explode the nested figures into the side-output table
    figures(url, page_number, fig_number, bbox, caption, element_type,
    img_format, png) — the Spark analog of images/{page}_fig{n}.png
    (the reference's src/models/extracted_image.py:34-43).  ``inline``
    yields the ``FIGURE_FIELDS`` columns in their order."""
    return out_df.selectExpr("url", "inline(figures)")


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
