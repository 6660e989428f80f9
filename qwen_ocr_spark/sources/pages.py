"""Deterministic synthetic ``pages`` corpus (Common-Crawl-style).

Schema per BASELINE.json ``input_hint``:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Every row is a pure function of ``(seed, doc_id)`` — generation is
embarrassingly parallel via ``spark.range(n).mapInPandas(...)``, so the same
corpus can be generated at any scale on any cluster with zero shuffle and no
driver-side materialization (the same property the 100 TB design needs).

Skew model (FIXTURES.md §1): a Zipf-like host distribution where one hot
domain holds ≈30% of documents — this is what the salted repartition in the
extraction pipeline exists to break.  ~85% of payloads are HTML built from
templates exercising every extractor rule (nav/header/footer chrome, link
farms, figures with bboxes, HTML tables, ordered lists, LaTeX, unicode);
~15% are PDFs produced by :func:`qwen_ocr_spark.sources.pdfgen.make_pdf`
(multi-page, headings, running headers, lists, figures, two-column).

The module also owns the documents → pages bridge behind the entry
module's extraction queries: ``_bridge_row`` gives each ``(doc_id, text)`` its
url, timestamp and closed-form HTML or PDF page, and ``extract_documents``
synthesizes and extracts those pages in one Python pass.  How the corpus
is encoded is decided here and in ``pdfgen`` only.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import html as html_mod
import random
from typing import Iterator

import pandas as pd

from qwen_ocr_spark.sources.pdfgen import ImageSpec, PageSpec, TextSpec, make_pdf

EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

HOSTS = (
    ["hot.example.com"] * 30
    + ["mid-a.example.org"] * 14 + ["mid-b.example.net"] * 14
    + ["s1.example.io"] * 8 + ["s2.example.dev"] * 8 + ["s3.example.co"] * 8
    + ["t1.example.ai"] * 6 + ["t2.example.app"] * 6 + ["t3.example.site"] * 6
)
LANGS = ["en"] * 6 + ["de", "fr", "es", "zh"]

WORDS = (
    "data spark query table column filter join window batch stream shuffle "
    "partition cluster schema vector token model layer training gradient "
    "throughput latency memory storage index scan merge sort hash agg"
).split()

UNICODE_SNIPPETS = ["naïve café — résumé", "模型 训练 数据", "größer äußerst", "½ × ¾ ≈ ⅜"]


def _rng(seed: int, doc_id: int) -> random.Random:
    h = hashlib.sha256(f"{seed}:{doc_id}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _sentence(r: random.Random, n: int) -> str:
    ws = [r.choice(WORDS) for _ in range(n)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _paragraph(r: random.Random) -> str:
    return " ".join(_sentence(r, r.randint(6, 14)) for _ in range(r.randint(2, 5)))


def _html_doc(r: random.Random, doc_id: int) -> tuple[str, str]:
    """Return (html, crawl_text).  crawl_text mimics a crawler's own plain
    text (page chrome included) — the held-out ``text`` column."""
    title = _sentence(r, r.randint(3, 6)).rstrip(".")
    paras = [_paragraph(r) for _ in range(r.randint(2, 8))]
    nav_items = "".join(
        f'<li><a href="/{w}">{w.capitalize()}</a></li>' for w in r.sample(WORDS, 4)
    )
    body: list[str] = [f"<nav><ul>{nav_items}</ul></nav>",
                       "<header><p>SyntheticSite daily crawl edition</p></header>",
                       "<article>", f"<h1>{html_mod.escape(title)}</h1>"]
    sections = r.randint(1, 3)
    fig_count = 0
    for s in range(sections):
        body.append(f"<h2>Section {s + 1} {r.choice(WORDS)}</h2>")
        for p in paras[s::sections]:
            body.append(f"<p>{html_mod.escape(p)}</p>")
        roll = r.random()
        if roll < 0.25:
            fig_count += 1
            x1, y1 = r.randint(0, 300), r.randint(0, 300)
            w, h = r.randint(250, 650), r.randint(250, 600)
            cap = f"Figure {fig_count}: {_sentence(r, 4).rstrip('.')}"
            body.append(
                f'<figure><img src="f{fig_count}.png" data-bbox="{x1},{y1},{min(x1 + w, 1000)},{min(y1 + h, 1000)}" '
                f'data-element-type="{r.choice(["chart", "graph", "diagram"])}"/>'
                f"<figcaption>{cap}</figcaption></figure>"
            )
        elif roll < 0.40:
            rows = "".join(
                f"<tr><td>{r.choice(WORDS)}</td><td>{r.randint(0, 99)}</td></tr>"
                for _ in range(r.randint(2, 5))
            )
            body.append(
                f"<p>Table {s + 1}: {_sentence(r, 3)}</p>"
                f"<table><thead><tr><th>name</th><th>value</th></tr></thead>"
                f"<tbody>{rows}</tbody></table>"
            )
        elif roll < 0.55:
            items = "".join(f"<li>{_sentence(r, 4)}</li>" for _ in range(r.randint(2, 5)))
            body.append(f"<ol>{items}</ol>")
        elif roll < 0.62:
            body.append(f"<p>The loss is $L = \\sum_i x_{{{doc_id % 7}}}^2$ "
                        f"and {_sentence(r, 8)}</p>")
        elif roll < 0.68:
            body.append(f"<p>{html_mod.escape(r.choice(UNICODE_SNIPPETS))} "
                        f"{html_mod.escape(_sentence(r, 9))}</p>")
    body.append("</article>")
    body.append('<aside><p><a href="/ads">Sponsored</a> <a href="/more">More</a></p></aside>')
    body.append('<footer><p>Copyright 2026 <a href="/tos">Terms</a></p></footer>')
    html = "<!doctype html><html><head><title>x</title></head><body>" + "".join(body) + "</body></html>"
    crawl_text = " ".join([title] + paras)
    return html, crawl_text


def _pdf_doc(r: random.Random, doc_id: int, max_pages: int = 14) -> tuple[bytes, str]:
    n_pages = r.randint(1, max_pages)
    title = _sentence(r, r.randint(3, 6)).rstrip(".")
    pages: list[PageSpec] = []
    all_text: list[str] = [title]
    for pn in range(1, n_pages + 1):
        texts: list[TextSpec] = []
        images: list[ImageSpec] = []
        y = 60.0
        if pn == 1:
            texts.append(TextSpec(72, y, 22, title))
            y += 60
        if n_pages >= 3:
            texts.append(TextSpec(72, 30, 9, "Synthetic Proceedings Vol. 7"))
        if r.random() < 0.5:
            sec = f"Section {pn} {r.choice(WORDS)}"
            texts.append(TextSpec(72, y, 16, sec))
            all_text.append(sec)
            y += 36
        for _ in range(r.randint(1, 3)):
            para = _paragraph(r)
            all_text.append(para)
            # wrap ~55 chars per line
            words, line = para.split(" "), ""
            for w in words:
                if len(line) + len(w) + 1 > 55:
                    texts.append(TextSpec(72, y, 12, line))
                    y += 16
                    line = w
                else:
                    line = (line + " " + w).strip()
            if line:
                texts.append(TextSpec(72, y, 12, line))
                y += 16
            y += 24
        if r.random() < 0.3 and y < 560:
            w, h = r.uniform(250, 420), r.uniform(160, 220)
            images.append(ImageSpec(90, y, w, h, r.choice(["chart", "diagram", "graph"])))
            y += h + 8
            cap = f"Figure 1: {_sentence(r, 4).rstrip('.')}"
            texts.append(TextSpec(90, y, 10, cap))
            all_text.append(cap)
            y += 30
        # a slice of docs is "scanned sideways": /Rotate 90 pages whose text
        # matrices counter-rotate (extraction is display-orientation
        # invariant, golden-tested)
        pages.append(PageSpec(texts=texts, images=images,
                              rotation=90 if doc_id % 19 == 0 else 0))
    # exercise the real-world encodings: most crawl PDFs FlateDecode their
    # streams, many emit TJ kerned arrays, hex string operands, PDF 1.5
    # xref streams, and object-stream packing; round 4 adds simple-font
    # /Encoding /Differences remapping, LZWDecode filters, PNG-predictored
    # streams, inline BI/ID/EI images, CID fonts whose text mapping
    # lives only in the embedded TrueType cmap (no /ToUnicode), and
    # RC4-encrypted files with empty passwords (permissions-only
    # encryption) — extraction is invariant to all eleven axes
    # (golden-tested)
    cid = doc_id % 17 == 0
    enc = None
    if doc_id % 7 != 0:  # writer doesn't combine encrypt with ObjStm
        if doc_id % 41 == 0:
            enc = "rc4-40"
        elif doc_id % 43 == 0:
            enc = "rc4-128"
        elif doc_id % 47 == 0:
            enc = "aes-128"
    return (
        make_pdf(pages, encrypt=enc,
                 compress=doc_id % 2 == 0, tj_arrays=doc_id % 3 == 0,
                 hex_strings=doc_id % 5 == 0, xref_stream=doc_id % 11 == 0,
                 object_streams=doc_id % 7 == 0,
                 tm_positioning=doc_id % 13 == 0,
                 cid_font=cid,
                 cid_tounicode=not (cid and doc_id % 2 == 1),
                 differences_encoding=doc_id % 23 == 0 and not cid,
                 lzw=doc_id % 29 == 0,
                 png_predictor=doc_id % 31 == 0,
                 inline_images=doc_id % 37 == 0),
        " ".join(all_text),
    )


def gen_page(seed: int, doc_id: int,
             profile: str = "default") -> tuple[str, dt.datetime, bytes, str, str]:
    """One pages-row as a pure function of (seed, doc_id).

    ``profile='heavy'`` skews toward large multi-page PDFs (50% PDF, up to
    30 pages) — used by the scaling benchmark so per-document compute
    dominates fixed per-job overhead."""
    r = _rng(seed, doc_id)
    host = r.choice(HOSTS)
    lang = r.choice(LANGS)
    ts = EPOCH + dt.timedelta(seconds=(doc_id * 137) % (86400 * 90))
    pdf_prob, max_pages = (0.5, 30) if profile == "heavy" else (0.15, 14)
    if r.random() < pdf_prob:
        payload, crawl_text = _pdf_doc(r, doc_id, max_pages)
        url = f"https://{host}/docs/{doc_id}.pdf"
    else:
        html, crawl_text = _html_doc(r, doc_id)
        payload = html.encode("utf-8")
        url = f"https://{host}/page/{doc_id}"
    return url, ts, payload, crawl_text, lang


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def synth_pages(spark, n_docs: int, seed: int = 42,
                partitions: int | None = None, profile: str = "default",
                start: int = 0):
    """Distributed deterministic corpus: spark.range → mapInPandas, no
    shuffle.  ``start`` offsets doc ids (urls are keyed by doc id, so
    disjoint ranges give disjoint urls — append scenarios)."""
    if partitions is None:
        partitions = max(4, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [gen_page(seed, int(i), profile) for i in b["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return (
        spark.range(start, start + n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


def write_pages(spark, path: str, n_docs: int, seed: int = 42,
                partitions: int | None = None, profile: str = "default") -> None:
    synth_pages(spark, n_docs, seed, partitions, profile) \
        .write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# documents → pages bridge (driver-testdata adapter)
# ---------------------------------------------------------------------------

def _bridge_html(doc_id: int, text: str) -> bytes:
    """Deterministic minimal page: nav/footer chrome + '# Doc {id}' + body.

    The extraction result is provably 'Doc {id}\\n{text}' (extracted_text),
    which is what lets __spark_entry__ give the FULL pipeline an exact SQL
    oracle."""
    t = html_mod.escape(text)
    return (
        "<!doctype html><html><head><title>d</title></head><body>"
        '<nav><ul><li><a href="/h">Home</a></li><li><a href="/a">About</a></li></ul></nav>'
        f"<article><h1>Doc {doc_id}</h1><p>{t}</p></article>"
        '<footer><p>Copyright 2026 <a href="/t">Terms</a></p></footer>'
        "</body></html>"
    ).encode("utf-8")


def _bridge_pdf(doc_id: int, text: str) -> bytes:
    """Same logical document as _bridge_html, as a PDF: 'Doc {id}' title at
    20pt + body wrapped at 55 chars/line, spilling to new pages at y>720."""
    pages: list[PageSpec] = [PageSpec(texts=[TextSpec(72, 60, 20, f"Doc {doc_id}")])]
    y = 120.0
    line = ""
    for w in text.split(" "):
        if len(line) + len(w) + 1 > 55:
            pages[-1].texts.append(TextSpec(72, y, 12, line))
            y += 16
            if y > 720:
                pages.append(PageSpec())
                y = 80.0
            line = w
        else:
            line = (line + " " + w).strip()
    if line:
        pages[-1].texts.append(TextSpec(72, y, 12, line))
    # deterministic encoding mix: the driver's extract_docs oracle therefore
    # exercises compressed, kerned, hex-string, xref-stream, object-stream,
    # Tm-positioned, /Differences-remapped, LZW'd and PNG-predictored PDFs
    # through the FULL pipeline.  /Differences needs a single-byte charset:
    # docs whose text exceeds that fall back to the plain font (the choice
    # is a pure function of (doc_id, text), so the oracle is unaffected)
    cid = doc_id % 35 == 0
    diff = doc_id % 38 == 0 and not cid and len(set(text)) <= 180
    return make_pdf(pages, compress=doc_id % 14 == 0, tj_arrays=doc_id % 21 == 0,
                    hex_strings=doc_id % 15 == 0, xref_stream=doc_id % 33 == 0,
                    object_streams=doc_id % 22 == 0,
                    tm_positioning=doc_id % 26 == 0,
                    cid_font=cid,
                    differences_encoding=diff,
                    lzw=doc_id % 46 == 0,
                    png_predictor=doc_id % 58 == 0)


def _bridge_fig_attrs(doc_id: int) -> tuple[tuple[int, int, int, int], str, str]:
    """Closed-form figure attributes for the figured bridge — the same
    arithmetic the extract_figures DuckDB oracle emits, so the FIGURE path
    of the real pipeline gets an exact value hash (VERDICT r1 task 3).
    Box is always bbox-valid and inside the [5%, 85%] area window:
    w in [400, 499], h in [350, 429] -> area in [140000, 214571]."""
    x1 = doc_id % 300
    y1 = (doc_id * 7) % 300
    x2 = x1 + 400 + doc_id % 100
    y2 = y1 + 350 + doc_id % 80
    etype = ("chart", "graph", "diagram")[doc_id % 3]
    return (x1, y1, x2, y2), etype, f"Figure 1: doc {doc_id}"


def _bridge_html_figured(doc_id: int, text: str) -> bytes:
    """_bridge_html plus exactly one deterministic <figure>."""
    t = html_mod.escape(text)
    (x1, y1, x2, y2), etype, caption = _bridge_fig_attrs(doc_id)
    return (
        "<!doctype html><html><head><title>d</title></head><body>"
        '<nav><ul><li><a href="/h">Home</a></li><li><a href="/a">About</a></li></ul></nav>'
        f"<article><h1>Doc {doc_id}</h1><p>{t}</p>"
        f'<figure><img src="f1.png" data-bbox="{x1},{y1},{x2},{y2}" '
        f'data-element-type="{etype}"/>'
        f"<figcaption>{caption}</figcaption></figure></article>"
        '<footer><p>Copyright 2026 <a href="/t">Terms</a></p></footer>'
        "</body></html>"
    ).encode("utf-8")


# every PDF_EVERY-th doc_id is bridged as a PDF page, the others as HTML
# (the extract_docs oracle assumes 7)
PDF_EVERY = 7


def _bridge_row(doc_id: int, text: str,
                figured: bool) -> tuple[str, dt.datetime, bytes]:
    """One document's bridge page as ``(url, warc_ts, payload)``: the
    figured HTML page when ``figured``, else a PDF for every
    ``PDF_EVERY``-th doc_id and HTML for the rest."""
    ts = EPOCH + dt.timedelta(seconds=doc_id)
    if figured:
        return (f"https://docs.example.com/fig/{doc_id}", ts,
                _bridge_html_figured(doc_id, text))
    if doc_id % PDF_EVERY == 0:
        return (f"https://docs.example.com/{doc_id}.pdf", ts,
                _bridge_pdf(doc_id, text))
    return (f"https://docs.example.com/{doc_id}", ts,
            _bridge_html(doc_id, text))


def extract_documents(docs_df, *, figured: bool = False,
                      columns: list[str] | None = None):
    """documents → out in ONE Python pass: the bridge payload is
    synthesized and extracted inside the same ``mapInPandas`` task, so the
    payload bytes never cross the JVM↔Python boundary at all (round 6).

    Row-identical to ``operators.extract.extract_pages`` over pages built
    from the same bridge rows (pinned by
    ``tests/test_pipeline.py::test_extract_documents_equals_extract_pages_over_bridge``):
    both run ``extract_rows``.  That composition ships every generated
    payload Python→JVM (Arrow), projects it, and ships it JVM→Python again
    for extraction: two full serializations of the corpus bytes plus an
    extra pandas materialization, for zero computational benefit (the
    noop-isolated generation pass alone cost as much as the whole fused
    pipeline).  ``extract_pages`` remains the operator for pages
    that exist as REAL data.  ``figured=True`` uses the figured-HTML
    bridge (one closed-form figure per document) — the extract_figures
    recipe.

    ``columns`` narrows the UDF's OUTPUT to the named ``OUT_SCHEMA``
    fields (any order; emitted in schema order).  A map node is opaque to
    Catalyst, so a downstream ``.select()`` cannot prune what the Python
    side serializes — every row would ship its full markdown, extracted
    text and figures through Arrow just to be dropped by the projection
    (column pruning, applied to the output side of the boundary).  The same
    parse still runs per document; only the emitted columns change, so a
    consumer selecting exactly ``columns`` gets rows identical to the
    full-schema path.  An empty list raises ``ValueError``."""
    # imported here, not at module level: the workers that only synthesize
    # pages (``synth_pages``) then never load the extraction kernels
    from qwen_ocr_spark.operators.extract import extract_rows, output_fields

    n = docs_df.sparkSession.sparkContext.defaultParallelism
    df = docs_df.select("doc_id", "text")
    # spread only when the scan under-parallelizes (the query testdata is
    # a single-partition parquet; a multi-file corpus already spreads):
    # don't pay an exchange the layout already provides
    if df.rdd.getNumPartitions() < n:
        df = df.repartition(n)
    out_columns, schema = output_fields(columns)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield extract_rows(
                (_bridge_row(int(doc_id), text, figured)
                 for doc_id, text in zip(b["doc_id"], b["text"])),
                out_columns)

    return df.mapInPandas(gen, schema=schema)
