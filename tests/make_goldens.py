"""Generate the golden fixture tree under tests/fixtures/.

Run once (``python tests/make_goldens.py``) and COMMIT the outputs; the
golden test (test_goldens.py) only ever reads the committed files, so a
behavior change in the extractor shows up as a byte diff, never as a
silently regenerated fixture.  One case per output-contract rule
(FIXTURES.md §3; contract source /root/reference/src/config.py:78-153).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from qwen_ocr_spark.functions.htmlx import (                     # noqa: E402
    decode_html_bytes,
    extract_html,
)
from qwen_ocr_spark.functions.pdfx import extract_pdf            # noqa: E402
from qwen_ocr_spark.sources.pdfgen import (                      # noqa: E402
    ImageSpec, PageSpec, TextSpec, make_pdf,
)

FIX = Path(__file__).resolve().parent / "fixtures"


def _lines(texts, x=72, y0=120, size=12, leading=16):
    return [TextSpec(x, y0 + i * leading, size, t) for i, t in enumerate(texts)]


def html_case(name: str, html: str) -> None:
    html_bytes_case(name, html.encode())


def html_bytes_case(name: str, payload: bytes) -> None:
    # same decode path production uses (charset sniffing included)
    _write(name, "input.html", payload, extract_html(decode_html_bytes(payload)))


def pdf_case(name: str, pages: list[PageSpec], **make_kw) -> None:
    data = make_pdf(pages, **make_kw)
    _write(name, "input.pdf", data, extract_pdf(data))


def _write(name: str, input_name: str, payload: bytes, res) -> None:
    d = FIX / name
    d.mkdir(parents=True, exist_ok=True)
    (d / input_name).write_bytes(payload)
    (d / "expected.md").write_bytes(res.markdown.encode("utf-8"))
    (d / "expected_text.txt").write_bytes(res.extracted_text.encode("utf-8"))
    figs = [
        {"page_number": f.page_number, "fig_number": f.fig_number,
         "bbox": list(f.bbox), "caption": f.caption,
         "element_type": f.element_type, "img_format": f.img_format}
        for f in res.figures
    ]
    (d / "expected_figures.json").write_text(json.dumps(figs, indent=1))
    print(f"{name}: md={len(res.markdown)}B text={len(res.extracted_text)}B figs={len(figs)}")


def main() -> None:
    html_case("headers_hierarchy", """<body><article>
<h1>Root</h1><p>Opening paragraph with several words of real content.</p>
<h2>Branch A</h2><p>Paragraph under branch A with enough words here.</p>
<h3>Leaf A1</h3><p>Deep leaf paragraph with some more words in it.</p>
<h2>Branch B</h2><p>Back up to level two with words to spare today.</p>
</article></body>""")

    html_case("html_table", """<body><article>
<p>Table 1: comparison of methods across datasets and seeds.</p>
<table border="1" class="x"><thead><tr><th colspan="2">grouped</th><th>single</th></tr></thead>
<tbody><tr><td rowspan="2">span</td><td>a</td><td>b</td></tr>
<tr><td>c</td><td>d</td></tr></tbody></table>
<p>Discussion of the table follows with several words here.</p>
</article></body>""")

    html_case("latex_math", """<body><article>
<p>Inline math $e^{i\\pi} + 1 = 0$ stays verbatim in the output text.</p>
<p>Display math follows here with all symbols kept: $$\\sum_{k=1}^n k = \\frac{n(n+1)}{2}$$ done.</p>
</article></body>""")

    html_case("figure_ref", """<body><article>
<p>The architecture is shown below with all of its components.</p>
<figure><img src="a.png" data-bbox="100,120,700,560" data-element-type="diagram"/>
<figcaption>Figure 1: System architecture</figcaption></figure>
<p>After the figure the text continues with more words here.</p>
</article></body>""")

    html_case("figure_area_filter", """<body><article>
<p>Three figures follow but only the middle one should survive.</p>
<figure><img src="tiny.png" data-bbox="0,0,120,120"/><figcaption>Figure 1: a tiny icon</figcaption></figure>
<figure><img src="ok.png" data-bbox="150,150,750,650" data-element-type="chart"/>
<figcaption>Figure 2: the real chart</figcaption></figure>
<figure><img src="huge.png" data-bbox="0,0,1000,990"/><figcaption>Figure 3: full page scan</figcaption></figure>
</article></body>""")

    html_case("bbox_bounds", """<body><article>
<p>A malformed figure bbox must not break the whole document here.</p>
<figure><img src="bad.png" data-bbox="700,100,100,500"/><figcaption>Figure 1: inverted</figcaption></figure>
<p>The document continues normally after the invalid figure block.</p>
</article></body>""")

    html_case("footnotes", """<body><article>
<p>A claim that needs support[^1] and another one[^2] in the same text.</p>
<p>[^1]: First footnote definition with explanatory words.</p>
<p>[^2]: Second footnote definition with more details here.</p>
</article></body>""")

    html_case("boilerplate_html", """<body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/shop">Shop</a></li><li><a href="/blog">Blog</a></li></ul></nav>
<header><p>MegaSite — your daily portal</p></header>
<div class="cookie"><p><a href="/accept">Accept cookies</a> <a href="/reject">Reject</a></p></div>
<article>
<h1>The Actual Article Title</h1>
<p>This is the genuine article body with plenty of words that a reader
actually came to this page to read about the topic.</p>
<p>A second paragraph continues the argument and adds more substance
to the discussion with even more words of content.</p>
</article>
<aside><p>Related: <a href="/a">story one</a> <a href="/b">story two</a></p></aside>
<footer><p>Copyright 2026 MegaSite <a href="/tos">Terms</a> <a href="/privacy">Privacy</a></p></footer>
</body>""")

    html_case("unicode_bytes", """<body><article>
<p>Accents café naïve résumé stay byte stable here.</p>
<p>CJK 模型训练 mixed with latin words in one line.</p>
<p>NBSP and combining é plus fractions ½ ¾ ⅔ survive.</p>
</article></body>""")

    html_case("empty_doc",
              "<body><nav><a href='/'>only chrome</a></nav>"
              "<footer><p><a href='/t'>t</a></p></footer></body>")

    pdf_case("pdf_xy_cut", [PageSpec(texts=[
        TextSpec(72, 50, 20, "A Two Column Paper Title Spanning The Whole Width"),
        *[TextSpec(72, 140 + i * 16, 12, f"left column line {i} alpha") for i in range(5)],
        *[TextSpec(330, 140 + i * 16, 12, f"right column line {i} beta") for i in range(5)],
    ])])

    pdf_case("continuous_flow", [
        PageSpec(texts=_lines(["The sentence begins on the first page and"], y0=700)),
        PageSpec(texts=_lines(["finishes on the second page without a break."], y0=80)),
    ])

    pdf_case("running_headers", [
        PageSpec(texts=[TextSpec(72, 40, 10, "Journal of Synthetic Results"),
                        *_lines(["Unique first page paragraph with enough words."], y0=120),
                        TextSpec(72, 740, 10, "CONFIDENTIAL DRAFT")]),
        PageSpec(texts=[TextSpec(72, 40, 10, "Journal of Synthetic Results"),
                        *_lines(["Unique second page paragraph with enough words."], y0=120),
                        TextSpec(72, 740, 10, "CONFIDENTIAL DRAFT")]),
        PageSpec(texts=[TextSpec(72, 40, 10, "Journal of Synthetic Results"),
                        *_lines(["Unique third page paragraph with enough words."], y0=120),
                        TextSpec(72, 740, 10, "CONFIDENTIAL DRAFT")]),
    ])

    pdf_case("list_continuation", [
        PageSpec(texts=_lines(["Steps to reproduce the result are listed below now:"], y0=100)
                 + _lines(["1. configure the cluster settings", "2. load the input data"], y0=160)),
        PageSpec(texts=_lines(["3. run the extraction job", "4. verify the digests match"], y0=80)),
    ])

    pdf_case("pdf_figure", [PageSpec(
        texts=[*_lines(["The throughput chart appears below this paragraph."], y0=80),
               TextSpec(72, 470, 10, "Figure 1: Throughput by executor count"),
               *_lines(["Analysis continues after the figure with more words."], y0=540)],
        images=[ImageSpec(90, 120, 380, 330, "chart")],
    )])

    html_bytes_case("charset_latin1", (
        '<html><head><meta http-equiv="Content-Type" '
        'content="text/html; charset=iso-8859-1"></head><body><article>'
        "<h1>Caf\xe9 r\xe9sum\xe9</h1>"
        "<p>Stra\xdfe and na\xefve words decoded from latin-1 correctly here.</p>"
        "</article></body></html>"
    ).encode("latin-1"))

    # FlateDecode-compressed streams (how real-crawl PDFs arrive) and TJ
    # kerned arrays must extract byte-identically to the plain encoding
    flate_spec = [PageSpec(
        texts=[TextSpec(72, 60, 20, "Compressed Stream Document Title"),
               *_lines(["Body paragraph inside a FlateDecode content stream.",
                        "Second line continues the same paragraph with words."], y0=140),
               TextSpec(90, 470, 10, "Figure 1: Compressed-figure caption")],
        images=[ImageSpec(90, 160, 380, 290, "diagram")],
    )]
    pdf_case("pdf_flate", flate_spec, compress=True)
    pdf_case("pdf_tj_arrays", flate_spec, tj_arrays=True)
    pdf_case("pdf_flate_tj", flate_spec, compress=True, tj_arrays=True)
    # PDF 1.5 structural variants (round 3): hex string operands, xref
    # stream instead of the classic table, and object-stream packing — the
    # encodings separating "parses its own output" from "parses most crawl
    # PDFs" (VERDICT r2 item 2)
    pdf_case("pdf_hex_strings", flate_spec, hex_strings=True)
    pdf_case("pdf_xref_stream", flate_spec, compress=True, xref_stream=True)
    pdf_case("pdf_objstm", flate_spec, compress=True, hex_strings=True,
             object_streams=True)
    pdf_case("pdf_tm_matrix", flate_spec, tm_positioning=True)
    pdf_case("pdf_cid_font", flate_spec, cid_font=True, compress=True)
    rot_spec = [PageSpec(texts=flate_spec[0].texts,
                         images=flate_spec[0].images, rotation=90)]
    pdf_case("pdf_rotate90", rot_spec, compress=True)
    # round 4: the remaining real-crawl structural axes (VERDICT r3 items
    # 2-3) — simple-font /Encoding /Differences remapping, LZWDecode
    # filters, PNG-predictored Flate streams, and inline BI/ID/EI images
    pdf_case("pdf_differences", flate_spec, differences_encoding=True,
             compress=True)
    diff_uni_spec = [PageSpec(texts=[
        TextSpec(72, 60, 20, "Accented Title — naïve café résumé"),
        *_lines(["Latin-1 text: größer äußerst façade ñandú.",
                 "Beyond Latin-1 via uniXXXX names: 模型 ½ × ¾."], y0=140)])]
    pdf_case("pdf_differences_unicode", diff_uni_spec,
             differences_encoding=True)
    # CID font with NO ToUnicode CMap: text recovered by reversing the
    # embedded TrueType program's format-4 cmap (the scanned/OCR layout)
    pdf_case("pdf_cid_no_tounicode", flate_spec, cid_font=True,
             cid_tounicode=False, compress=True)
    # round 5: the same no-ToUnicode layout with a name-keyed CFF program
    # (/FontFile3 /Subtype /Type1C) — text recovered by charset reversal
    pdf_case("pdf_cid_cff", flate_spec, cid_font=True,
             cid_tounicode=False, cid_cff=True, compress=True)
    # RC4-encrypted with empty passwords (permissions-only encryption):
    # decrypts via the Standard security handler, extraction invariant
    pdf_case("pdf_encrypted_rc4_40", flate_spec, encrypt="rc4-40",
             compress=True)
    pdf_case("pdf_encrypted_rc4_128", flate_spec, encrypt="rc4-128",
             compress=True)
    pdf_case("pdf_encrypted_aes_128", flate_spec, encrypt="aes-128",
             compress=True)
    pdf_case("pdf_lzw", flate_spec, lzw=True)
    pdf_case("pdf_predictor", flate_spec, compress=True, png_predictor=True)
    pdf_case("pdf_inline_images", flate_spec, inline_images=True,
             compress=True)

    pdf_case("pdf_table", [PageSpec(texts=[
        TextSpec(72, 160, 12, "Table 1: Latency by configuration and mode"),
        TextSpec(72, 220, 12, "config"), TextSpec(260, 220, 12, "p50"), TextSpec(420, 220, 12, "p99"),
        TextSpec(72, 236, 12, "small"), TextSpec(260, 236, 12, "12ms"), TextSpec(420, 236, 12, "40ms"),
        TextSpec(72, 252, 12, "large"), TextSpec(260, 252, 12, "30ms"), TextSpec(420, 252, 12, "95ms"),
    ])])


if __name__ == "__main__":
    main()
