"""PDF extraction path: parser, XY-cut reading order, layout semantics.

Covers the replacement core (BASELINE.json north_star) plus contract rules
inherited from the reference prompts (/root/reference/src/config.py:78-124):
heading reconstruction, two-column reading order, running header/footer
removal, sentence merge across pages, list continuation, figure refs +
area filter, table as HTML."""

import re

import pytest

from qwen_ocr_spark.functions.pdfx import extract_pdf, parse_pdf
from qwen_ocr_spark.sources.pdfgen import (
    ImageSpec,
    PageSpec,
    TextSpec,
    make_pdf,
)


def _body_lines(texts, x=72, y0=120, size=12, leading=16):
    return [TextSpec(x, y0 + i * leading, size, t) for i, t in enumerate(texts)]


def test_roundtrip_runs():
    pdf = make_pdf([PageSpec(texts=[TextSpec(72, 100, 12, "hello (world) \\ back")])])
    pages = parse_pdf(pdf)
    assert len(pages) == 1
    assert pages[0].runs[0].text == "hello (world) \\ back"
    assert abs(pages[0].runs[0].y - 100) < 0.5


def test_not_a_pdf_is_empty():
    assert parse_pdf(b"<html>nope</html>") == []
    r = extract_pdf(b"%PDF-1.4 garbage")
    assert r.markdown == ""


def test_heading_levels_by_font_size():
    page = PageSpec(texts=[
        TextSpec(72, 60, 24, "The Title"),
        TextSpec(72, 130, 18, "Section One"),
        *_body_lines([
            "Body text first line of the opening paragraph here.",
            "and the second line continues the same paragraph.",
        ], y0=180),
    ])
    r = extract_pdf(make_pdf([page]))
    md = r.markdown.split("\n\n")
    assert md[0] == "# The Title"
    assert md[1] == "## Section One"
    assert md[2].startswith("Body text first line")
    # lines merged into one paragraph, single space
    assert "here. and the second" in md[2]


def test_two_column_reading_order():
    # narrow columns: left x=72, right x=330; title spans both
    left = [TextSpec(72, 140 + i * 16, 12, f"left{i} alpha beta") for i in range(4)]
    right = [TextSpec(330, 140 + i * 16, 12, f"right{i} gamma delta") for i in range(4)]
    title = TextSpec(72, 50, 20, "A Spanning Document Title Across Both Columns")
    r = extract_pdf(make_pdf([PageSpec(texts=[title, *left, *right])]))
    text = r.extracted_text
    assert text.index("left0") < text.index("left3") < text.index("right0")
    assert text.index("A Spanning Document Title") < text.index("left0")


def test_running_headers_removed():
    def page(n):
        return PageSpec(texts=[
            TextSpec(72, 40, 10, "ACME Quarterly Report"),
            *_body_lines([f"Unique content paragraph for page {n} with words."], y0=120),
            TextSpec(72, 740, 10, f"Page {n} footer note"),
        ])
    r = extract_pdf(make_pdf([page(1), page(2), page(3)]))
    assert "ACME Quarterly Report" not in r.markdown
    assert "Unique content paragraph for page 2" in r.markdown
    # non-repeated footers survive the running filter (but may fail word count)


def test_sentence_merge_across_pages():
    p1 = PageSpec(texts=_body_lines([
        "The training procedure converges quickly when the learning",
    ], y0=700))
    p2 = PageSpec(texts=_body_lines([
        "rate is annealed according to a cosine schedule over time.",
    ], y0=80))
    r = extract_pdf(make_pdf([p1, p2]))
    assert "when the learning rate is annealed" in r.markdown
    # no page markers, no double blank lines
    assert "Page" not in r.markdown
    assert "\n\n\n" not in r.markdown


def test_list_continuation_across_pages():
    p1 = PageSpec(texts=_body_lines([
        "The recipe proceeds in the following numbered order today:",
    ], y0=100) + _body_lines(["1. mix the dry ingredients", "2. add the wet ingredients"], y0=160))
    p2 = PageSpec(texts=_body_lines(["3. bake at two hundred degrees", "4. cool before serving"], y0=80))
    r = extract_pdf(make_pdf([p1, p2]))
    assert "1. mix the dry ingredients" in r.markdown
    assert "2. add the wet ingredients" in r.markdown
    assert "3. bake at two hundred degrees" in r.markdown
    assert "4. cool before serving" in r.markdown


def test_figure_extraction_caption_and_area():
    page = PageSpec(texts=[
        *_body_lines(["The results are summarized in the figure shown below."], y0=80),
        TextSpec(72, 480, 10, "Figure 1: Throughput versus cluster size"),
        *_body_lines(["Discussion continues after the figure with more words."], y0=560),
    ], images=[
        ImageSpec(x=100, y=120, w=350, h=330, element_type="chart"),   # ~25% kept
        ImageSpec(x=500, y=20, w=40, h=30, element_type="other"),      # tiny, dropped
    ])
    r = extract_pdf(make_pdf([page]))
    assert len(r.figures) == 1
    f = r.figures[0]
    assert f.element_type == "chart"
    assert f.fig_number == 1
    assert f.caption == "Figure 1: Throughput versus cluster size"
    assert "![Figure 1: Throughput versus cluster size](1_fig1.png)" in r.markdown
    # figure ref appears after the intro paragraph, before the discussion
    idx_intro = r.markdown.index("summarized in the figure")
    idx_fig = r.markdown.index("![Figure 1")
    idx_disc = r.markdown.index("Discussion continues")
    assert idx_intro < idx_fig < idx_disc


def test_table_detected_as_html():
    rows = [
        ("Model", "Accuracy", "Latency"),
        ("small", "0.91", "12ms"),
        ("large", "0.97", "45ms"),
    ]
    texts = [TextSpec(72, 200, 12, "Table 1: Model comparison summary table")]
    for i, row in enumerate(rows):
        y = 260 + i * 16
        texts += [TextSpec(72, y, 12, row[0]), TextSpec(250, y, 12, row[1]), TextSpec(420, y, 12, row[2])]
    r = extract_pdf(make_pdf([PageSpec(texts=texts)]))
    assert "<table><tr><th>Model</th><th>Accuracy</th><th>Latency</th></tr>" in r.markdown
    assert "<tr><td>small</td><td>0.91</td><td>12ms</td></tr>" in r.markdown
    assert "Table 1: Model comparison" in r.markdown
    assert "|" not in r.markdown  # never pipe tables


def test_header_breadcrumb_fold_multi_batch():
    # 12 pages → two batches of 10; heading structure folds across them
    pages = []
    pages.append(PageSpec(texts=[
        TextSpec(72, 60, 24, "Root Title"),
        *_body_lines(["Opening paragraph with enough words to be content."], y0=140),
    ]))
    for n in range(2, 12):
        pages.append(PageSpec(texts=_body_lines(
            [f"Filler page {n} paragraph with sufficiently many words."], y0=100)))
    pages.append(PageSpec(texts=[
        TextSpec(72, 60, 18, "Late Section"),
        *_body_lines(["Closing paragraph with enough words to be content."], y0=140),
    ]))
    r = extract_pdf(make_pdf(pages))
    assert r.header_stack == [(1, "# Root Title"), (2, "## Late Section")]
    assert "# Root Title" in r.markdown
    assert "## Late Section" in r.markdown


def test_determinism():
    page = PageSpec(texts=[
        TextSpec(72, 60, 24, "Det Title"),
        *_body_lines(["Deterministic body paragraph with several words here."], y0=140),
    ], images=[ImageSpec(100, 200, 300, 300, "diagram")])
    pdf = make_pdf([page])
    a, b = extract_pdf(pdf), extract_pdf(pdf)
    assert a.markdown == b.markdown
    assert a.extracted_text == b.extracted_text
    assert [f.bbox for f in a.figures] == [f.bbox for f in b.figures]


def test_flate_and_tj_invariance():
    """Compressed streams and TJ kerned arrays extract byte-identically to
    the plain encoding — the real-crawl PDF contract."""
    spec = [PageSpec(
        texts=[TextSpec(72, 60, 20, "Invariant Title Words Here"),
               *_body_lines(["first paragraph line with several words",
                             "second line of the same paragraph here"], y0=140),
               TextSpec(90, 470, 10, "Figure 1: invariant caption")],
        images=[ImageSpec(90, 160, 380, 290, "chart")],
    )]
    base = extract_pdf(make_pdf(spec))
    # every combination of the six real-crawl encoding axes parses to the
    # byte-identical document: FlateDecode, TJ kerned arrays, hex string
    # operands, PDF 1.5 xref streams, object streams, Tm positioning
    import itertools
    for compress, tj, hexs, xs, objstm, tm in itertools.product([False, True], repeat=6):
        kw = dict(compress=compress, tj_arrays=tj, hex_strings=hexs,
                  xref_stream=xs, object_streams=objstm, tm_positioning=tm)
        other = extract_pdf(make_pdf(spec, **kw))
        assert other.extracted_text == base.extracted_text, kw
        assert other.markdown == base.markdown, kw
        assert [(f.page_number, f.fig_number, f.bbox, f.caption, f.element_type)
                for f in other.figures] == \
               [(f.page_number, f.fig_number, f.bbox, f.caption, f.element_type)
                for f in base.figures], kw
    # compressed image payload inflates back to the raw samples + format tag
    pages = parse_pdf(make_pdf(spec, compress=True))
    (bbox, etype, fmt, raw) = pages[0].images[0]
    assert raw == b"\x80" * 64 and fmt == "gray8:8x8"


def test_corrupt_flate_stream_is_error_channel():
    pdf = bytearray(make_pdf([PageSpec(texts=[TextSpec(72, 100, 12, "x y z words")])],
                             compress=True))
    i = pdf.find(b"stream\n") + len(b"stream\n")
    pdf[i:i + 4] = b"\x00\x00\x00\x00"  # corrupt the zlib header
    r = extract_pdf(bytes(pdf))
    assert r.markdown == ""  # empty doc, never an exception


def test_cid_font_tounicode_roundtrip():
    """Composite Type0/Identity-H fonts: operands are 2-byte glyph indices
    with NO plaintext in the file; text is recovered solely through the
    /ToUnicode CMap — and stays invariant across the other encoding axes."""
    import itertools
    spec = [PageSpec(
        texts=[TextSpec(72, 60, 20, "Invariant Title Words Here"),
               TextSpec(72, 140, 12, "first paragraph line with (escaped) words"),
               TextSpec(90, 470, 10, "Figure 1: invariant caption")],
        images=[ImageSpec(90, 160, 380, 290, "chart")],
    )]
    base = extract_pdf(make_pdf(spec))
    pdf = make_pdf(spec, cid_font=True)
    assert b"/Identity-H" in pdf and b"beginbfchar" in pdf
    assert b"Invariant" not in pdf  # really glyph-encoded, not plaintext
    for compress, tj, objstm, tm in itertools.product([False, True], repeat=4):
        r = extract_pdf(make_pdf(spec, cid_font=True, compress=compress,
                                 tj_arrays=tj, object_streams=objstm,
                                 tm_positioning=tm))
        assert r.extracted_text == base.extracted_text
        assert r.markdown == base.markdown
    # bfrange form decodes too: map a doubled file through a crafted range
    from qwen_ocr_spark.functions.pdfx import _parse_tounicode
    cm = _parse_tounicode(
        b"1 beginbfrange\n<0001> <0003> <0041>\nendbfrange\n"
        b"1 beginbfchar\n<0010> <00470048>\nendbfchar\n")
    assert cm[1] == "A" and cm[3] == "C" and cm[0x10] == "GH"


def test_pdf15_structure_is_real():
    """The 1.5 variants aren't just parseable by THIS parser: the file
    actually carries an xref stream / object stream (no classic 'xref'
    table), so external tooling sees a structurally honest PDF 1.5."""
    spec = [PageSpec(texts=[TextSpec(72, 100, 12, "alpha beta gamma")])]
    pdf = make_pdf(spec, object_streams=True, compress=True)
    assert pdf.startswith(b"%PDF-1.5")
    assert b"\nxref\n" not in pdf and b"trailer" not in pdf
    assert b"/Type /XRef" in pdf and b"/Type /ObjStm" in pdf
    assert b"/Type /Catalog" not in pdf  # catalog packed inside the ObjStm
    # startxref points exactly at the XRef stream object
    import re as _re
    at = int(_re.search(rb"startxref\n(\d+)\n%%EOF", pdf).group(1))
    assert _re.match(rb"\d+ 0 obj\n<< /Type /XRef", pdf[at:at + 40])
    assert parse_pdf(pdf)[0].runs[0].text == "alpha beta gamma"


def test_indirect_length_reference():
    """/Length as an indirect 'N 0 R' reference (what most real writers
    emit) resolves against the object table."""
    base = make_pdf([PageSpec(texts=[TextSpec(72, 100, 12, "alpha beta gamma")])])
    import re as _re
    m = _re.search(rb"(\d+) 0 obj\n<<  /Length (\d+) >>", base)
    assert m, "content stream object not found"
    next_num = max(int(n) for n in _re.findall(rb"(\d+) 0 obj", base)) + 1
    patched = base.replace(
        b"<<  /Length " + m.group(2) + b" >>",
        b"<<  /Length " + str(next_num).encode() + b" 0 R >>", 1)
    # append the length object after the last endobj (scan-based discovery
    # doesn't need the xref to be consistent)
    insert_at = patched.rfind(b"endobj\n") + len(b"endobj\n")
    patched = (patched[:insert_at]
               + f"{next_num} 0 obj\n{int(m.group(2))}\nendobj\n".encode()
               + patched[insert_at:])
    assert parse_pdf(patched)[0].runs[0].text == "alpha beta gamma"


def test_indirect_length_multidigit_ref_number():
    """Regression: '/Length 50 0 R' must NOT backtrack-match '5' as a
    direct length (the old (?!\\s+0\\s+R) lookahead admitted the digit
    prefix, truncating the stream and corrupting the object scan)."""
    base = make_pdf([PageSpec(texts=[TextSpec(72, 100, 12, "alpha beta gamma")])])
    import re as _re
    m = _re.search(rb"(\d+) 0 obj\n<<  /Length (\d+) >>", base)
    assert m
    ref_num = 50  # deliberately multi-digit with a digit prefix ending in 0
    patched = base.replace(
        b"<<  /Length " + m.group(2) + b" >>",
        b"<<  /Length " + str(ref_num).encode() + b" 0 R >>", 1)
    insert_at = patched.rfind(b"endobj\n") + len(b"endobj\n")
    patched = (patched[:insert_at]
               + f"{ref_num} 0 obj\n{int(m.group(2))}\nendobj\n".encode()
               + patched[insert_at:])
    assert parse_pdf(patched)[0].runs[0].text == "alpha beta gamma"


def test_differences_encoding_structure_and_decode():
    """The /Differences variant is structurally honest (indirect /Encoding
    object, every code remapped — a naive latin-1 decode would yield
    garbage) and decodes byte-identically, including non-Latin-1 chars via
    uniXXXX glyph names."""
    text = "naïve café — résumé 模型 ½ × ¾"
    spec = [PageSpec(texts=[TextSpec(72, 100, 12, text)])]
    pdf = make_pdf(spec, differences_encoding=True)
    assert b"/Differences [ 33 " in pdf and b"/eacute" in pdf
    assert b"/uni6A21" in pdf  # 模
    assert re.search(rb"/Encoding \d+ 0 R", pdf)  # indirect encoding obj
    assert text.encode("latin-1", "ignore") not in pdf  # remapped, not raw
    assert parse_pdf(pdf)[0].runs[0].text == text
    # precedence/conflict guard
    with pytest.raises(ValueError):
        make_pdf(spec, differences_encoding=True, cid_font=True)


def test_differences_inline_encoding_dict():
    """An INLINE /Encoding << … /Differences [...] >> dict (the other form
    real writers emit) decodes the same as the indirect object."""
    spec = [PageSpec(texts=[TextSpec(72, 100, 12, "café bills")])]
    pdf = make_pdf(spec, differences_encoding=True)
    m = re.search(rb"(\d+) 0 obj\n(<< /Type /Encoding .*? >>)\nendobj\n", pdf, re.S)
    assert m, "indirect encoding object not found"
    enc_num, enc_dict = m.group(1), m.group(2)
    inlined = pdf.replace(b"/Encoding " + enc_num + b" 0 R",
                          b"/Encoding " + enc_dict)
    assert parse_pdf(inlined)[0].runs[0].text == "café bills"


def test_lzw_and_predictor_streams_are_real():
    """The LZW variant actually tags /LZWDecode (no Flate anywhere) and
    the predictor variant carries /DecodeParms — external tooling sees
    structurally honest filters; both extract identically to plain."""
    spec = [PageSpec(texts=[TextSpec(72, 100, 12, "alpha beta gamma delta")])]
    plain = parse_pdf(make_pdf(spec))[0].runs[0].text
    lzw_pdf = make_pdf(spec, lzw=True)
    assert b"/LZWDecode" in lzw_pdf and b"/FlateDecode" not in lzw_pdf
    assert b"alpha beta" not in lzw_pdf  # genuinely compressed
    assert parse_pdf(lzw_pdf)[0].runs[0].text == plain
    pred_pdf = make_pdf(spec, compress=True, png_predictor=True)
    assert b"/DecodeParms << /Predictor 12 /Columns 64 >>" in pred_pdf
    assert parse_pdf(pred_pdf)[0].runs[0].text == plain


def test_inline_images_extracted_as_figures():
    """BI/ID/EI inline images carry no XObject; the parser recovers bbox,
    element type, and the raw samples, and binary payload bytes never
    corrupt the surrounding text scan."""
    spec = [PageSpec(texts=[TextSpec(72, 100, 12, "text before image"),
                            TextSpec(72, 560, 12, "text after image")],
                     images=[ImageSpec(90, 200, 300, 250, "graph")])]
    pdf = make_pdf(spec, inline_images=True)
    assert b"BI /W 8 /H 8" in pdf and b"/XObject" not in pdf
    via_xobj = parse_pdf(make_pdf(spec))
    via_inline = parse_pdf(pdf)
    assert [r.text for r in via_inline[0].runs] == [r.text for r in via_xobj[0].runs]
    assert [(i[0], i[1], i[2], i[3]) for i in via_inline[0].images] == \
           [(i[0], i[1], i[2], i[3]) for i in via_xobj[0].images]


def test_encrypted_pdf_routes_typed_error():
    """/Encrypt in the trailer (classic) or XRef stream dict (1.5) raises
    the typed EncryptedPdfError — the error channel records WHY instead of
    an accidental empty parse."""
    from qwen_ocr_spark.functions.pdfx import EncryptedPdfError
    spec = [PageSpec(texts=[TextSpec(72, 100, 12, "secret words")])]
    # the referenced object must RESOLVE to a /Filter dict (r5: an
    # unresolvable /Encrypt ref no longer reroutes — see false-positive
    # test below), so the fixture appends a real non-Standard handler dict
    edict = b"\n90 0 obj\n<< /Filter /FooHandler /V 1 >>\nendobj\n"
    pdf = make_pdf(spec)
    enc = pdf.replace(b"trailer\n<< /Size",
                      b"trailer\n<< /Encrypt 90 0 R /Size") + edict
    with pytest.raises(EncryptedPdfError):
        parse_pdf(enc)
    pdf15 = make_pdf(spec, xref_stream=True)
    enc15 = pdf15.replace(b"<< /Type /XRef /Size",
                          b"<< /Type /XRef /Encrypt 90 0 R /Size") + edict
    with pytest.raises(EncryptedPdfError):
        parse_pdf(enc15)
    # and the extraction UDF maps it into the error column
    from qwen_ocr_spark.operators.extract import _extract_iter
    import pandas as pd
    out = list(_extract_iter(iter([pd.DataFrame(
        {"url": ["https://x/enc.pdf"], "warc_ts": [None], "html": [enc]})])))[0]
    assert out["error"][0].startswith("EncryptedPdfError:")
    assert out["markdown"][0] is None


def test_encrypt_lookalike_text_is_not_rerouted():
    """An UNCOMPRESSED stream whose payload contains the literal text
    ``trailer << /Encrypt n 0 R >>`` must not reroute a plaintext document
    to the encrypted channel (ADVICE r4): the referenced object either
    doesn't resolve or resolves to a stream, so _is_encrypted says no and
    the document parses normally."""
    pdf = make_pdf([PageSpec(texts=[TextSpec(72, 100, 12, "plain words")])])
    # unresolvable reference
    decoy = (b"\n95 0 obj\n<< /Length 40 >>\nstream\n"
             b"trailer << /Encrypt 999 0 R >> startxref\nendstream\nendobj\n")
    pages = parse_pdf(pdf + decoy)
    assert len(pages) == 1 and any(
        "plain words" in r.text for r in pages[0].runs)
    # reference that hits a real STREAM object (content stream carries
    # /Filter /FlateDecode) — still not an encrypt dict
    decoy2 = (b"\n96 0 obj\n<< /Length 40 >>\nstream\n"
              b"trailer << /Encrypt 4 0 R >> startxref\nendstream\nendobj\n")
    pages2 = parse_pdf(pdf + decoy2)
    assert len(pages2) == 1 and any(
        "plain words" in r.text for r in pages2[0].runs)


def test_literal_string_balanced_parens_and_backslash():
    """_pdf_string_value scans literal strings with paren-depth + escape
    tracking (ISO 32000 §7.3.4.2), not a first-unescaped-')' regex: legal
    balanced unescaped parens and a backslash-escaped ')' inside binary
    /O //U key material must not truncate (ADVICE r4)."""
    from qwen_ocr_spark.functions.pdfx import _pdf_string_value
    assert _pdf_string_value(b" (ab(cd)ef) tail") == b"ab(cd)ef"
    assert _pdf_string_value(b"(a\\)b(c)d)") == b"a)b(c)d"
    # trailing backslash-escaped ')' mid-string (binary key material form)
    assert _pdf_string_value(b"(k\\\\e\\)y)") == b"k\\e)y"
    # unterminated → None, never a truncated prefix
    assert _pdf_string_value(b"(never closed (deep)") is None
    # hex path unchanged
    assert _pdf_string_value(b" <4142 43> x") == b"ABC"


def test_lzw_roundtrip_and_known_widths():
    """LZW codec: identity round-trips across the 9→10→11→12-bit width
    boundaries and a table clear; decoder tolerates truncation."""
    from qwen_ocr_spark.functions.pdfx import _lzw_decode
    from qwen_ocr_spark.sources.pdfgen import _lzw_encode
    import random
    rng = random.Random(7)
    for n in (0, 1, 257, 5000, 60000):
        data = bytes(rng.randrange(256) for _ in range(n // 2)) + b"ab" * (n - n // 2 >> 1)
        assert _lzw_decode(_lzw_encode(data)) == data
    enc = _lzw_encode(b"abcabcabc")
    assert _lzw_decode(enc[:3]) in (b"", b"a", b"ab", b"abc")  # never raises


def test_hex_string_oddities():
    """Whitespace inside hex strings and an odd digit count (spec: pad a
    trailing zero) both decode."""
    from qwen_ocr_spark.functions.pdfx import _hex_str
    assert _hex_str("48 65 6C\n6C 6F") == "Hello"
    assert _hex_str("486") == "H`"  # odd length pads to 0x48 0x60


def test_contents_array_concatenation():
    """A /Contents [a 0 R b 0 R] page (common in real PDFs) parses as the
    concatenation of its streams."""
    base = make_pdf([PageSpec(texts=[TextSpec(72, 100, 12, "alpha beta gamma")])])
    # hand-split the single content stream into a two-element array form
    import re as _re
    m = _re.search(rb"/Contents (\d+) 0 R", base)
    assert m
    # build an equivalent doc manually: same object, array reference
    doubled = base.replace(
        b"/Contents " + m.group(1) + b" 0 R",
        b"/Contents [" + m.group(1) + b" 0 R]")
    assert parse_pdf(doubled)[0].runs[0].text == "alpha beta gamma"


def test_stream_bytes_matching_obj_markers_do_not_corrupt():
    """Entropy-coded stream payloads can contain 'endobj' / 'N 0 obj' byte
    sequences; the stream-aware object scan must neither truncate the
    object nor register phantom objects that shadow real ones."""
    spec = [PageSpec(texts=[TextSpec(72, 100, 12, "alpha beta gamma")],
                     images=[ImageSpec(90, 160, 380, 290, "chart")])]
    pdf = make_pdf(spec)
    evil = b"\x00endobj\n2 0 obj\n<< /Type /Pages /Kids [] >>\nendobj\x00\x00"
    assert len(evil) <= 64
    evil = evil + b"\x80" * (64 - len(evil))
    assert b"\x80" * 64 in pdf
    poisoned = pdf.replace(b"\x80" * 64, evil, 1)
    pages = parse_pdf(poisoned)
    assert pages and pages[0].runs[0].text == "alpha beta gamma"
    # the figure still parses and carries the poisoned payload verbatim
    (bbox, etype, fmt, raw) = pages[0].images[0]
    assert raw == evil and etype == "chart"


def test_rotated_page_90_extracts_identically():
    """/Rotate 90 + inverse-rotated text matrices (how sideways/scanned
    PDFs are written): display-space extraction — text, reading order,
    heading levels, figure bboxes, captions — matches the unrotated page."""
    spec_kw = dict(
        texts=[TextSpec(72, 60, 20, "Rotated Document Title Here"),
               *_body_lines(["first paragraph line with several words",
                             "second line of the same paragraph here"], y0=140),
               TextSpec(90, 470, 10, "Figure 1: rotated caption")],
        images=[ImageSpec(90, 160, 380, 290, "chart")],
    )
    base = extract_pdf(make_pdf([PageSpec(**spec_kw)]))
    rot_pdf = make_pdf([PageSpec(**spec_kw, rotation=90)])
    assert b"/Rotate 90" in rot_pdf
    got = extract_pdf(rot_pdf)
    assert got.extracted_text == base.extracted_text
    assert got.markdown == base.markdown
    assert [(f.bbox, f.caption, f.element_type) for f in got.figures] == \
           [(f.bbox, f.caption, f.element_type) for f in base.figures]
    # the parser reports DISPLAY page dims (swapped vs the MediaBox)
    pages = parse_pdf(rot_pdf)
    assert (pages[0].width, pages[0].height) == (612.0, 792.0)
    assert b"/MediaBox [0 0 792 612]" in rot_pdf


def _raw_one_page_pdf(content: bytes, page_extra: str) -> bytes:
    """Minimal hand-built one-page PDF for parser-only cases."""
    objs = [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        f"<< /Type /Page /Parent 4 0 R /MediaBox [0 0 612 792]{page_extra} "
        f"/Contents 2 0 R /Resources << /Font << /F1 1 0 R >> >> >>".encode(),
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 4 0 R >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs)+1}\n".encode() + b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs)+1} /Root 5 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def test_rotated_pages_180_and_270():
    """Parser-side coverage of the remaining rotations: text placed with
    the matching inverse-rotated Tm lands at the expected display spot."""
    # 180: display (72, 100, s=12) → user origin (612-72, 100+12), Tm [-s 0 0 -s]
    c180 = b"BT /F1 1 Tf -12 0 0 -12 540.00 112.00 Tm (alpha beta gamma) Tj ET\n"
    p = parse_pdf(_raw_one_page_pdf(c180, " /Rotate 180"))[0]
    assert p.runs[0].text == "alpha beta gamma"
    assert abs(p.runs[0].x - 72) < 0.5 and abs(p.runs[0].y - 100) < 0.5
    assert (p.width, p.height) == (612.0, 792.0)
    # 270: display point (dx, dy): dx = uh - y_user, dy = uw - x_user
    # → user (612 - 112, 792 - 72) for display (72, 100+12); Tm [0 -s s 0]
    c270 = b"BT /F1 1 Tf 0 -12 12 0 500.00 720.00 Tm (alpha beta gamma) Tj ET\n"
    p = parse_pdf(_raw_one_page_pdf(c270, " /Rotate 270"))[0]
    assert p.runs[0].text == "alpha beta gamma"
    assert abs(p.runs[0].x - 72) < 0.5 and abs(p.runs[0].y - 100) < 0.5
    assert (p.width, p.height) == (792.0, 612.0)
    # a run whose NET orientation is not display-horizontal is skipped,
    # never misplaced: vertical text on an unrotated page
    cvert = b"BT /F1 1 Tf 0 12 -12 0 100.00 100.00 Tm (sideways text) Tj ET\n"
    assert parse_pdf(_raw_one_page_pdf(cvert, ""))[0].runs == []


def test_mixed_simple_and_cid_fonts_per_page():
    """Two fonts on one page — /F1 simple Type1, /F2 composite Type0 with a
    ToUnicode CMap: each BT decodes by the font its Tf selected."""
    cmap_stream = (b"2 beginbfchar\n<0001> <0048>\n<0002> <0049>\nendbfchar\n")
    content = (b"BT /F1 12 Tf 72.00 600.00 Td (plain words here) Tj ET\n"
               b"BT /F2 12 Tf 72.00 560.00 Td <00010002> Tj ET\n")
    objs = [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length " + str(len(cmap_stream)).encode() + b" >>\nstream\n"
        + cmap_stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /Identity-H"
        b" /ToUnicode 2 0 R >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Page /Parent 6 0 R /MediaBox [0 0 612 792] /Contents 4 0 R"
        b" /Resources << /Font << /F1 1 0 R /F2 3 0 R >> >> >>",
        b"<< /Type /Pages /Kids [5 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 6 0 R >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 8 /Root 7 0 R >>\nstartxref\n0\n%%EOF\n"
    runs = parse_pdf(bytes(out))[0].runs
    texts = [r.text for r in sorted(runs, key=lambda r: r.y)]
    assert texts == ["plain words here", "HI"]


def test_cid_font_no_tounicode_roundtrip():
    """Type0 font with NO /ToUnicode: text recovered by reversing the
    embedded TrueType program's cmap under /CIDToGIDMap /Identity (the
    scanned/OCR-PDF layout).  Exercised across plain, compressed and
    ObjStm-packed containers."""
    pages = [PageSpec(texts=[TextSpec(72, 700, 12, "Héllo CID wörld"),
                             TextSpec(72, 650, 12, "second line no cmap")])]
    want = ["Héllo CID wörld", "second line no cmap"]
    for kw in ({}, {"compress": True}, {"object_streams": True}):
        pdf = make_pdf(pages, cid_font=True, cid_tounicode=False, **kw)
        assert b"/ToUnicode" not in pdf and b"/FontFile2" in pdf
        got = [r.text for r in parse_pdf(pdf)[0].runs]
        assert got == want, (kw, got)


def test_cid_font_cff_charset_roundtrip():
    """Type0 font with NO /ToUnicode whose embedded program is a
    name-keyed CFF (/FontFile3 /Subtype /Type1C): text recovered by
    reversing the charset table (gid → uniXXXX glyph name → char) —
    the LaTeX/dvips-era subset embedding, the other common layout
    poppler handled for the reference
    (/root/reference/src/pdf_handler.py:44-55)."""
    pages = [PageSpec(texts=[TextSpec(72, 700, 12, "Héllo CFF wörld"),
                             TextSpec(72, 650, 12, "second line 模型")])]
    want = ["Héllo CFF wörld", "second line 模型"]
    for kw in ({}, {"compress": True}, {"object_streams": True}):
        pdf = make_pdf(pages, cid_font=True, cid_tounicode=False,
                       cid_cff=True, **kw)
        assert b"/ToUnicode" not in pdf and b"/FontFile3" in pdf \
            and b"/FontFile2" not in pdf
        got = [r.text for r in parse_pdf(pdf)[0].runs]
        assert got == want, (kw, got)
    # extraction is embedding-invariant: CFF == TTF-cmap == ToUnicode
    a = extract_pdf(make_pdf(pages, cid_font=True, cid_tounicode=False,
                             cid_cff=True, compress=True))
    b = extract_pdf(make_pdf(pages, cid_font=True, cid_tounicode=False))
    c = extract_pdf(make_pdf(pages, cid_font=True))
    assert a == b == c


def test_cff_charset_formats_and_standard_strings():
    """_cff_gid_to_name on hand-built CFFs: format-1 range charsets and
    standard-string SIDs (1..95 = ASCII glyph-name order) resolve; a
    CID-keyed font (Top DICT /ROS) honestly returns {}."""
    from qwen_ocr_spark.functions.pdfx import _cff_gid_to_name
    from qwen_ocr_spark.sources.pdfgen import _cff_make_index, _make_cff

    def build(charset: bytes, n_glyphs: int, extra_top: bytes = b"") -> bytes:
        header = b"\x01\x00\x04\x04"
        name_index = _cff_make_index([b"T"])
        string_index = b"\x00\x00"
        gsubr = b"\x00\x00"
        top_len = 12 + len(extra_top)
        top_index_len = 2 + 1 + 8 + top_len
        cs_off = (len(header) + len(name_index) + top_index_len
                  + len(string_index) + len(gsubr))
        chstr_off = cs_off + len(charset)
        top = (b"\x1d" + cs_off.to_bytes(4, "big") + b"\x0f"
               + b"\x1d" + chstr_off.to_bytes(4, "big") + b"\x11"
               + extra_top)
        return (header + name_index + _cff_make_index([top]) + string_index
                + gsubr + charset
                + _cff_make_index([b"\x0e"] * n_glyphs))

    # format 1: one range starting at SID 34 ('A'), 3 glyphs → A, B, C
    cs = b"\x01" + (34).to_bytes(2, "big") + bytes([2])
    got = _cff_gid_to_name(build(cs, 4))
    assert got == {1: "A", 2: "B", 3: "C"}
    # format 0 with standard SIDs: 'space'(1), 'a'(66)
    cs0 = b"\x00" + (1).to_bytes(2, "big") + (66).to_bytes(2, "big")
    assert _cff_gid_to_name(build(cs0, 3)) == {1: "space", 2: "a"}
    # CID-keyed (ROS operator 12 30 with three operands) → {}
    ros = b"\x8b\x8b\x8b\x0c\x1e"  # 0 0 0 ROS
    assert _cff_gid_to_name(build(cs0, 3, extra_top=ros)) == {}
    # writer output parses (smoke for _make_cff custom strings)
    assert _cff_gid_to_name(_make_cff({1: "uni4E2D"})) == {1: "uni4E2D"}


def test_cid_font_no_mapping_at_all_is_skipped():
    """Type0 with neither /ToUnicode nor a usable FontFile2: the run is
    skipped (error-channel semantics), never mojibake."""
    pdf = make_pdf([PageSpec(texts=[TextSpec(72, 700, 12, "gone")])],
                   cid_font=True, cid_tounicode=False)
    # sever the font-program link: the descendant keeps /FontDescriptor
    # but the descriptor loses /FontFile2
    patched = pdf.replace(b"/FontFile2", b"/FontFileX", 1)
    assert [r.text for r in parse_pdf(patched)[0].runs] == []


def test_ttf_cmap_subtable_formats():
    """_ttf_unicode_to_gid understands the cmap subtable forms real fonts
    ship: format 4 via idRangeOffset/glyphIdArray (not just the idDelta
    arithmetic _make_ttf emits), format 6 trimmed arrays, and format 12
    segmented coverage."""
    from qwen_ocr_spark.functions.pdfx import _ttf_unicode_to_gid
    from qwen_ocr_spark.sources.pdfgen import (_ttf_table_checksum, _u16,
                                               _u32)

    def wrap(subtable: bytes, pid: int = 3, eid: int = 1) -> bytes:
        cmap = _u16(0) + _u16(1) + _u16(pid) + _u16(eid) + _u32(12) + subtable
        directory = (b"cmap" + _u32(_ttf_table_checksum(cmap)) + _u32(28)
                     + _u32(len(cmap)))
        return _u32(0x00010000) + _u16(1) + _u16(16) + _u16(0) + _u16(0) \
            + directory + cmap

    # format 4, one segment 0x41..0x43 mapped through glyphIdArray to
    # gids 7,9,8 (non-contiguous — idDelta alone cannot express this)
    n = 2  # data segment + 0xFFFF terminator
    fmt4 = b"".join([
        _u16(4), _u16(16 + 8 * n + 6), _u16(0), _u16(n * 2),
        _u16(4), _u16(1), _u16(0),
        _u16(0x43), _u16(0xFFFF), _u16(0),       # endCodes + pad
        _u16(0x41), _u16(0xFFFF),                # startCodes
        _u16(0), _u16(1),                        # idDelta
        # idRangeOffset: seg0 points 4 bytes ahead (past seg1's slot) into
        # the glyphIdArray; seg1 unused
        _u16(4), _u16(0),
        _u16(7), _u16(9), _u16(8),               # glyphIdArray
    ])
    assert _ttf_unicode_to_gid(wrap(fmt4)) == {0x41: 7, 0x42: 9, 0x43: 8}

    fmt6 = _u16(6) + _u16(10 + 6) + _u16(0) + _u16(0x61) + _u16(3) \
        + _u16(5) + _u16(0) + _u16(6)            # gid 0 entries are absent
    assert _ttf_unicode_to_gid(wrap(fmt6)) == {0x61: 5, 0x63: 6}

    fmt12 = _u32(0x000C0000)[:2] + _u16(0) + _u32(16 + 12) + _u32(0) \
        + _u32(1) + _u32(0x1F600) + _u32(0x1F602) + _u32(40)
    assert _ttf_unicode_to_gid(wrap(fmt12, 3, 10)) == {
        0x1F600: 40, 0x1F601: 41, 0x1F602: 42}

    assert _ttf_unicode_to_gid(b"garbage") == {}


def test_literal_string_octal_and_continuation_escapes():
    """PDF literal-string escapes beyond the named set: 1-3 digit octal
    codes (how legacy writers emit every non-ASCII Latin-1 byte) and
    backslash-EOL line continuation.  End-to-end through parse_pdf."""
    from qwen_ocr_spark.functions.pdfx import _unescape_pdf_string
    assert _unescape_pdf_string(r"caf\351 na\357ve") == "café naïve"
    assert _unescape_pdf_string(r"\050paren\051 \134") == "(paren) \\"
    assert _unescape_pdf_string("split\\\nline") == "splitline"
    assert _unescape_pdf_string("split\\\r\nline") == "splitline"
    assert _unescape_pdf_string(r"\0501") == "(1"     # 3-digit stops at 3
    assert _unescape_pdf_string(r"\53") == "+"        # 2-digit octal

    # end-to-end: swap the literal for an equal-LENGTH escaped form so the
    # uncompressed stream's /Length stays valid
    base = make_pdf([PageSpec(texts=[TextSpec(72, 700, 12, "PLACEHOLDER")])])
    repl = rb"(caf\351 \50)"
    assert len(repl) == len(b"(PLACEHOLDER)")
    patched = base.replace(b"(PLACEHOLDER)", repl)
    runs = parse_pdf(patched)[0].runs
    assert runs[0].text == "café ("


def test_encrypted_rc4_empty_password_decrypts():
    """Standard-security-handler RC4 (40/128-bit) AND AES-128 (V4/AESV2)
    with an empty user password — the common permissions-only crawl
    encryption — decrypt and parse normally, across stacked encoding
    variants."""
    pages = [PageSpec(texts=[TextSpec(72, 700, 12, "Secret heading text"),
                             TextSpec(72, 650, 12, "encrypted body line")])]
    want = ["Secret heading text", "encrypted body line"]
    for mode in ("rc4-40", "rc4-128", "aes-128"):
        for kw in ({}, {"compress": True},
                   {"xref_stream": True, "compress": True},
                   {"cid_font": True}, {"lzw": True}):
            pdf = make_pdf(pages, encrypt=mode, **kw)
            assert b"/Encrypt" in pdf and b"Secret" not in pdf
            got = [r.text for r in parse_pdf(pdf)[0].runs]
            assert got == want, (mode, kw, got)


def test_encrypted_pdf_out_of_subset_routes_typed_error():
    """A real (non-empty) user password and AES-era handlers still route
    to the typed error channel, with the reason recorded."""
    import re as _re
    from qwen_ocr_spark.functions.pdfx import EncryptedPdfError
    pdf = make_pdf([PageSpec(texts=[TextSpec(72, 700, 12, "x")])],
                   encrypt="rc4-40")
    bad_u = _re.sub(rb"/U <[0-9A-F]+>", b"/U <" + b"00" * 32 + b">", pdf)
    with pytest.raises(EncryptedPdfError, match="password"):
        parse_pdf(bad_u)
    with pytest.raises(EncryptedPdfError, match="AES"):
        parse_pdf(pdf.replace(b"/V 1 /R 2", b"/V 4 /R 4"))


def test_aes_core_matches_fips197():
    """The pure-python AES-128 cipher (generated S-box) must match the
    FIPS-197 Appendix C.1 test vector exactly — conformance, not just
    self-round-trip."""
    from qwen_ocr_spark.functions.pdfx import _aes_cbc_decrypt
    from qwen_ocr_spark.sources.pdfgen import _aes_cbc_encrypt
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    # the T-table encryptor and the vectorized decryptor hit the vector:
    # a zero IV makes the first CBC block pure ECB
    enc = _aes_cbc_encrypt(key, bytes(16), pt)
    assert enc[16:32] == ct
    # the literal block, then the encryptor's padding block
    assert _aes_cbc_decrypt(key, bytes(16) + ct + enc[32:]) == pt
    data = b"stream content of non-block-multiple length.."
    assert _aes_cbc_decrypt(key, _aes_cbc_encrypt(key, bytes(16), data)) == data
    assert _aes_cbc_decrypt(key, b"short") == b""  # malformed, not fatal


def _png_filter(rows: list[bytes], tag: int, bpp: int) -> bytes:
    """Forward PNG row filter (PNG spec §9.2), one ``tag`` for every row:
    the encoder side of ``pdfx._png_unpredict``."""
    out = bytearray()
    prev = bytes(len(rows[0]))
    for row in rows:
        out.append(tag)
        for i, x in enumerate(row):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if tag == 0:
                pred = 0
            elif tag == 1:
                pred = a
            elif tag == 2:
                pred = b
            elif tag == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            out.append((x - pred) & 0xFF)
        prev = row
    return bytes(out)


@pytest.mark.parametrize("colors", [1, 3])
@pytest.mark.parametrize("tag", [0, 1, 2, 3, 4])
def test_png_unpredict_reverses_every_filter(tag, colors):
    """``make_pdf`` only emits the Up filter, so the None/Sub/Average/Paeth
    branches of the /DecodeParms predictor are pinned here: random rows
    encoded with each filter tag decode back to the input exactly.  Two
    rows in three draw from 0-3 only, which makes Paeth's tie cases
    common: the predictor must prefer a over b over c, as the encoder
    does."""
    import random

    from qwen_ocr_spark.functions.pdfx import _png_unpredict

    rng = random.Random(tag * 10 + colors)
    columns = 24
    rows = [bytes(rng.randrange(256 if y % 3 == 0 else 4)
                  for _ in range(columns * colors))
            for y in range(12)]
    encoded = _png_filter(rows, tag, bpp=colors)
    assert _png_unpredict(encoded, columns, colors=colors) == b"".join(rows)
