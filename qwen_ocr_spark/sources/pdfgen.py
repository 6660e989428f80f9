"""The PDF writer behind the synthetic corpus, the bridge and the fixtures.

``make_pdf`` serializes ``PageSpec`` pages into the subset
``functions/pdfx.py`` reads, one keyword per real-crawl encoding axis
(fonts and ciphers are synthesized here), each axis parse-invariant as
the goldens and the pdf tests pin.  The extraction path never imports
this module; the primitives both directions need (RC4, the AES S-box
and key schedule, the security handler's keys, the glyph table) stay in
``pdfx`` and are imported from it.
"""

from __future__ import annotations

import functools
import zlib
from dataclasses import dataclass, field

from qwen_ocr_spark import config
from qwen_ocr_spark.functions.pdfx import (
    _AES_SBOX, _GLYPH_TO_CHAR, _LENGTH_RE, _PDF_PAD, PAGE_H, PAGE_W,
    _aes_expand_key, _gmul, _obj_key, _rc4, _std_file_key, _std_user_check,
    _stream_span,
)


@dataclass
class TextSpec:
    x: float
    y: float          # top-left origin, distance from page TOP
    size: float
    text: str


@dataclass
class ImageSpec:
    x: float          # left, points
    y: float          # top, points (top-left origin)
    w: float
    h: float
    element_type: str = "other"


@dataclass
class PageSpec:
    texts: list[TextSpec] = field(default_factory=list)
    images: list[ImageSpec] = field(default_factory=list)
    width: float = PAGE_W    # DISPLAY dims: what the reader sees after
    height: float = PAGE_H   # the page's /Rotate is applied
    rotation: int = 0        # /Rotate 0 or 90 (writer); parser: 0/90/180/270


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _u16(v: int) -> bytes:
    return (v & 0xFFFF).to_bytes(2, "big")


def _u32(v: int) -> bytes:
    return (v & 0xFFFFFFFF).to_bytes(4, "big")


def _ttf_table_checksum(data: bytes) -> int:
    data += b"\0" * (-len(data) % 4)
    return sum(int.from_bytes(data[i:i + 4], "big")
               for i in range(0, len(data), 4)) & 0xFFFFFFFF


def _make_ttf(unicode_to_gid: dict[int, int]) -> bytes:
    """Minimal valid TrueType font carrying a format-4 ``cmap`` that maps
    each unicode code point to its glyph id (one segment per char + the
    required 0xFFFF terminator, gid via idDelta arithmetic), plus
    spec-complete ``head``/``maxp`` tables and a correct font-directory
    checksum chain (OpenType spec structures only — no outlines; the
    consumer here is cmap recovery for CID text extraction, not
    rasterization)."""
    codes = sorted(c for c in unicode_to_gid if 0 < c < 0xFFFF)
    segs = [(c, c, (unicode_to_gid[c] - c) & 0xFFFF) for c in codes]
    segs.append((0xFFFF, 0xFFFF, 1))  # required terminator
    n = len(segs)
    sel = max(0, n.bit_length() - 1)
    search = (1 << sel) * 2
    fmt4 = b"".join([
        _u16(4), _u16(16 + 8 * n), _u16(0),      # format, length, language
        _u16(n * 2), _u16(search), _u16(sel), _u16(n * 2 - search),
        b"".join(_u16(e) for _, e, _d in segs), _u16(0),   # endCodes, pad
        b"".join(_u16(s) for s, _e, _d in segs),           # startCodes
        b"".join(_u16(d) for _s, _e, d in segs),           # idDelta
        _u16(0) * n,                                       # idRangeOffset
    ])
    cmap = (_u16(0) + _u16(1)                  # version, one encoding record
            + _u16(3) + _u16(1) + _u32(12)     # (windows, BMP) at offset 12
            + fmt4)
    head = b"".join([
        _u32(0x00010000), _u32(0x00010000),    # version, fontRevision
        _u32(0),                               # checkSumAdjustment (patched)
        _u32(0x5F0F3CF5), _u16(0), _u16(1000),  # magic, flags, unitsPerEm
        b"\0" * 16,                            # created/modified
        _u16(0) * 4,                           # bbox
        _u16(0), _u16(8),                      # macStyle, lowestRecPPEM
        _u16(2), _u16(0), _u16(0),             # directionHint, locFmt, glyphFmt
    ])
    maxp = _u32(0x00010000) + _u16(max(unicode_to_gid.values(), default=0) + 1) \
        + _u16(0) * 13
    tables = [(b"cmap", cmap), (b"head", head), (b"maxp", maxp)]
    offset = 12 + 16 * len(tables)
    directory = b""
    body = b""
    head_off = None
    for tag, data in tables:
        if tag == b"head":
            head_off = offset + len(body)
        directory += tag + _u32(_ttf_table_checksum(data)) \
            + _u32(offset + len(body)) + _u32(len(data))
        body += data + b"\0" * (-len(data) % 4)
    nt = len(tables)
    sel = max(0, nt.bit_length() - 1)
    search = (1 << sel) * 16
    font = (_u32(0x00010000) + _u16(nt) + _u16(search) + _u16(sel)
            + _u16(nt * 16 - search) + directory + body)
    adj = (0xB1B0AFBA - _ttf_table_checksum(font)) & 0xFFFFFFFF
    return font[:head_off + 8] + _u32(adj) + font[head_off + 12:]


def _cff_make_index(items: list[bytes]) -> bytes:
    """CFF INDEX from items (4-byte offsets; empty INDEX is 2 bytes)."""
    if not items:
        return b"\x00\x00"
    out = len(items).to_bytes(2, "big") + b"\x04"
    off = 1
    offs = []
    for it in items:
        offs.append(off)
        off += len(it)
    offs.append(off)
    return out + b"".join(o.to_bytes(4, "big") for o in offs) \
        + b"".join(items)


def _make_cff(gid_to_name: dict[int, str]) -> bytes:
    """Minimal name-keyed CFF (Type1C) font program: a format-0 charset
    mapping each glyph id to a custom-string SID for its glyph name, a
    CharStrings INDEX of trivial endchar charstrings sized to the glyph
    count, and a Top DICT carrying the charset/CharStrings offsets —
    structurally what a LaTeX/dvips-era subset embedding contains, minus
    outlines (the consumer is charset reversal for text extraction)."""
    n = max(gid_to_name, default=0)
    names = [gid_to_name.get(g, f"g{g}") for g in range(1, n + 1)]
    name_index = _cff_make_index([b"SynthCFF"])
    string_index = _cff_make_index([nm.encode("latin-1") for nm in names])
    gsubr_index = b"\x00\x00"
    charset = b"\x00" + b"".join(
        (391 + i).to_bytes(2, "big") for i in range(len(names)))
    charstrings = _cff_make_index([b"\x0e"] * (n + 1))  # .notdef + glyphs

    def int5(v: int) -> bytes:
        return b"\x1d" + v.to_bytes(4, "big")

    top_len = 12  # two 5-byte ints + two 1-byte ops
    top_index_len = 2 + 1 + 8 + top_len
    header = b"\x01\x00\x04\x04"
    charset_off = (len(header) + len(name_index) + top_index_len
                   + len(string_index) + len(gsubr_index))
    charstrings_off = charset_off + len(charset)
    top_dict = int5(charset_off) + b"\x0f" + int5(charstrings_off) + b"\x11"
    assert len(top_dict) == top_len
    return (header + name_index + _cff_make_index([top_dict])
            + string_index + gsubr_index + charset + charstrings)


def _lzw_encode(data: bytes) -> bytes:
    """LZWDecode-compatible encoder (generator side, EarlyChange 1)."""
    out = bytearray()
    bitbuf, nbits = 0, 0
    width = 9
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256)
    w = b""
    for i in range(len(data)):
        c = data[i:i + 1]
        if w + c in table:
            w += c
            continue
        emit(table[w])
        if next_code >= (1 << 12) - 1:
            emit(256)  # table full: clear and restart both sides
            table = {bytes([i_]): i_ for i_ in range(256)}
            next_code, width = 258, 9
        else:
            table[w + c] = next_code
            next_code += 1
            # the encoder's table runs one entry AHEAD of the decoder's
            # (the decoder learns entry j while processing code j+1), so
            # widening here exactly when next_code reaches 1<<width is the
            # decoder's EarlyChange widen (len(table)+1 >= 1<<width)
            if next_code >= (1 << width) and width < 12:
                width += 1
        w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _png_predict_up(data: bytes, columns: int) -> bytes:
    """Generator side: apply the PNG Up filter (tag 2) row-wise.  The
    payload is padded with spaces to a whole row — harmless trailing
    whitespace in a content stream."""
    if len(data) % columns:
        data += b" " * (columns - len(data) % columns)
    out = bytearray()
    prev = bytes(columns)
    for at in range(0, len(data), columns):
        row = data[at:at + columns]
        out.append(2)
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(columns))
        prev = row
    return bytes(out)


@functools.cache
def _aes_te_tables() -> list[list[int]]:
    """32-bit encryption T-tables (the classic software AES) for the
    CBC-chained, inherently sequential encryptor, built on first use."""
    te = [[0] * 256 for _ in range(4)]
    for x in range(256):
        s = _AES_SBOX[x]
        w = (_gmul(s, 2) << 24) | (s << 16) | (s << 8) | _gmul(s, 3)
        for i in range(4):
            te[i][x] = ((w >> (8 * i)) | (w << (32 - 8 * i))) & 0xFFFFFFFF
    return te


def _aes_encrypt_block_fast(c0, c1, c2, c3, rkw):
    """One block through the T-table forward cipher; columns as 32-bit
    big-endian ints; returns the four output columns."""
    te0, te1, te2, te3 = _aes_te_tables()
    for rnd in range(1, 10):
        k = rkw[rnd]
        n0 = (te0[c0 >> 24] ^ te1[(c1 >> 16) & 0xFF]
              ^ te2[(c2 >> 8) & 0xFF] ^ te3[c3 & 0xFF] ^ k[0])
        n1 = (te0[c1 >> 24] ^ te1[(c2 >> 16) & 0xFF]
              ^ te2[(c3 >> 8) & 0xFF] ^ te3[c0 & 0xFF] ^ k[1])
        n2 = (te0[c2 >> 24] ^ te1[(c3 >> 16) & 0xFF]
              ^ te2[(c0 >> 8) & 0xFF] ^ te3[c1 & 0xFF] ^ k[2])
        n3 = (te0[c3 >> 24] ^ te1[(c0 >> 16) & 0xFF]
              ^ te2[(c1 >> 8) & 0xFF] ^ te3[c2 & 0xFF] ^ k[3])
        c0, c1, c2, c3 = n0, n1, n2, n3
    sb = _AES_SBOX
    k = rkw[10]
    return (((sb[c0 >> 24] << 24) | (sb[(c1 >> 16) & 0xFF] << 16)
             | (sb[(c2 >> 8) & 0xFF] << 8) | sb[c3 & 0xFF]) ^ k[0],
            ((sb[c1 >> 24] << 24) | (sb[(c2 >> 16) & 0xFF] << 16)
             | (sb[(c3 >> 8) & 0xFF] << 8) | sb[c0 & 0xFF]) ^ k[1],
            ((sb[c2 >> 24] << 24) | (sb[(c3 >> 16) & 0xFF] << 16)
             | (sb[(c0 >> 8) & 0xFF] << 8) | sb[c1 & 0xFF]) ^ k[2],
            ((sb[c3 >> 24] << 24) | (sb[(c0 >> 16) & 0xFF] << 16)
             | (sb[(c1 >> 8) & 0xFF] << 8) | sb[c2 & 0xFF]) ^ k[3])


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rkb = _aes_expand_key(key)
    rkw = [[int.from_bytes(bytes(k[4 * i:4 * i + 4]), "big")
            for i in range(4)] for k in rkb]
    pad = 16 - len(data) % 16
    data += bytes([pad]) * pad
    out = bytearray(iv)
    p0 = int.from_bytes(iv[0:4], "big")
    p1 = int.from_bytes(iv[4:8], "big")
    p2 = int.from_bytes(iv[8:12], "big")
    p3 = int.from_bytes(iv[12:16], "big")
    k0 = rkw[0]
    for i in range(0, len(data), 16):
        c0 = (int.from_bytes(data[i:i + 4], "big") ^ p0) ^ k0[0]
        c1 = (int.from_bytes(data[i + 4:i + 8], "big") ^ p1) ^ k0[1]
        c2 = (int.from_bytes(data[i + 8:i + 12], "big") ^ p2) ^ k0[2]
        c3 = (int.from_bytes(data[i + 12:i + 16], "big") ^ p3) ^ k0[3]
        p0, p1, p2, p3 = _aes_encrypt_block_fast(c0, c1, c2, c3, rkw)
        out += p0.to_bytes(4, "big") + p1.to_bytes(4, "big") \
            + p2.to_bytes(4, "big") + p3.to_bytes(4, "big")
    return bytes(out)


def _std_owner_entry(r: int, n: int) -> bytes:
    """Algorithm 3 /O entry for EMPTY owner and user passwords."""
    import hashlib
    h = hashlib.md5(_PDF_PAD).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    key = h[:n]
    o = _rc4(key, _PDF_PAD)
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


_CHAR_TO_GLYPH = {}
for _n, _c in _GLYPH_TO_CHAR.items():
    _CHAR_TO_GLYPH.setdefault(_c, _n)


def _glyph_name(ch: str) -> str:
    """Char → glyph name the generator writes into /Differences."""
    n = _CHAR_TO_GLYPH.get(ch)
    if n is not None:
        return n
    cp = ord(ch)
    return f"uni{cp:04X}" if cp <= 0xFFFF else f"u{cp:06X}"


def make_pdf(pages: list[PageSpec], compress: bool = False,
             tj_arrays: bool = False, hex_strings: bool = False,
             xref_stream: bool = False, object_streams: bool = False,
             tm_positioning: bool = False, cid_font: bool = False,
             cid_tounicode: bool = True, cid_cff: bool = False,
             differences_encoding: bool = False, lzw: bool = False,
             png_predictor: bool = False,
             inline_images: bool = False,
             encrypt: str | None = None) -> bytes:
    """Serialize PageSpecs into a well-formed PDF file.

    Encoding knobs, each matching a real-crawl prevalence axis and each
    parse-invariant (golden-tested):

    * ``compress`` — FlateDecode every stream (content + image), the way
      essentially all real PDFs do.
    * ``tj_arrays`` — text as kerned ``TJ`` arrays (``[(foo) -18 (bar)]
      TJ``) instead of plain ``Tj`` strings.
    * ``hex_strings`` — string operands as hex (``<48656C6C6F>``), common
      in generated/CID PDFs.
    * ``xref_stream`` — PDF 1.5: the cross-reference table is a binary
      ``/Type /XRef`` stream object (``/W [1 4 2]`` entries), not the
      classic ``xref`` table + ``trailer``.  Most post-2005 PDFs use this.
    * ``object_streams`` — PDF 1.5 (implies ``xref_stream``): every
      non-stream object (catalog, pages node, page dicts, font) is packed
      into one ``/Type /ObjStm`` stream, referenced by type-2 xref
      entries.
    * ``tm_positioning`` — position text via a ``Tm`` text matrix with the
      size baked into the scale (``/F1 1 Tf s 0 0 s x y Tm``) instead of
      ``Tf``-size + ``Td`` — how most PDF generators emit runs.
    * ``cid_font`` — a composite Type0 font (Identity-H encoding,
      CIDFontType2 descendant): string operands become 2-byte glyph-index
      hex strings mapped back to text by a ``/ToUnicode`` CMap (bfchar
      entries over the document's subset charset, glyph ids assigned by
      subset order exactly like real font subsetters) — the layout
      LibreOffice/Chrome-print/word-processor PDFs ship.
    * ``cid_tounicode=False`` (with ``cid_font``) — the same composite
      font WITHOUT a ``/ToUnicode`` CMap: instead an embedded TrueType
      program (``/FontDescriptor`` → ``/FontFile2``, a minimal real TTF
      with a format-4 ``cmap``) carries the unicode↔glyph mapping, and
      ``/CIDToGIDMap /Identity`` makes text recoverable by reversing it —
      the scanned/OCR-PDF layout where extraction must read the font
      itself.
    * ``cid_cff=True`` (with ``cid_font`` + ``cid_tounicode=False``) —
      the SAME no-ToUnicode layout but the embedded program is a
      name-keyed CFF (``/FontFile3`` ``/Subtype /Type1C``) whose charset
      carries uniXXXX glyph names — the other common subset embedding
      (LaTeX/dvips-era); extraction reverses the charset instead of a
      TTF cmap (round 5).
    * ``differences_encoding`` — a fully-remapped simple font: every char
      gets a custom single-byte code (assigned in charset order from
      0x21) declared by an indirect ``/Encoding`` object's
      ``/Differences`` array of AGL glyph names (uniXXXX for anything
      beyond Latin-1) — the classic legacy/LaTeX subset-font layout;
      string operands become hex strings of the remapped bytes.
      Mutually exclusive with ``cid_font``; at most 222 distinct chars.
    * ``lzw`` — streams are LZWDecode- instead of FlateDecode-compressed
      (the pre-1996 filter still common in old crawl PDFs); overrides
      ``compress`` for content/image/CMap streams.
    * ``png_predictor`` — content/image/CMap streams additionally run
      through the PNG Up row predictor (``/DecodeParms << /Predictor 12
      /Columns 64 >>``) before the compression filter (implies
      ``compress`` when neither ``compress`` nor ``lzw`` is set).
    * ``inline_images`` — images are emitted as inline ``BI … ID … EI``
      operators inside the content stream instead of image XObjects (the
      small-image form many generators use).
    * ``encrypt`` — ``"rc4-40"`` (V1/R2), ``"rc4-128"`` (V2/R3) or
      ``"aes-128"`` (V4/R4, /CFM /AESV2 — the Acrobat-7+ form):
      Standard security handler with EMPTY user and owner passwords (the
      common permissions-only crawl encryption): every stream payload is
      encrypted under the per-object key (AES-CBC with IV prefix and
      padding for aes-128), /Encrypt + /ID land in the
      trailer (or XRef dict).  Not combinable with ``object_streams``
      (the writer keeps the ObjStm path plaintext-only; the PARSER
      handles encrypted ObjStm regardless, decrypting before unpack).
    """
    if object_streams:
        xref_stream = True
    if cid_font and differences_encoding:
        raise ValueError("cid_font and differences_encoding are exclusive")
    if png_predictor and not (compress or lzw):
        compress = True
    objs: list[bytes] = []   # 1-indexed by position+1
    is_stream: list[bool] = []

    def add(body: bytes, stream: bool = False) -> int:
        objs.append(body)
        is_stream.append(stream)
        return len(objs)

    gid_of: dict[str, int] = {}
    code_of: dict[str, int] = {}
    charset: list[str] = []
    if cid_font or differences_encoding:
        charset = sorted(set("".join(
            t.text for spec in pages for t in spec.texts)))
    if cid_font:
        gid_of = {ch: i + 1 for i, ch in enumerate(charset)}  # 0 = .notdef
    if differences_encoding:
        if len(charset) > 222:  # codes 0x21..0xFF
            raise ValueError(
                "charset too large for a single-byte /Differences font")
        code_of = {ch: i + 0x21 for i, ch in enumerate(charset)}

    def pdf_str(s: str) -> str:
        if cid_font:
            return "<" + "".join(f"{gid_of[c]:04X}" for c in s) + ">"
        if differences_encoding:
            return "<" + bytes(code_of[c] for c in s).hex().upper() + ">"
        if hex_strings:
            return "<" + s.encode("latin-1", "replace").hex().upper() + ">"
        return f"({_esc(s)})"

    def stream_obj(dict_prefix: str, payload: bytes) -> bytes:
        filt = ""
        parms = ""
        if png_predictor:
            payload = _png_predict_up(payload, 64)
            parms = " /DecodeParms << /Predictor 12 /Columns 64 >>"
        if lzw:
            payload = _lzw_encode(payload)
            filt = " /Filter /LZWDecode" + parms
        elif compress:
            payload = zlib.compress(payload)
            filt = " /Filter /FlateDecode" + parms
        return (
            f"<< {dict_prefix}{filt} /Length {len(payload)} >>\nstream\n".encode()
            + payload + b"\nendstream"
        )

    def add_stream(dict_prefix: str, payload: bytes) -> int:
        return add(stream_obj(dict_prefix, payload), stream=True)

    if cid_font and not cid_tounicode:
        # no ToUnicode: the unicode↔gid mapping lives only in the embedded
        # TrueType program's cmap; extraction must reverse it (the
        # scanned/OCR-PDF layout)
        if cid_cff:
            cff = _make_cff({gid: f"uni{ord(ch):04X}"
                             for ch, gid in gid_of.items()})
            ff_num = add_stream("/Subtype /Type1C", cff)
            ff_entry, subtype = "FontFile3", "CIDFontType0"
        else:
            ttf = _make_ttf({ord(ch): gid for ch, gid in gid_of.items()})
            ff_num = add_stream(f"/Length1 {len(ttf)}", ttf)
            ff_entry, subtype = "FontFile2", "CIDFontType2"
        fd_num = add(
            f"<< /Type /FontDescriptor /FontName /SynthCID /Flags 4 "
            f"/FontBBox [0 0 1000 1000] /ItalicAngle 0 /Ascent 800 "
            f"/Descent -200 /CapHeight 700 /StemV 80 "
            f"/{ff_entry} {ff_num} 0 R >>".encode())
        desc_num = add(
            f"<< /Type /Font /Subtype /{subtype} /BaseFont /SynthCID "
            f"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            f"/Supplement 0 >> /FontDescriptor {fd_num} 0 R "
            f"/CIDToGIDMap /Identity >>".encode())
        font_num = add(
            f"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID "
            f"/Encoding /Identity-H /DescendantFonts [{desc_num} 0 R] "
            f">>".encode())
    elif cid_font:
        # ToUnicode CMap: one bfchar entry per subset glyph (dst = UTF-16BE)
        bfchars = "\n".join(
            f"<{gid:04X}> <{ord(ch):04X}>" for ch, gid in gid_of.items())
        cmap_payload = (
            "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
            "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            f"{len(gid_of)} beginbfchar\n{bfchars}\nendbfchar\n"
            "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
        ).encode()
        cmap_num = add_stream("", cmap_payload)
        desc_num = add(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Helvetica "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> /CIDToGIDMap /Identity >>")
        font_num = add(
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Helvetica "
            f"/Encoding /Identity-H /DescendantFonts [{desc_num} 0 R] "
            f"/ToUnicode {cmap_num} 0 R >>".encode())
    elif differences_encoding:
        # indirect /Encoding object (the shared-encoding layout real
        # writers emit); every code remapped so decoding MUST go through
        # the /Differences map
        names = " ".join("/" + _glyph_name(ch) for ch in charset)
        enc_num = add(
            f"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding "
            f"/Differences [ 33 {names} ] >>".encode())
        font_num = add(
            f"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            f"/Encoding {enc_num} 0 R >>".encode())
    else:
        font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    # reserve object numbers: we build pages after knowing the /Pages number,
    # so simply collect bodies and fix references in a second pass using
    # sequential numbering: font=1, then per page (image objs, content, page),
    # then Pages node, then Catalog.
    page_entries: list[int] = []
    for spec in pages:
        rot = spec.rotation % 360
        if rot not in (0, 90):
            raise ValueError("make_pdf supports /Rotate 0 or 90")
        img_names: list[tuple[str, int]] = []
        content_lines: list[str] = []
        for i, im in enumerate(spec.images, start=1):
            pixel_data = b"\x80" * 64
            etype = im.element_type if im.element_type in config.ELEMENT_TYPES else "other"
            if rot == 90:
                # display rect → user space under /Rotate 90 (dx = y_user,
                # dy = x_user): the rect transposes
                cm = (im.h, im.w, im.y, im.x)
            else:
                # top-left spec → bottom-left placement
                cm = (im.w, im.h, im.x, spec.height - (im.y + im.h))
            if inline_images:
                # BI … ID <raw samples> EI inside the content stream (the
                # small-image form; data length = W*H for 8-bit gray)
                content_lines.append(
                    f"q {cm[0]:.2f} 0 0 {cm[1]:.2f} {cm[2]:.2f} {cm[3]:.2f} cm "
                    f"BI /W 8 /H 8 /CS /G /BPC 8 /ElementType /{etype} ID\n"
                    + pixel_data.decode("latin-1") + "\nEI Q"
                )
                continue
            n = add_stream(
                "/Type /XObject /Subtype /Image /Width 8 /Height 8 "
                "/ColorSpace /DeviceGray /BitsPerComponent 8 "
                f"/ElementType /{etype}", pixel_data,
            )
            name = f"Im{i}"
            img_names.append((name, n))
            content_lines.append(
                f"q {cm[0]:.2f} 0 0 {cm[1]:.2f} {cm[2]:.2f} {cm[3]:.2f} cm /{name} Do Q"
            )
        for t in spec.texts:
            if tj_arrays and " " in t.text:
                # split at the middle space into a kerned two-element array
                mid = t.text.find(" ", len(t.text) // 2)
                if mid == -1:
                    mid = t.text.rfind(" ")
                a, b = t.text[:mid + 1], t.text[mid + 1:]
                shown = f"[{pdf_str(a)} -18 {pdf_str(b)}] TJ"
            else:
                shown = f"{pdf_str(t.text)} Tj"
            if rot == 90:
                # rotated pages pair /Rotate with inverse-rotated text
                # matrices so text displays horizontally (how scanned/
                # sideways PDFs are really written): Tm [0 s -s 0 e f]
                x_user = t.y + t.size  # display dy of the baseline
                y_user = t.x
                content_lines.append(
                    f"BT /F1 1 Tf 0 {t.size:g} {-t.size:g} 0 "
                    f"{x_user:.2f} {y_user:.2f} Tm {shown} ET"
                )
                continue
            y_base = spec.height - t.y - t.size  # baseline ~ size below top
            if tm_positioning:
                content_lines.append(
                    f"BT /F1 1 Tf {t.size:g} 0 0 {t.size:g} "
                    f"{t.x:.2f} {y_base:.2f} Tm {shown} ET"
                )
            else:
                content_lines.append(
                    f"BT /F1 {t.size:g} Tf {t.x:.2f} {y_base:.2f} Td {shown} ET"
                )
        # inline-image payloads are raw bytes living INSIDE the content
        # stream: latin-1 keeps them byte-exact (text operands are ASCII
        # on that path — hex-encoded or plain words)
        content = ("\n".join(content_lines) + "\n").encode(
            "latin-1" if inline_images else "utf-8", "replace")
        cnum = add_stream("", content)
        xobj = ""
        if img_names:
            xobj = " /XObject << " + " ".join(f"/{n} {num} 0 R" for n, num in img_names) + " >>"
        # MediaBox is USER-space dims: swapped vs the display dims for 90
        uw, uh = (spec.height, spec.width) if rot == 90 else (spec.width, spec.height)
        rot_entry = f" /Rotate {rot}" if rot else ""
        page_entries.append(add(
            f"<< /Type /Page /Parent {{PAGES}} 0 R /MediaBox [0 0 {uw:g} {uh:g}]{rot_entry} "
            f"/Contents {cnum} 0 R /Resources << /Font << /F1 {font_num} 0 R >>{xobj} >> >>".encode()
        ))
    kids = " ".join(f"{n} 0 R" for n in page_entries)
    pages_node_num = add(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_entries)} >>".encode()
    )
    catalog_num = add(f"<< /Type /Catalog /Pages {pages_node_num} 0 R >>".encode())

    trailer_extra = ""
    if encrypt:
        if encrypt not in ("rc4-40", "rc4-128", "aes-128"):
            raise ValueError(f"unknown encrypt mode {encrypt!r}")
        if object_streams:
            raise ValueError("encrypt + object_streams unsupported by the "
                             "writer (parser handles the combination)")
        import hashlib as _hl
        aes_ = encrypt == "aes-128"
        r_, n_ = {"rc4-40": (2, 5), "rc4-128": (3, 16),
                  "aes-128": (4, 16)}[encrypt]
        fid = _hl.md5(b"|".join(objs)).digest()
        o_val = _std_owner_entry(min(r_, 3), n_)
        p_ = -1
        fkey = _std_file_key(o_val, p_, fid, r_, n_)
        u_val = _std_user_check(fkey, fid, r_)
        if r_ >= 3:
            u_val += b"\x00" * 16  # R3+ compares 16 bytes; pad to 32
        length_ent = f" /Length {n_ * 8}" if r_ >= 3 else ""
        cf_ent = (" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
                  "/StmF /StdCF /StrF /StdCF" if aes_ else "")
        v_ = {2: 1, 3: 2, 4: 4}[r_]
        # stream=True keeps the dict loose (never ObjStm-packed): it must
        # be readable BEFORE any decryption
        enc_num = add(
            f"<< /Filter /Standard /V {v_} /R {r_}"
            f"{length_ent}{cf_ent} /O <{o_val.hex().upper()}> "
            f"/U <{u_val.hex().upper()}> /P {p_} >>".encode(), stream=True)
        for i in range(1, len(objs)):  # every stream except the dict itself
            if not is_stream[i - 1]:
                continue
            body = objs[i - 1]
            s_, ln_ = _stream_span(body, {})
            if aes_:
                iv = _hl.md5(fid + i.to_bytes(4, "big")).digest()
                ct = _aes_cbc_encrypt(_obj_key(fkey, i, aes=True), iv,
                                      body[s_:s_ + ln_])
                head = _LENGTH_RE.sub(b"/Length " + str(len(ct)).encode(),
                                      body[:s_], count=1)
                objs[i - 1] = head + ct + body[s_ + ln_:]
            else:
                objs[i - 1] = body[:s_] \
                    + _rc4(_obj_key(fkey, i), body[s_:s_ + ln_]) \
                    + body[s_ + ln_:]
        id_hex = f"<{fid.hex().upper()}>"
        trailer_extra = f" /Encrypt {enc_num} 0 R /ID [{id_hex} {id_hex}]"

    bodies = [b.replace(b"{PAGES}", str(pages_node_num).encode()) for b in objs]

    if not xref_stream:
        out = bytearray(b"%PDF-1.4\n")
        offsets = [0]
        for i, body in enumerate(bodies, start=1):
            offsets.append(len(out))
            out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_at = len(out)
        out += f"xref\n0 {len(objs) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += f"{off:010d} 00000 n \n".encode()
        out += (
            f"trailer\n<< /Size {len(objs) + 1} /Root {catalog_num} 0 R"
            f"{trailer_extra} >>\n"
            f"startxref\n{xref_at}\n%%EOF\n"
        ).encode()
        return bytes(out)

    # PDF 1.5 layout: optional ObjStm packing + binary cross-reference stream
    out = bytearray(b"%PDF-1.5\n")
    pack_nums = [i + 1 for i, s in enumerate(is_stream)
                 if not s] if object_streams else []
    packed = {n: idx for idx, n in enumerate(pack_nums)}
    offsets_m: dict[int, int] = {}
    for i, body in enumerate(bodies, start=1):
        if i in packed:
            continue
        offsets_m[i] = len(out)
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    objstm_num = 0
    if pack_nums:
        pairs, parts, cur = [], [], 0
        for n in pack_nums:
            b_ = bodies[n - 1]
            pairs.append(f"{n} {cur}")
            parts.append(b_ + b"\n")
            cur += len(b_) + 1
        hdr = (" ".join(pairs) + "\n").encode()
        payload = hdr + b"".join(parts)
        filt = ""
        if compress:
            payload = zlib.compress(payload)
            filt = " /Filter /FlateDecode"
        objstm_num = len(objs) + 1
        offsets_m[objstm_num] = len(out)
        out += (
            f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(pack_nums)} "
            f"/First {len(hdr)}{filt} /Length {len(payload)} >>\nstream\n"
        ).encode() + payload + b"\nendstream\nendobj\n"
    xref_num = len(objs) + (2 if pack_nums else 1)
    size = xref_num + 1
    xref_at = len(out)

    def entry(t: int, f2: int, f3: int) -> bytes:  # /W [1 4 2]
        return bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")

    rows = bytearray(entry(0, 0, 65535))
    for i in range(1, size):
        if i in packed:
            rows += entry(2, objstm_num, packed[i])
        elif i == xref_num:
            rows += entry(1, xref_at, 0)
        else:
            rows += entry(1, offsets_m[i], 0)
    payload = bytes(rows)
    filt = ""
    if compress:
        payload = zlib.compress(payload)
        filt = " /Filter /FlateDecode"
    out += (
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /W [1 4 2] "
        f"/Root {catalog_num} 0 R{trailer_extra}{filt} "
        f"/Length {len(payload)} >>\nstream\n"
    ).encode() + payload + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)
