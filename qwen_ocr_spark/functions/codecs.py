"""Pure-stdlib media codecs: PNG, BMP, PGM images; WAV, AU, AIFF audio.

No production path decodes media: the pipeline takes text from HTML and
PDF directly and never rasterizes.  These decoders remain as a tested
stand-alone library for the formats that need nothing beyond
``zlib``/``wave``/``struct`` + numpy:

* PNG  — 1/2/4/8/16-bit depth, color types 0 (gray) / 2 (RGB) /
         3 (palette, with tRNS alpha) / 4 (gray+alpha) / 6 (RGBA), all
         five scanline filters, sequential or Adam7-interlaced;
         spec-invalid depth/type combinations raise
         ``UnsupportedVariant``.  The Paeth predictor is shared with the
         PDF stream decoder (``pdfx._paeth``).
* BMP  — uncompressed 24-bit BI_RGB, bottom-up or top-down.
* PGM  — binary P5, maxval <= 255.
* WAV  — PCM via the stdlib ``wave`` module (8/16/32-bit).
* AU / AIFF / AIFC — PCM 8/16/24/32-bit plus G.711 mu-law for AU;
  AIFF-C NONE/sowt.

Encoders exist for each image format and WAV (deterministic bytes) so
tests can round-trip without external fixtures.

Images decode to ``np.uint8`` arrays of shape (h, w) or (h, w, channels);
``to_gray`` folds channels with the integer mean (deterministic, no float
luma ambiguity across engines).
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

from qwen_ocr_spark.functions.pdfx import _paeth

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


class UnsupportedVariant(ValueError):
    """A format this module decodes in general, but a variant it doesn't
    (a spec-invalid PNG depth/type pair, a compressed AIFF-C, ...) —
    callers map this to their stub seam rather than treating it as data
    corruption."""


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

# Adam7 pass grid: (x0, y0, dx, dy) per pass
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _defilter(raw: bytes, pos: int, w: int, h: int, fu: int
              ) -> tuple[np.ndarray, int]:
    """Defilter ``h`` scanlines of ``w * fu`` bytes each (``fu`` = filter
    unit: channels x bytes-per-sample — the "left" pixel distance the PNG
    filters operate on) starting at ``raw[pos]``.  Returns the recovered
    byte rows (h, w*fu) and the new position."""
    stride = w * fu
    if len(raw) - pos < h * (stride + 1):
        raise ValueError("PNG data truncated")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[pos]
        line = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if f == 0:
            pass
        elif f == 1:    # Sub: + left
            for i in range(fu, stride):
                line[i] = (line[i] + line[i - fu]) & 0xFF
        elif f == 2:    # Up: + above
            line = bytearray((np.frombuffer(bytes(line), np.uint8)
                              + prev).astype(np.uint8).tobytes())
        elif f == 3:    # Average
            for i in range(stride):
                left = line[i - fu] if i >= fu else 0
                line[i] = (line[i] + ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:    # Paeth
            for i in range(stride):
                left = line[i - fu] if i >= fu else 0
                ul = int(prev[i - fu]) if i >= fu else 0
                line[i] = (line[i] + _paeth(left, int(prev[i]), ul)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = np.frombuffer(bytes(line), np.uint8)
        prev = out[y]
    return out, pos


def _defilter_sub8(raw: bytes, pos: int, w: int, h: int, depth: int
                   ) -> tuple[np.ndarray, int]:
    """Defilter + bit-unpack ``h`` scanlines of ``w`` sub-8-bit samples
    (depth 1/2/4, one channel).  The PNG filters operate on the packed
    BYTES with filter unit 1; samples unpack big-endian-first per byte."""
    stride = (w * depth + 7) // 8
    rows, pos = _defilter(raw, pos, stride, h, 1)
    bits = np.unpackbits(rows, axis=1)[:, :w * depth]
    weights = 1 << np.arange(depth - 1, -1, -1)
    out = (bits.reshape(h, w, depth) * weights).sum(axis=2).astype(np.uint8)
    return out[:, :, None], pos


def decode_png(data: bytes) -> np.ndarray:
    """1/2/4/8/16-bit, gray / gray+alpha / RGB / RGBA / palette, all five
    scanline filters, sequential or Adam7-interlaced.  16-bit samples come
    back as uint16 (big-endian in the file, native order in the array);
    everything else uint8.  Sub-8-bit gray scales to the full 0-255 range
    (the standard display convention); palette indices resolve through
    PLTE to RGB — or RGBA when a tRNS chunk carries per-entry alpha."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat = 8, []
    w = h = ct = None
    plte = trns = None
    depth = interlace = 0
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos:pos + 4], "big")
        typ = data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            w, h = (int.from_bytes(chunk[0:4], "big"),
                    int.from_bytes(chunk[4:8], "big"))
            depth, ct, interlace = chunk[8], chunk[9], chunk[12]
            ok = (interlace in (0, 1)
                  and ((ct in (0, 3) and depth in (1, 2, 4, 8))
                       or (ct == 0 and depth == 16)
                       or (ct in (2, 4, 6) and depth in (8, 16))))
            if not ok:
                raise UnsupportedVariant(
                    f"unsupported PNG variant (depth={depth}, "
                    f"color={ct}, interlace={interlace})")
        elif typ == b"PLTE":
            plte = np.frombuffer(chunk[:len(chunk) // 3 * 3],
                                 np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = np.frombuffer(chunk, np.uint8)
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if ct == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ct]
    sub8 = depth < 8
    fu = ch * (depth // 8) if not sub8 else 1
    dt = ">u2" if depth == 16 else np.uint8
    raw = zlib.decompress(b"".join(idat))

    def pass_samples(pos: int, wp: int, hp: int
                     ) -> tuple[np.ndarray, int]:
        if sub8:
            return _defilter_sub8(raw, pos, wp, hp, depth)
        rows, pos = _defilter(raw, pos, wp, hp, fu)
        return (np.frombuffer(rows.tobytes(), dtype=dt)
                .reshape(hp, wp, ch), pos)

    if not interlace:
        out, _ = pass_samples(0, w, h)
    else:
        out = np.zeros((h, w, ch),
                       dtype=np.uint16 if depth == 16 else np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue  # pass empty for this image size: zero bytes
            sub, pos = pass_samples(pos, wp, hp)
            out[y0::dy, x0::dx, :] = sub
    if ct == 3:
        idx = out[:, :, 0]
        if idx.max(initial=0) >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, np.uint8)
            alpha[:len(trns)] = trns
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if sub8:  # gray: scale to full 8-bit range (255 / (2^depth - 1))
        out = (out.astype(np.uint16) * 255 // ((1 << depth) - 1)) \
            .astype(np.uint8)
    if depth == 16:
        out = out.astype(np.uint16)
    return out.reshape(h, w) if ch == 1 else out


def _pack_sub8(samples: np.ndarray, depth: int) -> bytes:
    """Pack (h, w) samples of ``depth`` bits each into PNG scanline bytes
    (big-endian-first within each byte, rows padded to byte boundaries),
    one filter-0 byte per row."""
    h, w = samples.shape
    weights = np.arange(depth - 1, -1, -1)
    bits = ((samples[:, :, None] >> weights) & 1).reshape(h, w * depth)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.hstack([bits, np.zeros((h, pad), bits.dtype)])
    rows = np.packbits(bits.astype(np.uint8), axis=1)
    return b"".join(b"\x00" + rows[y].tobytes() for y in range(h))


def encode_png_indexed(idx: np.ndarray, palette: np.ndarray,
                       depth: int = 8, trns: bytes | None = None) -> bytes:
    """Deterministic palette-PNG writer (color type 3, depth 1/2/4/8),
    filter 0, optional tRNS per-entry alpha — the screenshot/diagram form
    crawls carry.  ``idx`` is (h, w) palette indices; ``palette`` (n, 3)
    uint8 RGB."""
    idx = np.asarray(idx, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    if idx.max(initial=0) >= len(palette) or idx.max(initial=0) >= 1 << depth:
        raise ValueError("palette index out of range for depth")
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
    if depth == 8:
        raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    else:
        raw = _pack_sub8(idx, depth)
    chunks = _PNG_SIG + _png_chunk(b"IHDR", ihdr) \
        + _png_chunk(b"PLTE", palette.tobytes())
    if trns is not None:
        chunks += _png_chunk(b"tRNS", trns)
    return (chunks + _png_chunk(b"IDAT", zlib.compress(raw, 6))
            + _png_chunk(b"IEND", b""))


def encode_png_gray_sub8(img: np.ndarray, depth: int) -> bytes:
    """Deterministic 1/2/4-bit grayscale PNG writer (samples are raw
    ``depth``-bit values, NOT pre-scaled), filter 0."""
    img = np.asarray(img, dtype=np.uint8)
    if img.max(initial=0) >= 1 << depth:
        raise ValueError("sample exceeds depth")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(_pack_sub8(img, depth), 6))
            + _png_chunk(b"IEND", b""))


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """Deterministic PNG writer: filter 0, fixed zlib level.  uint16 input
    writes 16-bit big-endian samples; ``interlace=True`` emits Adam7
    passes (each pass's scanlines filtered independently, per spec)."""
    img = np.asarray(img)
    depth = 16 if img.dtype == np.uint16 else 8
    img = img.astype(">u2" if depth == 16 else np.uint8)
    if img.ndim == 2:
        ct, ch = 0, 1
        h, w = img.shape
        img = img[:, :, None]
    elif img.ndim == 3 and img.shape[2] in (2, 3, 4):
        ct = {2: 4, 3: 2, 4: 6}[img.shape[2]]
        ch = img.shape[2]
        h, w = img.shape[:2]
    else:
        raise ValueError(f"unsupported shape {img.shape}")
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, int(interlace))
    if not interlace:
        raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx, :]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.extend(b"\x00" + sub[y].tobytes()
                         for y in range(sub.shape[0]))
        raw = b"".join(parts)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw, 6))
            + _png_chunk(b"IEND", b""))


# ---------------------------------------------------------------------------
# BMP (uncompressed 24-bit)
# ---------------------------------------------------------------------------

def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack("<I", data[10:14])[0]
    w, h_signed = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    compression = struct.unpack("<I", data[30:34])[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    h = abs(h_signed)
    row = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    px = np.frombuffer(data[off:off + row * h], np.uint8)
    if px.size < row * h:
        raise ValueError("BMP data truncated")
    px = px.reshape(h, row)[:, :w * 3].reshape(h, w, 3)
    if h_signed > 0:            # bottom-up storage
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR → RGB


def encode_bmp(img: np.ndarray) -> bytes:
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    elif img.ndim == 3 and img.shape[2] == 4:
        img = img[:, :, :3]  # 24bpp container: drop alpha, don't corrupt
    elif img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(f"unsupported shape {img.shape} for 24-bit BMP")
    h, w = img.shape[:2]
    row = (w * 3 + 3) & ~3
    body = bytearray()
    bgr = img[:, :, ::-1]
    pad = b"\x00" * (row - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up
        body += bgr[y].tobytes() + pad
    header = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                            2835, 2835, 0, 0))
    return header + bytes(body)


# ---------------------------------------------------------------------------
# PGM (binary P5)
# ---------------------------------------------------------------------------

def decode_pgm(data: bytes) -> np.ndarray:
    if data[:2] != b"P5":
        raise ValueError("not a binary PGM")
    # header: magic, width, height, maxval — whitespace/comment separated
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos:pos + 1].isspace():
            pos += 1
        if data[pos:pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    w, h, maxval = fields
    # spec: exactly ONE whitespace separator after maxval, but Windows
    # writers emit \r\n.  A \r followed by \n is genuinely ambiguous in
    # binary PGM (CRLF separator vs bare-\r separator + 0x0A first pixel);
    # disambiguate by size: when skipping only the \r leaves EXACTLY w*h
    # raster bytes, the \n is a pixel (keep it); when there is at least one
    # spare byte, CRLF writers are overwhelmingly the real-world case —
    # treat the pair as one separator.
    pos += 1
    if (data[pos - 1:pos] == b"\r" and data[pos:pos + 1] == b"\n"
            and len(data) - pos >= w * h + 1):
        pos += 1
    if maxval > 255:
        raise ValueError("16-bit PGM unsupported")
    px = np.frombuffer(data[pos:pos + w * h], np.uint8)
    if px.size < w * h:
        raise ValueError("PGM data truncated")
    return px.reshape(h, w).copy()


def encode_pgm(img: np.ndarray) -> bytes:
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    return f"P5\n{w} {h}\n255\n".encode() + img.tobytes()


# ---------------------------------------------------------------------------
# Audio: dispatch + WAV
# ---------------------------------------------------------------------------

def decode_audio(codec: str, payload: bytes) -> tuple[np.ndarray, int]:
    """Dispatch: WAV / AU (PCM + mu-law) / AIFF / AIFC → (samples, rate)."""
    if codec == "WAV":
        return decode_wav(payload)
    if codec == "AU":
        return decode_au(payload)
    if codec in ("AIFF", "AIFC"):
        return decode_aiff(payload)
    raise KeyError(codec)


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """→ (samples int32 array of shape (n, channels), sample_rate)."""
    with wave.open(io.BytesIO(data), "rb") as f:
        n, ch, width = f.getnframes(), f.getnchannels(), f.getsampwidth()
        rate = f.getframerate()
        raw = f.readframes(n)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise ValueError(f"unsupported WAV sample width {width}")
    samples = np.frombuffer(raw, dtype).astype(np.int32)
    if width == 1:
        samples -= 128  # 8-bit WAV is unsigned, center it
    return samples.reshape(-1, ch), rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """16-bit PCM writer (mono or multichannel)."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s.reshape(-1, 1)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(s.shape[1])
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(s.tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# AU / AIFF audio — the other PCM containers a crawl carries
# (CPython 3.13 removed sunau/aifc; these are from-scratch).  Both decode
# to the decode_wav contract: (int32 samples (n, ch), rate).
# ---------------------------------------------------------------------------

def decode_au(data: bytes) -> tuple[np.ndarray, int]:
    """Sun AU: big-endian header, G.711 mu-law (1) decoded to 16-bit
    linear, PCM encodings 2/3/4/5 (8/16/24/32-bit linear); float/ADPCM
    encodings raise UnsupportedVariant."""
    if data[:4] != b".snd":
        raise UnsupportedVariant("not an AU file")
    off, size, enc, rate, ch = struct.unpack(">IIIII", data[4:24])
    body = data[off:off + size] if size != 0xFFFFFFFF else data[off:]
    if enc == 1:  # G.711 mu-law → 16-bit linear (the classic .au form)
        u = ~np.frombuffer(body, np.uint8)
        sign = u & 0x80
        exp = (u >> 4) & 7
        mant = (u & 0x0F).astype(np.int32)
        mag = (((mant << 3) + 0x84) << exp) - 0x84
        a = np.where(sign, -mag, mag).astype(np.int32)
        n = len(a) // ch
        return a[: n * ch].reshape(-1, ch), rate
    pcm_bits = {2: 8, 3: 16, 4: 24, 5: 32}.get(enc)
    if pcm_bits is None:
        raise UnsupportedVariant(f"AU encoding {enc} (float/ADPCM out)")
    width = pcm_bits // 8
    nsamp = len(body) // (width * ch)
    body = body[: nsamp * width * ch]
    if width == 1:
        a = np.frombuffer(body, np.int8).astype(np.int32)
    elif width == 2:
        a = np.frombuffer(body, ">i2").astype(np.int32)
    elif width == 4:
        a = np.frombuffer(body, ">i4").astype(np.int32)
    else:  # 24-bit big-endian
        b = np.frombuffer(body, np.uint8).reshape(-1, 3).astype(np.uint32)
        a = ((b[:, 0] << 24) | (b[:, 1] << 16) | (b[:, 2] << 8)
             ).astype(np.int32) >> 8
    return a.reshape(-1, ch), rate


def _f80_to_int(b: bytes) -> int:
    """IEEE 754 80-bit extended float → int (AIFF sample rates are small
    positive integers stored this way)."""
    sign_exp = struct.unpack(">H", b[:2])[0]
    mant = struct.unpack(">Q", b[2:10])[0]
    exp = (sign_exp & 0x7FFF) - 16383
    if mant == 0:
        return 0
    val = mant / float(1 << 63) * (2.0 ** exp)
    return int(round(-val if sign_exp & 0x8000 else val))


def decode_aiff(data: bytes) -> tuple[np.ndarray, int]:
    """AIFF (PCM big-endian) and AIFF-C with the 'NONE' compression type;
    compressed AIFF-C variants raise UnsupportedVariant."""
    if data[:4] != b"FORM" or data[8:12] not in (b"AIFF", b"AIFC"):
        raise UnsupportedVariant("not an AIFF file")
    is_aifc = data[8:12] == b"AIFC"
    pos = 12
    ch = bits = rate = None
    frames = 0
    body = None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        size = struct.unpack(">I", data[pos + 4:pos + 8])[0]
        payload = data[pos + 8:pos + 8 + size]
        if cid == b"COMM":
            ch, frames, bits = struct.unpack(">HIH", payload[:8])
            rate = _f80_to_int(payload[8:18])
            if is_aifc and len(payload) >= 22:
                ctype = payload[18:22]
                if ctype not in (b"NONE", b"sowt"):
                    raise UnsupportedVariant(
                        f"AIFF-C compression {ctype!r}")
                if ctype == b"sowt":
                    bits = -bits  # little-endian marker
        elif cid == b"SSND":
            data_off = struct.unpack(">I", payload[:4])[0]
            body = payload[8 + data_off:]
        pos += 8 + size + (size & 1)
    if ch is None or body is None:
        raise UnsupportedVariant("AIFF missing COMM/SSND")
    le = bits is not None and bits < 0
    bits = abs(bits)
    if bits not in (8, 16, 24, 32):
        raise UnsupportedVariant(f"AIFF bit depth {bits}")
    width = bits // 8
    n = min(frames, len(body) // (width * ch))
    body = body[: n * width * ch]
    if width == 1:
        a = np.frombuffer(body, np.int8).astype(np.int32)
    elif width == 2:
        a = np.frombuffer(body, "<i2" if le else ">i2").astype(np.int32)
    elif width == 4:
        a = np.frombuffer(body, "<i4" if le else ">i4").astype(np.int32)
    else:
        b = np.frombuffer(body, np.uint8).reshape(-1, 3).astype(np.uint32)
        if le:
            a = ((b[:, 2] << 24) | (b[:, 1] << 16) | (b[:, 0] << 8)
                 ).astype(np.int32) >> 8
        else:
            a = ((b[:, 0] << 24) | (b[:, 1] << 16) | (b[:, 2] << 8)
                 ).astype(np.int32) >> 8
    return a.reshape(-1, ch), rate


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def to_gray(img: np.ndarray) -> np.ndarray:
    """Channel fold by integer mean — deterministic across engines."""
    if img.ndim == 2:
        return img
    return (img[:, :, :3].astype(np.uint32).sum(axis=2) // 3).astype(np.uint8)
