"""Pure-stdlib codecs: roundtrips, PNG filter coverage, error paths."""

import struct
import zlib

import numpy as np
import pytest

from qwen_ocr_spark.functions import codecs


def _img(h, w, seed=7):
    return np.array([(seed * 13 + p) % 251 for p in range(h * w)],
                    dtype=np.uint8).reshape(h, w)


def test_png_gray_roundtrip():
    img = _img(11, 17)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(img)), img)


def test_png_rgb_rgba_roundtrip():
    rgb = np.dstack([_img(9, 13, s) for s in (1, 2, 3)])
    assert np.array_equal(codecs.decode_png(codecs.encode_png(rgb)), rgb)
    rgba = np.dstack([_img(6, 8, s) for s in (1, 2, 3, 4)])
    assert np.array_equal(codecs.decode_png(codecs.encode_png(rgba)), rgba)


def test_png_all_filters_decode():
    """Hand-build a PNG using every filter type on successive scanlines."""
    img = _img(5, 7)
    h, w = img.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.uint8)
    for y, f in zip(range(h), (0, 1, 2, 3, 4)):
        line = img[y].astype(np.int32)
        if f == 0:
            enc = line.copy()
        elif f == 1:
            enc = line.copy()
            enc[1:] = (line[1:] - line[:-1]) % 256
        elif f == 2:
            enc = (line - prev) % 256
        elif f == 3:
            enc = line.copy()
            for i in range(w):
                left = int(img[y][i - 1]) if i else 0
                enc[i] = (int(line[i]) - ((left + int(prev[i])) >> 1)) % 256
        else:
            enc = line.copy()
            for i in range(w):
                left = int(img[y][i - 1]) if i else 0
                ul = int(prev[i - 1]) if i else 0
                enc[i] = (int(line[i]) - codecs._paeth(left, int(prev[i]), ul)) % 256
        raw += bytes([f]) + enc.astype(np.uint8).tobytes()
        prev = img[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    data = (codecs._PNG_SIG + codecs._png_chunk(b"IHDR", ihdr)
            + codecs._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + codecs._png_chunk(b"IEND", b""))
    assert np.array_equal(codecs.decode_png(data), img)


def test_png_interlaced_and_16bit_roundtrip():
    """Round-4 widening: Adam7 interlacing and 16-bit depth decode exactly,
    across gray / gray+alpha / RGB / RGBA and including sizes where some
    Adam7 passes are empty (1x1, narrow strips)."""
    rng = np.random.default_rng(7)
    shapes = [(23, 17), (23, 17, 2), (23, 17, 3), (23, 17, 4),
              (1, 1, 3), (7, 3), (3, 9, 4)]
    for shape in shapes:
        for dt, hi in ((np.uint8, 256), (np.uint16, 65536)):
            img = rng.integers(0, hi, shape, dtype=dt)
            for il in (False, True):
                back = codecs.decode_png(codecs.encode_png(img, interlace=il))
                assert back.dtype == img.dtype and back.shape == img.shape
                assert np.array_equal(back, img), (shape, dt, il)


def test_png_palette_and_sub8_roundtrip():
    """Round-4 completion: palette PNGs (the crawl screenshot/diagram
    form) resolve through PLTE — with tRNS per-entry alpha when present —
    and 1/2/4-bit grayscale unpacks and scales to the 0-255 display
    range.  Every depth the spec allows for these color types."""
    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    for depth in (8, 4, 2, 1):
        n = min(16, 1 << depth)
        idx = rng.integers(0, n, (13, 11), dtype=np.uint8)
        out = codecs.decode_png(codecs.encode_png_indexed(idx, pal[:n], depth))
        assert out.shape == (13, 11, 3) and np.array_equal(out, pal[:n][idx])
        trns = bytes(range(0, n * 10, 10))[:n]
        out2 = codecs.decode_png(
            codecs.encode_png_indexed(idx, pal[:n], depth, trns=trns))
        assert out2.shape == (13, 11, 4)
        assert np.array_equal(out2[:, :, :3], pal[:n][idx])
        assert np.array_equal(out2[:, :, 3],
                              np.frombuffer(trns, np.uint8)[idx])
    for depth in (1, 2, 4):
        img = rng.integers(0, 1 << depth, (9, 14), dtype=np.uint8)
        out = codecs.decode_png(codecs.encode_png_gray_sub8(img, depth))
        want = (img.astype(np.uint16) * 255
                // ((1 << depth) - 1)).astype(np.uint8)
        assert out.shape == (9, 14) and np.array_equal(out, want)


def test_png_rejects_unsupported():
    with pytest.raises(ValueError):
        codecs.decode_png(b"\x89PNG\r\n\x1a\njunk")
    with pytest.raises(ValueError):
        codecs.decode_png(b"GIF89a")
    # spec-invalid depth/type combinations are the typed seam
    for depth, ct in ((16, 3), (4, 2), (2, 6), (3, 0)):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, ct, 0, 0, 0)
        bad = (codecs._PNG_SIG + codecs._png_chunk(b"IHDR", ihdr)
               + codecs._png_chunk(b"IDAT", zlib.compress(b"\0" * 8))
               + codecs._png_chunk(b"IEND", b""))
        with pytest.raises(codecs.UnsupportedVariant):
            codecs.decode_png(bad)
    # palette PNG whose PLTE is missing is malformed, not a variant
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    with pytest.raises(ValueError):
        codecs.decode_png(
            codecs._PNG_SIG + codecs._png_chunk(b"IHDR", ihdr)
            + codecs._png_chunk(b"IDAT", zlib.compress(b"\0" * 6))
            + codecs._png_chunk(b"IEND", b""))


def test_bmp_roundtrip_and_gray():
    rgb = np.dstack([_img(10, 5, s) for s in (3, 5, 9)])
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(rgb)), rgb)
    gray = _img(4, 6)
    out = codecs.decode_bmp(codecs.encode_bmp(gray))
    assert np.array_equal(codecs.to_gray(out), gray)


def test_pgm_roundtrip_and_comment():
    img = _img(9, 4)
    assert np.array_equal(codecs.decode_pgm(codecs.encode_pgm(img)), img)
    with_comment = b"P5\n# a comment\n4 9\n255\n" + img.tobytes()
    assert np.array_equal(codecs.decode_pgm(with_comment), img)


def test_wav_roundtrip():
    samples = (np.arange(800, dtype=np.int16) * 37) % 4096 - 2048
    data = codecs.encode_wav(samples, 16000)
    out, rate = codecs.decode_wav(data)
    assert rate == 16000
    assert out.shape == (800, 1)
    assert np.array_equal(out[:, 0], samples.astype(np.int32))


def test_pgm_crlf_after_maxval():
    """Windows writers end the header with \\r\\n — must count as ONE
    separator, not shift the raster by a byte."""
    img = _img(2, 3)
    data = b"P5\n3 2\n255\r\n" + img.tobytes()
    assert np.array_equal(codecs.decode_pgm(data), img)


def test_bmp_rgba_drops_alpha_not_corrupts():
    rgba = np.dstack([_img(5, 7, s) for s in (1, 2, 3, 4)])
    out = codecs.decode_bmp(codecs.encode_bmp(rgba))
    assert np.array_equal(out, rgba[:, :, :3])
    with pytest.raises(ValueError):
        codecs.encode_bmp(np.zeros((4, 4, 2), dtype=np.uint8))


def test_pgm_bare_cr_separator_with_newline_pixel():
    """A bare-\\r separator followed by a legitimate 0x0A first PIXEL must
    not be mistaken for a CRLF separator (size disambiguates)."""
    img = _img(2, 3).copy()
    img[0, 0] = 0x0A
    data = b"P5\n3 2\n255\r" + img.tobytes()
    assert np.array_equal(codecs.decode_pgm(data), img)


def test_pgm_crlf_with_trailing_newline():
    """CRLF after maxval plus a trailing newline at EOF (common Windows
    shape): the \\n after \\r is the separator, not a pixel."""
    img = _img(2, 3)
    data = b"P5\n3 2\n255\r\n" + img.tobytes() + b"\n"
    assert np.array_equal(codecs.decode_pgm(data), img)


def test_au_aiff_decode_contracts():
    """AU (PCM + G.711 mu-law) and AIFF/AIFC (NONE/sowt) decode to the
    decode_wav contract; unsupported compressions raise the typed seam."""
    from qwen_ocr_spark.functions.codecs import decode_au, decode_aiff
    # hand-built PCM AU: 4 samples, 16-bit, mono
    import struct as st
    samples = np.array([100, -100, 32000, -32000], np.int16)
    au = (b".snd" + st.pack(">IIIII", 24, 8, 3, 8000, 1)
          + samples.astype(">i2").tobytes())
    s, rate = decode_au(au)
    assert rate == 8000 and np.array_equal(s[:, 0], samples.astype(np.int32))
    with pytest.raises(codecs.UnsupportedVariant):
        decode_au(b".snd" + st.pack(">IIIII", 24, 4, 6, 8000, 1) + b"\0" * 4)
    # hand-built AIFF-C with an unsupported compressor
    comm = st.pack(">HIH", 1, 1, 16) + b"\x40\x0c\xac\x44" + b"\0" * 6 \
        + b"ima4" + b"\x00"
    aifc = (b"FORM" + st.pack(">I", 4 + 8 + len(comm)) + b"AIFC"
            + b"COMM" + st.pack(">I", len(comm)) + comm)
    with pytest.raises(codecs.UnsupportedVariant):
        decode_aiff(aifc)
    # audio dispatch
    s2, r2 = codecs.decode_audio("AU", au)
    assert r2 == 8000 and np.array_equal(s2, s)
    with pytest.raises(KeyError):
        codecs.decode_audio("MP3", b"ID3")
