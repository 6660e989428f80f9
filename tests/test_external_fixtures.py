"""Externally-generated wire-format fixtures.

Every decoder here would otherwise be validated only against this repo's
own encoders — a mirrored encoder/decoder bug would pass every
round-trip yet corrupt real files.  These fixtures were produced by
independent tools (CPython test-suite assets: libpng PNGs, PCM WAVs,
AU and AIFF/AIFC audio) and are checked into tests/external_fixtures/:

* PNG: palette (color type 3), RGB (2), RGBA (6), gray+alpha (4).
* WAV: 8-bit and 16-bit PCM from CPython's audiodata.
* AU (G.711 mu-law) and AIFF/AIFC PCM from CPython test data.

Pixel and sample md5s below are regression pins recorded from these
decoders after structural validation (dims exact, streams fully
consumed); Adam7 PNG has no external producer here and remains covered
by round-trip tests.
"""

import hashlib
import os

import numpy as np
import pytest

from qwen_ocr_spark.functions import codecs

FIX = os.path.join(os.path.dirname(__file__), "external_fixtures")


def _md5(arr: np.ndarray) -> str:
    return hashlib.md5(np.ascontiguousarray(arr).tobytes()).hexdigest()[:12]


def _read(name: str) -> bytes:
    with open(os.path.join(FIX, name), "rb") as f:
        return f.read()


@pytest.mark.parametrize("name,shape,pix", [
    ("png_palette_python.png", (16, 16, 4), "d5ebfcd830af"),
    ("png_rgb_trpl21.png", (320, 372, 3), "31decfb872a9"),
    ("png_rgba_idle32.png", (32, 32, 4), "68d3e6b443ba"),
])
def test_external_png_decodes_exactly(name, shape, pix):
    img = codecs.decode_png(_read(name))
    assert img.shape == shape
    assert _md5(img) == pix


def test_external_png_gray_alpha():
    img = codecs.decode_png(_read("png_grayalpha_favicon.png"))
    assert img.shape[:2] == (32, 32) and img.shape[2] in (2, 4)


def test_external_wav_pcm8_and_pcm16():
    s8, rate8 = codecs.decode_wav(_read("wav_pcm8_pluck.wav"))
    s16, rate16 = codecs.decode_wav(_read("wav_pcm16_pluck.wav"))
    assert rate8 == rate16 == 11025
    assert s8.shape == s16.shape == (3307, 2)
    assert _md5(s8) == "7304c2af697c"
    assert _md5(s16) == "03adf2f2709d"


def test_external_au_mulaw():
    """sndhdr.au: real G.711 mu-law audio; decodes to full-range 16-bit
    linear (mu-law's max magnitude is 32124 exactly)."""
    s, rate = codecs.decode_au(_read("au_ulaw_sndhdr.au"))
    assert rate == 8012 and s.shape == (28110, 1)
    assert s.max() == 32124 and s.min() == -31100
    assert _md5(s) == "253c22736ab8"


def test_external_aiff_and_aifc():
    s, rate = codecs.decode_aiff(_read("aiff_pcm16_pluck.aiff"))
    assert rate == 11025 and s.shape == (3307, 2)
    assert _md5(s) == "575e092ea24c"
    # cross-container: the WAV edition of the same recording agrees to
    # within conversion dither (separately produced fixtures)
    w, rw = codecs.decode_wav(_read("wav_pcm16_pluck.wav"))
    assert rw == rate and w.shape == s.shape
    assert np.abs(w.astype(np.int64) - s.astype(np.int64)).max() <= 16
    s2, r2 = codecs.decode_aiff(_read("aifc_none_sndhdr.aifc"))
    assert r2 == 44100 and s2.shape == (5, 2)
