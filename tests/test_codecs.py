"""T1: codec unit tests (SURVEY.md §5.3)."""

import numpy as np
import pytest

from ccrawler_spark import codecs
from ccrawler_spark.fixtures import corpus


def _px(i: int) -> np.ndarray:
    return corpus.pixels_of(f"http://h{i % 17}.example/p/{i * 7}")


@pytest.mark.parametrize("fmt", ["rgb8", "rle8"])
def test_lossless_roundtrip_exact(fmt):
    for i in range(40):
        px = _px(i)
        assert np.array_equal(codecs.decode(codecs.encode(px, fmt), fmt), px)


def test_dct8_psnr_in_band():
    """Lossy for real, but >= 40 dB (BASELINE.json:15, FIXTURES.md §2)."""
    for i in range(40):
        px = _px(i)
        d = codecs.decode(codecs.encode(px, "dct8"), "dct8")
        p = codecs.psnr(px, d)
        assert 40.0 <= p < float("inf"), p


def test_rle8_long_runs():
    px = np.full((32, 48, 3), 7, dtype=np.uint8)  # runs of 1536 > 255
    assert np.array_equal(codecs.decode(codecs.encode(px, "rle8"), "rle8"), px)


def test_phash_is_stable_int64():
    for i in range(20):
        ph = corpus.phash_of(_px(i))
        assert -(2**63) <= ph < 2**63


def test_corpus_row_schema():
    r = corpus.corpus_row("http://h0.example/p/0")
    assert set(r) == {"image_id", "bytes", "w", "h", "fmt", "caption", "phash"}
    assert len(r["image_id"]) == 16
    assert 8 <= len(r["caption"].split()) <= 16


def test_dct8_f32_decode_bit_identical_to_f64():
    """The float32 batched hot path must reproduce the float64
    reference decode exactly — EXHAUSTIVELY over every reachable
    fixture image. Only (km, w, h) determine a fixture image
    (corpus._pixels_pattern): km ∈ 0..255, w/h ∈ {16,32,48,64} →
    4096 distinct images. The bit-identity is a property of this
    image family + QTAB, not of the algorithm (a half-away-from-zero
    boundary can flip under float32 on arbitrary inputs), so any
    future QTAB/quality change must re-prove it here."""
    import numpy as np

    from ccrawler_spark.codecs import dct8
    from ccrawler_spark.fixtures.corpus import _pixels_pattern

    dims = (16, 32, 48, 64)
    checked = 0
    for km in range(256):
        for w in dims:
            for h in dims:
                pay = dct8.encode(np.asarray(_pixels_pattern(km, w, h)))
                assert np.array_equal(
                    dct8.decode(pay), dct8.decode_f64(pay)
                ), (km, w, h)
                checked += 1
    assert checked == 4096


def test_psnr_phash_integer_paths_bit_identical():
    """Integer-arithmetic psnr/phash fast paths == float64 originals."""
    import numpy as np

    from ccrawler_spark import codecs
    from ccrawler_spark.fixtures import corpus as ref

    for i in range(100):
        u = f"http://h{i % 31}.example/p/{i}"
        px = ref.pixels_of(u)
        dec = codecs.decode(codecs.encode(px, ref.fmt_of(u)), ref.fmt_of(u))
        # reference float64 formulations
        d = px.astype(np.float64) - dec.astype(np.float64)
        mse = float(np.mean(d * d))
        want = float("inf") if mse == 0 else 10.0 * np.log10(255.0**2 / mse)
        got = codecs.psnr(px, dec)
        assert got == want, u
        gray64 = dec.astype(np.float64).mean(axis=2)
        h, w = gray64.shape
        cells = gray64.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
        bits = (cells > cells.mean()).ravel()
        v = int.from_bytes(np.packbits(bits).tobytes(), "big")
        want_ph = v - (1 << 64) if v >= (1 << 63) else v
        assert ref.phash_of(dec) == want_ph, u
