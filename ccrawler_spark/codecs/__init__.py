"""Self-contained numpy image codecs (docs/SEMANTICS.md §3).

PIL/cv2 are absent in the sandbox (SURVEY.md §0.3), so the corpus
``bytes`` column uses three self-defined codecs: ``rgb8`` (raw,
lossless), ``rle8`` (run-length, lossless) and ``dct8`` (blockwise
DCT quantization, lossy — exists so the BASELINE.json:15 invariant
"PSNR ≥ 40 dB for lossy formats" is exercised for real).

All encode/decode paths operate on whole numpy arrays (no per-pixel
Python loops) so they are batch-friendly inside Arrow UDFs (O41).
"""

from __future__ import annotations

import numpy as np

from . import dct8 as _dct8
from . import rgb8 as _rgb8
from . import rle8 as _rle8

FORMATS = ("rgb8", "rle8", "dct8")

_ENC = {"rgb8": _rgb8.encode, "rle8": _rle8.encode, "dct8": _dct8.encode}
_DEC = {"rgb8": _rgb8.decode, "rle8": _rle8.decode, "dct8": _dct8.decode}


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    """pixels: uint8[h, w, 3] → encoded payload."""
    return _ENC[fmt](pixels)


def decode(payload: bytes, fmt: str) -> np.ndarray:
    """encoded payload → uint8[h, w, 3]."""
    return _DEC[fmt](payload)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR in dB, float64 (SEMANTICS.md §8).

    The diff/square run in int16/int32 — exact for uint8 inputs, so
    np.mean sees the identical integer values the float64 formulation
    produced (bit-identical result) at a quarter of the temporary
    memory traffic; this sits on the per-fetch invariant hot path."""
    diff = a.astype(np.int16) - b.astype(np.int16)
    sq = (diff.astype(np.int32)) ** 2
    mse = float(np.mean(sq))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
