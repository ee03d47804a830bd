"""Segmented bloom filter for the URL-seen fast path (O11/O22).

North-star requirement (BASELINE.json:6): "a broadcast bloom/cuckoo
URL-seen filter merged per micro-batch" with per-partition "bloom
segment version" lineage. The filter is segmented by ``host_bucket``
(SURVEY.md §4.3): at design scale (10^10 keys ≈ 12.5 GB of bits) one
blob is not broadcastable, but each task only needs the segments of the
buckets it touches; at sandbox scale all segments broadcast together.
The code path is the segmented one regardless — scale is config.

Semantics: probe says False ⇒ the URL is definitely NOT seen (no false
negatives); True ⇒ maybe seen. The engine merges each round's fresh
URLs into their bucket's segment and records its version in the
lineage, but does not probe it: seen dedup is the exact (url_hash,
url) anti-join alone (O12, scheduler/seen.py), so the filter never
affects which URLs are enqueued.

Hash scheme: double hashing over the already-computed xxh64 url_hash —
h1 = url_hash, h2 = splitmix64_fin(url_hash) | 1, position_i =
(h1 + i*h2) mod bits. All numpy uint64 vectorized; build and probe use
the same code.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public domain constants), vectorized."""
    x = x.astype(_U64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> _U64(30)
        x *= _U64(0xBF58476D1CE4E5B9)
        x ^= x >> _U64(27)
        x *= _U64(0x94D049BB133111EB)
        x ^= x >> _U64(31)
    return x


def _positions(url_hashes: np.ndarray, bits: int, num_hashes: int) -> np.ndarray:
    """(n, num_hashes) bit positions for each key."""
    h1 = url_hashes.astype(np.int64).view(_U64)
    h2 = _mix64(h1) | _U64(1)
    i = np.arange(num_hashes, dtype=_U64)
    with np.errstate(over="ignore"):
        pos = (h1[:, None] + i[None, :] * h2[:, None]) % _U64(bits)
    return pos.astype(np.int64)


def empty_segment(bits: int) -> np.ndarray:
    return np.zeros(bits // 8, dtype=np.uint8)


def add_keys(segment: np.ndarray, url_hashes: np.ndarray, num_hashes: int) -> np.ndarray:
    """OR the keys' bits into a copy of ``segment`` (returns new array)."""
    seg = segment.copy()
    bits = seg.size * 8
    pos = _positions(url_hashes, bits, num_hashes).ravel()
    np.bitwise_or.at(seg, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return seg


def probe(segment: np.ndarray | None, url_hashes: np.ndarray, num_hashes: int) -> np.ndarray:
    """Vectorized membership probe → bool array (True = maybe seen)."""
    if segment is None:
        return np.zeros(len(url_hashes), dtype=bool)
    bits = segment.size * 8
    pos = _positions(url_hashes, bits, num_hashes)
    byte = segment[pos >> 3]
    bit = (byte >> (pos & 7).astype(np.uint8)) & 1
    return bit.all(axis=1)
