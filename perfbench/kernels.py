"""Single-core kernel figures for the traced run, on fixed inputs."""

from __future__ import annotations

import statistics
import time

import numpy as np


def _rate(fn, units: int, reps: int = 3) -> float:
    """Median of ``reps`` timings of ``fn``, as units per second."""
    times = []
    for i in range(reps):
        t0 = time.perf_counter()
        fn(i)
        times.append(time.perf_counter() - t0)
    return units / statistics.median(times)


def decode_per_s(urls: list[str], batch: int = 600) -> float:
    """Images per second through the fetch path's decode-and-verify
    batch function (``codecs.decode`` plus the reference pixel and
    phash checks). Each repetition decodes ``batch`` URLs it has not
    seen before."""
    import pyarrow as pa

    from ccrawler_spark.fixtures import corpus
    from ccrawler_spark.scheduler.fetch import _decode_batches

    reps = 3
    batches = []
    for i in range(reps):
        rows = [corpus.corpus_row(u) for u in urls[i * batch:(i + 1) * batch]]
        batches.append(pa.RecordBatch.from_pydict({
            "url": urls[i * batch:(i + 1) * batch],
            "bytes": pa.array([r["bytes"] for r in rows], pa.binary()),
            "fmt": [r["fmt"] for r in rows],
            "caption_ok": [True] * len(rows),
            "phash": pa.array([r["phash"] for r in rows], pa.int64()),
        }))

    def run(i):
        out = next(_decode_batches(iter([batches[i]])))
        if not all(out.column("pixels_ok").to_pylist()):
            raise AssertionError("decode kernel: a reference check failed")

    return _rate(run, batch, reps)


def bloom_probe_keys_per_s(bits: int, num_hashes: int,
                           filled: int = 13_000, probes: int = 200_000) -> float:
    """Keys per second through ``bloom.filter.probe`` on one segment of
    ``bits`` holding ``filled`` keys."""
    from ccrawler_spark.bloom import filter as bf

    rng = np.random.default_rng(0)
    lim = np.iinfo(np.int64)
    seg = bf.add_keys(bf.empty_segment(bits),
                      rng.integers(lim.min, lim.max, filled, dtype=np.int64),
                      num_hashes)
    keys = rng.integers(lim.min, lim.max, probes, dtype=np.int64)
    return _rate(lambda _i: bf.probe(seg, keys, num_hashes), probes)


def bloom_fill(store, n: int) -> float:
    """Mean fraction of set bits over the latest bloom segments of
    snapshot ``n``."""
    rows = store.read_bloom_latest(n).select("bits").collect()
    fills = [np.unpackbits(np.frombuffer(r["bits"], np.uint8)).mean()
             for r in rows]
    return float(np.mean(fills)) if fills else 0.0
