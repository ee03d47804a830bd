"""O17 fetch join + O41 vectorized decode & per-row invariants.

"Fetching" a scheduled URL = matching it to its corpus row on image_id
(the corpus table replaces the live web, BASELINE.json:6) and decoding
the image payload. Decode runs in ``mapInArrow`` — Arrow RecordBatches
cross the JVM↔Python boundary once per batch, the numpy codecs operate
per image (BASELINE.json:15: vectorized Arrow/pandas UDFs, never
row-at-a-time Python ``F.udf``). One kernel (``_decode_batches``) in
two plans:

- ``fetch_from_layout`` — the engine's fetch, at every schedule size:
  the schedule is shuffled to the Arrow layout scan (io/arrow_scan),
  which decodes each matched row in the task that read it, so each
  image crosses into Python once and the scan streams ``(url, caption,
  flags)`` back, never the payload bytes;
- ``fetch_and_decode`` — the reference plan over any corpus frame (the
  flat corpus): a broadcast join on image_id, then the decode
  crossing. Tests and the bench scripts compare the engine's fetch
  against it.

Per-row invariants (BASELINE.json:15), computed against the
deterministic reference pixels (docs/SEMANTICS.md §3):
  pixels_ok  — exact equality for lossless fmts; PSNR ≥ 40 dB for dct8
  caption_ok — byte-for-byte caption equality, checked JVM-side
               (``expected_caption``: the JVM xxhash64 is the pinned
               hash)
  phash_ok   — recomputed phash: equal (lossless) / Hamming ≤ 8 (dct8;
               mean-threshold bits near the global mean legitimately
               flip under PSNR≈40 quantization noise)
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ccrawler_spark.functions.spark_exprs import expected_caption
from ccrawler_spark.io import arrow_scan
from ccrawler_spark.io.corpus_layout import host_key
from ccrawler_spark.scheduler import stages

DECODE_CHECK_FIELDS = [
    StructField("url", StringType()),
    StructField("fetch_ok", BooleanType()),
    StructField("pixels_ok", BooleanType()),
    StructField("caption_ok", BooleanType()),
    StructField("phash_ok", BooleanType()),
    StructField("psnr_db", DoubleType()),
    StructField("dec_w", IntegerType()),
    StructField("dec_h", IntegerType()),
]


def _decode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    import numpy as np

    from ccrawler_spark import codecs
    from ccrawler_spark.fixtures import corpus as ref

    for batch in batches:
        url_arr = batch.column("url")
        bytes_arr = batch.column("bytes")
        fmts = batch.column("fmt").to_pylist()
        # caption verified JVM-side (spark_exprs.expected_caption);
        # the boolean passes through this UDF untouched
        caption_ok = batch.column("caption_ok").to_numpy(zero_copy_only=False)
        phashes = batch.column("phash").to_numpy(zero_copy_only=False)
        n = batch.num_rows
        fetch_ok = np.zeros(n, dtype=bool)
        shape_ok = np.zeros(n, dtype=bool)
        pixels_ok = np.zeros(n, dtype=bool)
        phash_ok = np.zeros(n, dtype=bool)
        psnr_db = np.zeros(n, dtype=np.float64)
        dec_w = np.zeros(n, dtype=np.int32)
        dec_h = np.zeros(n, dtype=np.int32)
        valid = bytes_arr.is_valid().to_numpy(zero_copy_only=False)
        for i in range(n):
            if not valid[i]:
                continue  # corpus miss → fetch_ok stays False
            # zero-copy view of the payload (no python bytes object)
            payload = memoryview(bytes_arr[i].as_buffer())
            url = url_arr[i].as_py()
            try:
                dec = codecs.decode(payload, fmts[i])
            except Exception:
                continue
            fetch_ok[i] = True
            dec_h[i], dec_w[i] = dec.shape[0], dec.shape[1]
            expected = ref.pixels_of(url)
            if expected.shape != dec.shape:
                continue
            shape_ok[i] = True
            if fmts[i] == "dct8":
                p = codecs.psnr(expected, dec)
                psnr_db[i] = p if p != float("inf") else 999.0
                pixels_ok[i] = p >= 40.0
                dist = bin(
                    (ref.phash_of(dec) ^ int(phashes[i])) & ((1 << 64) - 1)
                ).count("1")
                phash_ok[i] = dist <= 8
            else:
                eq = bool(np.array_equal(expected, dec))
                pixels_ok[i] = eq
                # lossless + equal ⇒ PSNR is +inf by definition; only
                # compute it for a failing row (diagnostic)
                psnr_db[i] = 999.0 if eq else codecs.psnr(expected, dec)
                phash_ok[i] = ref.phash_of(dec) == int(phashes[i])
        yield pa.RecordBatch.from_pydict(
            {
                "url": url_arr,
                "fetch_ok": pa.array(fetch_ok),
                "pixels_ok": pa.array(pixels_ok),
                # gated on shape validity too (not just fetch_ok): a row
                # that decoded to the wrong shape must not report its
                # JVM-side caption bit as a passing invariant
                "caption_ok": pa.array(
                    np.asarray(caption_ok, dtype=bool) & fetch_ok & shape_ok
                ),
                "phash_ok": pa.array(phash_ok),
                "psnr_db": pa.array(psnr_db),
                "dec_w": pa.array(dec_w),
                "dec_h": pa.array(dec_h),
            }
        )


def fetch_and_decode(scheduled: DataFrame, corpus: DataFrame,
                     n_rows: int) -> DataFrame:
    """Join scheduled URLs (≤ K rows) to the corpus and decode.

    ``n_rows`` is the schedule's row count (the engine holds it from its
    schedule-metadata collect); it sizes the decode fan-out.

    The scheduled side is tiny relative to the corpus (≤ K rows), so it
    is broadcast and the corpus is never shuffled. Spark cannot
    broadcast the left side of a left-outer join, so misses are
    recovered by the join-back (``_join_flags``): scheduled rows with
    no corpus hit get fetch_ok=false (they still occupy their
    politeness slot, SEMANTICS.md §6 step 6).
    """
    hits = corpus.select("image_id", "bytes", "fmt", "caption", "phash").join(
        scheduled.select("image_id", "url").hint("broadcast"),
        on="image_id", how="inner",
    ).withColumn(
        # O41 caption invariant, entirely in codegen — JVM xxhash64 is
        # the pinned hash, so no caption string or Python hashing ever
        # enters the Arrow batch
        "caption_ok", expected_caption(F.col("url")) == F.col("caption")
    )
    # AQE coalesces the join output toward 64MB partitions, which starves
    # the Arrow workers (decode is CPU-bound, ~0.5 ms/image, not
    # IO-bound) — spread the batch across the cores before the UDF
    # (_decode_tasks)
    checks = (
        hits.select("url", "bytes", "fmt", "caption_ok", "phash")
        .repartition(_decode_tasks(scheduled, n_rows))
        .mapInArrow(_decode_batches, StructType(DECODE_CHECK_FIELDS))
    )
    return _join_flags(scheduled, checks)


def fetch_from_layout(scheduled: DataFrame, layout: str,
                      n_rows: int) -> DataFrame:
    """Fetch ``scheduled`` from the corpus layout at ``layout`` in one
    Python crossing per image: the schedule's ``(host_bucket, host_key,
    image_id, url)`` rows are the Arrow layout scan's input, and the
    scan decodes each matched row where it reads it (module docstring).

    Each matched corpus row is paired with every url of its image_id in
    the scan task's rows, as the join on image_id in
    ``fetch_and_decode`` pairs them — the task holding a bucket's rows
    holds every row of that bucket's hosts. ``n_rows`` (the schedule's
    row count) sizes the scan like that plan's decode.
    """
    def emit(t: pa.Table, urls_by_id: dict) -> Iterator[pa.RecordBatch]:
        import numpy as np

        rows, urls = [], []
        for i, image_id in enumerate(t.column("image_id").to_pylist()):
            for u in urls_by_id.get(image_id, ()):
                rows.append(i)
                urls.append(u)
        t = t.take(pa.array(rows, pa.int64()))
        batches = pa.table({
            "url": pa.array(urls, pa.string()),
            "bytes": t.column("bytes"),
            "fmt": t.column("fmt"),
            # checked JVM-side on the scan's output (below)
            "caption_ok": pa.array(np.ones(t.num_rows, dtype=bool)),
            "phash": t.column("phash"),
            "caption": t.column("caption"),
        }).to_batches()
        for b, out in zip(batches, _decode_batches(iter(batches))):
            yield out.append_column("caption", b.column("caption"))

    sched = scheduled.select(
        "host_bucket",
        host_key(F.col("host_bucket"), F.col("host")).alias("host_key"),
        "image_id", "url",
    )
    checks = arrow_scan.scan_layout(
        sched, layout, _decode_tasks(scheduled, n_rows), emit=emit,
        schema=StructType(
            DECODE_CHECK_FIELDS + [StructField("caption", StringType())]
        ),
    ).withColumn(
        # the O41 caption invariant on the scan's small output, with
        # the pinned JVM xxhash64 (see fetch_and_decode)
        "caption_ok", F.col("caption_ok")
        & (expected_caption(F.col("url")) == F.col("caption")),
    ).drop("caption")
    return _join_flags(scheduled, checks)


def _decode_tasks(scheduled: DataFrame, n_rows: int) -> int:
    """Decode task count: only as many tasks as the rows pay for, 512
    images a task, and at most one per core. On 4 cores, 4,000 images
    decoded faster in 4 tasks than in 8 (bench/bench_decode_fanout.py),
    and the crawl-growth round (11,629 images) ran faster with its
    layout scan in 4 tasks than in 8, 16 or 24 (docs/SCALING.md, "One
    Python crossing per image"); wider boxes are not measured."""
    dp = scheduled.sparkSession.sparkContext.defaultParallelism
    return stages.fanout(n_rows, 512, dp)


def _join_flags(scheduled: DataFrame, checks: DataFrame) -> DataFrame:
    """``scheduled`` with its decode flags; a url without a corpus hit
    gets fetch_ok=false and every flag false."""
    # join-back via shuffle-hash: both sides are ≤K rows, and a second
    # driver-built broadcast would serialize on the driver thread
    out = scheduled.join(checks.hint("shuffle_hash"), on="url", how="left")
    return (
        out.withColumn("fetch_ok", F.coalesce("fetch_ok", F.lit(False)))
        .withColumn("pixels_ok", F.coalesce("pixels_ok", F.lit(False)))
        .withColumn("caption_ok", F.coalesce("caption_ok", F.lit(False)))
        .withColumn("phash_ok", F.coalesce("phash_ok", F.lit(False)))
        .withColumn("psnr_db", F.coalesce("psnr_db", F.lit(0.0)))
    )
