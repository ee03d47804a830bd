"""Round-8 auxiliary measurement harness (guide §1.4) — NOT the driver
bench (bench.py is frozen for measurement). Three modes:

    python bench_extra.py quiet [max_wait_s]     # wait for a clean box
    python bench_extra.py queries [name ...]     # warm noop timings, 3 reps
    python bench_extra.py stages                 # sub-stage isolation of the
                                                 # round-8 hot queries

`quiet` blocks until load1 < 3 AND a single-core spin probe < 130 ms
(clean box ≈ 105 ms) or the deadline passes — the discipline VERDICT r7
#1 asked for, applied to this round's own measurements since bench.py
is frozen. `queries` reports per-rep walls plus the probe value next to
each, so a contended sample is visibly contended. `stages` isolates the
expensive queries' internal stages with the noop sink (checkpoint
barriers, candidate-pair joins, attach joins), the decomposition the
round-8 optimizations were selected from.

Uses $SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 — the scale the
driver measured round 7 at) and $SPARK_GRAFT_CPUS (default: the CPUs
this process may run on).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def spin_ms() -> float:
    x = 0x9E3779B9
    t0 = time.perf_counter()
    for _ in range(1_000_000):
        x = (x * 0x2545F491 + 0x3C6EF372) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1000


def wait_quiet(max_wait_s: float = 600) -> bool:
    deadline = time.time() + max_wait_s
    while time.time() < deadline:
        load1 = float(open("/proc/loadavg").read().split()[0])
        p = spin_ms()
        if load1 < 3.0 and p < 130:
            print(f"quiet: load1={load1} probe={p:.0f}ms")
            return True
        time.sleep(15)
    print(f"TIMEOUT degraded: load1={load1} probe={p:.0f}ms")
    return False


def _session():
    import __spark_entry__ as entry
    from ccrawler_spark.scheduler.cli import build_session

    spark = build_session(CPUS)
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()

    def _touch(batches):
        import numpy  # noqa: F401

        yield from batches

    spark.range(10_000).repartition(CPUS).mapInPandas(
        _touch, "id long"
    ).count()
    return spark, entry


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_queries(names: list[str]) -> int:
    spark, entry = _session()
    qs = entry.queries()
    for name in names or [n for n in qs if n != "crawl_round_log"]:
        for i in range(3):
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            print(f"{name}[{i}] {time.time() - t0:.2f}s"
                  f" (probe {spin_ms():.0f}ms)")
    spark.stop()
    return 0


def run_stages() -> int:
    from pyspark.sql import functions as F

    spark, entry = _session()
    import ccrawler_spark.textops.dedup as D
    from ccrawler_spark.textops.similarity import SRP_BUCKET_CAP, srp_buckets

    def t(fn, label, n=2):
        for i in range(n):
            t0 = time.time()
            fn()
            print(f"{label}[{i}] {time.time() - t0:.2f}s")

    docs = entry._docs(spark, SF_DIR)
    embs = entry._embs(spark, SF_DIR)
    # lsh/ngram decomposition
    t(lambda: D.minhash_signatures(docs).localCheckpoint(eager=True),
      "lsh: sigs checkpoint")
    sigs = D.minhash_signatures(docs).localCheckpoint(eager=True)
    capped = D._drop_overfull(
        D.lsh_band_buckets(sigs), ["band", "bucket"], D.LSH_BUCKET_CAP)
    a = capped.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = capped.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    pairs = (a.join(b, on=["band", "bucket"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct())
    t(lambda: _noop(pairs), "lsh: banded pairs")
    # simhash near-pairs members
    t(lambda: D.simhash64(docs).localCheckpoint(eager=True),
      "simhash_near: fingerprint checkpoint")
    t(lambda: _noop(entry.q_simhash_near_pairs(spark, SF_DIR)),
      "simhash_near: full")
    # embedding near-dup
    t(lambda: srp_buckets(embs, 64, 10, 4, with_norm=True)
      .localCheckpoint(eager=True), "embnd: srp checkpoint")
    t(lambda: _noop(entry.q_embedding_near_dup(spark, SF_DIR)),
      "embnd: full")
    spark.stop()
    return 0


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "quiet":
        wait_quiet(float(sys.argv[2]) if len(sys.argv) > 2 else 600)
        return 0
    if mode == "stages":
        return run_stages()
    return run_queries(sys.argv[2:] if mode == "queries" else [])


if __name__ == "__main__":
    sys.exit(main())
