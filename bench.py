"""Driver bench harness: times the headline queries from
``__spark_entry__.queries()`` plus one full crawl scheduling round, at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run
on), and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1}

Noise robustness (VERDICT r5 #1 — two consecutive rounds the committed
artifact was dominated by ambient host load): every headline query runs
REPS=3 times and reports the MEDIAN (all runs kept in ``query_runs``);
the crawl round runs as 3 independent bootstrap+round-1 timings, median
reported; and /proc/loadavg (1- and 5-min) is recorded at suite start,
suite end, and before every query into the artifact, so the JSON carries
its own load provenance instead of needing after-the-fact forensics.

Artifact split (round 7): the FINAL stdout line is a compact JSON with
only per-query medians (the driver's tail capture truncated the r6
full-provenance line, losing 7 queries from the official record); the
full provenance — per-run samples, loadavg series, CPU probes,
steal/busy window — is written to ``BENCH/bench_suite_<utc>.json``.

The crawl engine's own scaling bench (local[8] vs local[32], BASELINE.md
protocol) lives in bench/run_bench.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# every driver-gate query is timed — untimed = unwatched for regression
HEADLINE = [
    "topk_per_group", "priority_dequeue", "anti_join_dedup", "window_lag",
    "rollup_metrics", "hot_key_detection", "asof_latest", "set_union",
    "broadcast_dim_join", "bucket_histogram", "dedup_exact",
    "minhash_signatures", "lsh_candidate_pairs", "ngram_jaccard_pairs",
    "simhash", "simhash_near_pairs", "phash_near_pairs",
    "phash_near_pairs_star", "token_stats",
    "quality_score", "lang_id", "training_corpus_select", "fingerprint",
    "ann_cosine_topk",
    "ann_cosine_topk_lsh", "ann_cosine_topk_ivf",
    "ann_cosine_topk_ivf_trained", "embedding_near_dup",
    "pruned_corpus_read",
]


def loadavg() -> list[float]:
    """[1-min, 5-min] load average (provenance, not measurement)."""
    try:
        with open("/proc/loadavg") as f:
            parts = f.read().split()
        return [float(parts[0]), float(parts[1])]
    except OSError:  # non-Linux fallback: provenance is best-effort
        return [-1.0, -1.0]


def cpu_ticks() -> tuple[int, int, int]:
    """(total, steal, busy) jiffies from /proc/stat line 1. The steal
    fraction over the suite window is the hypervisor's contribution to
    slowness (this box runs virtualized: cumulative steal is nonzero);
    busy fraction shows how much of the box the suite itself held."""
    try:
        v = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return sum(v), v[7], v[0] + v[2]
    except (OSError, IndexError, ValueError):
        return 0, 0, 0


def _spin(_=None) -> int:
    x = 0x9E3779B9
    for _i in range(1_000_000):
        x = (x * 0x2545F491 + 0x3C6EF372) & 0xFFFFFFFF
    return x


def cpu_probe_ms() -> dict:
    """{"single": ms, "multi8": ms} — wall time of a fixed pure-Python
    spin, once on one core and once as 8 concurrent processes (slowest
    of the 8). Loadavg misses what a shared box does to EFFECTIVE
    compute: identical-code suite invocations at start load < 0.5
    spread 23-47 s total with inflation uniform across queries — and a
    fast SINGLE-thread probe during a slow invocation (measured:
    127 ms probe, 46.8 s total) pins the contention to the multi-core
    envelope (neighbor containers squatting cores), which only a
    concurrent probe exposes. Compare probe values across artifacts
    before comparing query times."""
    from concurrent.futures import ProcessPoolExecutor

    t0 = time.perf_counter()
    _spin()
    single = (time.perf_counter() - t0) * 1000
    with ProcessPoolExecutor(max_workers=8) as ex:
        t0 = time.perf_counter()
        list(ex.map(_spin, range(8)))
        multi = (time.perf_counter() - t0) * 1000
    return {"single": round(single, 1), "multi8": round(multi, 1)}


def main() -> int:
    import __spark_entry__ as entry
    from ccrawler_spark.scheduler.cli import build_session

    load_start = loadavg()
    probe_start = cpu_probe_ms()
    ticks_start = cpu_ticks()
    spark = build_session(CPUS)
    qs = entry.queries()
    # session warm-up, untimed: JVM/executor spawn, first-shuffle and
    # first-parquet-footer costs are startup, not query cost (the first
    # headline query was absorbing ~4.5 s of them)
    from pyspark.sql import functions as F

    spark.range(100_000).repartition(8, "id").groupBy(
        F.pmod("id", F.lit(7))
    ).count().count()
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()

    # spawn the Arrow Python workers once (daemon fork + numpy import
    # per worker, ~2 s across 32 slots): a long-lived cluster has warm
    # workers, so charging the spawn to whichever query happens to
    # cross into Python first would misattribute startup as query cost
    def _touch(batches):
        import numpy  # noqa: F401 — preload into the worker

        yield from batches

    spark.range(10_000).repartition(CPUS).mapInPandas(
        _touch, "id long"
    ).count()
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    load_before: dict[str, float] = {}
    for name in HEADLINE:
        load_before[name] = loadavg()[0]
        samples = []
        for _ in range(REPS):
            t0 = time.time()
            # noop sink: materializes EVERY produced column without
            # driver collect or disk IO. count() (rounds 1-3) let
            # Catalyst prune computed output columns, understating any
            # query whose cost is in what it produces (simhash measured
            # 0.4 s via count vs ~2.8 s fully materialized — VERDICT r3
            # "honesty nit"). Totals are therefore not comparable to
            # BENCH_r0{1..3}; the metric string marks the protocol.
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(round(time.time() - t0, 3))
        runs[name] = samples
        timings[name] = round(statistics.median(samples), 3)

    # the crawl round: REPS independent bootstrap + round-1 timings
    # (each in a fresh store — identical work per sample, so the median
    # is a median of the SAME measurement, not of diverging frontier
    # states), bootstrap untimed
    from ccrawler_spark.fixtures.gen import (
        ensure_corpus_layout, ensure_fixtures,
    )
    from ccrawler_spark.scheduler.cli import make_engine

    fdir = str(ensure_fixtures("tiny"))
    layout = str(ensure_corpus_layout(spark, fdir))  # cached, untimed
    seeds = spark.read.parquet(f"{fdir}/seeds.parquet")
    load_before["crawl_round"] = loadavg()[0]
    samples = []
    for _ in range(REPS):
        with tempfile.TemporaryDirectory() as out:
            engine, _ = make_engine(spark, fdir, out, size="tiny",
                                    corpus_layout=layout)
            engine.bootstrap(seeds)
            t0 = time.time()
            engine.run_round(1)
            samples.append(round(time.time() - t0, 3))
    runs["crawl_round"] = samples
    timings["crawl_round"] = round(statistics.median(samples), 3)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = SF_DIR
    te = cpu_ticks()
    dt = max(1, te[0] - ticks_start[0])
    # Full provenance (per-run samples, loadavg, CPU probes, steal/busy
    # window) goes to a BENCH/ file; the FINAL stdout line stays compact
    # (medians only). Round 6's official artifact was front-truncated
    # because this JSON outgrew the driver's tail capture — the official
    # record lost 7 queries' medians (VERDICT r6 "What's wrong" #1).
    provenance = {
        "metric": "headline query suite (noop-sink full materialization,"
                  " per-query median of 3, r6 protocol) + one crawl"
                  " round (median of 3), wall seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_runs": runs,
        "load1_before": load_before,
        "loadavg": {"start": load_start, "end": loadavg()},
        "cpu_probe_ms": {"start": probe_start, "end": cpu_probe_ms()},
        "cpu_window": {
            "steal_frac": round((te[1] - ticks_start[1]) / dt, 4),
            "busy_frac": round((te[2] - ticks_start[2]) / dt, 3),
        },
        "reps": REPS,
        "sf": sf,
    }
    bench_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH")
    prov_path = None
    try:
        os.makedirs(bench_dir, exist_ok=True)
        prov_path = os.path.join(
            bench_dir,
            time.strftime("bench_suite_%Y%m%dT%H%M%S.json", time.gmtime()),
        )
        with open(prov_path, "w") as f:
            json.dump(provenance, f, indent=1)
    except OSError:
        prov_path = None  # read-only checkout: compact line still valid
    print(json.dumps({
        "metric": "headline suite median-of-%d + crawl round, sec"
                  " (full provenance in BENCH/)" % REPS,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": REPS,
        "sf": sf,
        "provenance_file": prov_path and os.path.basename(prov_path),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
