"""Measure the fetch-path corpus layout (io/corpus_layout) against the
flat corpus, through the engine's one fetch plan
(fetch.fetch_from_layout: the schedule shuffled to the Arrow layout
scan, which admits row groups per host, filters by ``is_in`` and
decodes there), plus the row-group-touch histogram VERDICT r3 asked
for.

Default mode, at bench scale (10^7-row corpus), two schedules:

- **sparse** (the design-scale shape: frontier ≫ fetch batch, a round
  touches a small fraction of the host universe): ~1% of hosts
  scheduled at per_host_k=200; the flat corpus must scan everything.
- **dense** (the sandbox bench conf: per_host_k=200 over ALL hosts,
  ~20% of the corpus fetched per round): every bucket and nearly every
  row group is touched — the histogram quantifies that. The dense
  schedule is also timed through the plan the engine ran above 131,072
  schedule rows before the schedule was shuffled to the scan: a
  broadcast join over the layout pruned to the scheduled
  ``host_bucket`` partitions (``bucket_read``).

    python bench/bench_fetch_layout.py [--cores 32]

Needs the bench fixtures and a 48g driver heap (the one-time layout
job). Writes BENCH/fetch_layout.json and prints one JSON line.

``--synthetic`` mode, on the small fixture (10^5-URL universe): a
schedule of every universe url plus as many phantom ids on the same
hosts (200,000 rows, past the old 131,072-row cap), timed ``--reps``
times through the scan and through ``bucket_read``, with the rows
each reads and a flag-for-flag check against the flat corpus join.

    python bench/bench_fetch_layout.py --synthetic [--cores 4] [--reps 3]

Writes BENCH/fetch_layout_synthetic.json and prints one JSON line.
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
    """(touched, total) row groups and (rows in touched groups, rows in
    the touched buckets) — the metadata-level read of a plan.
    ``host_ids=None`` is the ``bucket_read`` of an all-hosts schedule
    (every group touched by definition); otherwise a group is admitted
    only if some scheduled host key in its key range has one of ITS OWN
    ids in the group's id range — mirroring arrow_scan's admits_scoped
    exactly. The bucket count comes from the layout's own metadata
    sidecar, not a hard-coded constant — a layout written with
    different bucketing would otherwise silently produce a bogus
    histogram (ADVICE r5)."""
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
    buckets = {k >> 57 for k in keys}
    total = touched = rows = bucket_rows = 0
    for pf in pathlib.Path(layout).glob("host_bucket=*/*.parquet"):
        md = pq.ParquetFile(pf).metadata
        in_sched = host_ids is None or int(
            pf.parent.name.split("=", 1)[1]) in buckets
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        for rg in range(md.num_row_groups):
            total += 1
            n = md.row_group(rg).num_rows
            bucket_rows += n if in_sched else 0
            if host_ids is None:
                touched += 1
                rows += n
                continue
            st = md.row_group(rg).column(cols["host_key"]).statistics
            sti = md.row_group(rg).column(cols["image_id"]).statistics
            lo = bisect.bisect_left(keys, st.min)
            hi = bisect.bisect_right(keys, st.max, lo)
            if any(_admits(by_key[k], sti.min, sti.max)
                   for k in keys[lo:hi]):
                touched += 1
                rows += n
    return touched, total, rows, bucket_rows


def host_id_map(sched) -> dict[str, list[str]]:
    """{host: [image_id, …]} of a schedule, for the histogram."""
    out: dict[str, list[str]] = {}
    for r in sched.select("host", "image_id").collect():
        out.setdefault(r["host"], []).append(r["image_id"])
    return out


def bucket_read(spark, sched, layout: str, n: int):
    """The dense plan the engine ran above 131,072 schedule rows: a
    broadcast join of the schedule over the layout pruned to its
    scheduled ``host_bucket`` partitions (fetch.fetch_and_decode)."""
    from pyspark.sql import functions as F

    from ccrawler_spark.scheduler.fetch import fetch_and_decode

    buckets = sorted(
        r["host_bucket"]
        for r in sched.select("host_bucket").distinct().collect()
    )
    pruned = spark.read.parquet(layout).filter(
        F.col("host_bucket").isin(buckets))
    return lambda: fetch_and_decode(sched, pruned, n)


def time_fetch(fetched, reps: int = 2) -> list[float]:
    """Walls of ``fetched().count()``: one fetch plan, built and run."""
    walls = []
    for _ in range(reps):
        t0 = time.time()
        fetched().count()
        walls.append(round(time.time() - t0, 2))
    return walls


FLAG_COLS = ["url", "fetch_ok", "pixels_ok", "caption_ok", "phash_ok",
             "psnr_db", "dec_w", "dec_h"]


def _flags(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*FLAG_COLS).collect())


def synthetic(cores: int, reps: int) -> dict:
    """The --synthetic mode (module docstring)."""
    from pyspark.sql import functions as F

    from ccrawler_spark.fixtures.gen import (
        ensure_corpus_layout, ensure_fixtures, universe_urls_df,
    )
    from ccrawler_spark.functions.spark_exprs import (
        host_bucket, image_id_of,
    )
    from ccrawler_spark.scheduler.cli import build_session
    from ccrawler_spark.scheduler.fetch import (
        fetch_and_decode, fetch_from_layout,
    )

    spark = build_session(cores)
    fdir = str(ensure_fixtures("small"))
    layout = str(ensure_corpus_layout(spark, fdir))
    real = universe_urls_df(spark, fdir).select(
        "host", image_id_of(F.col("url")).alias("image_id"), "url"
    )
    phantom = real.select(
        "host",
        F.substring(F.sha2(F.concat("image_id", F.lit("#phantom")), 256),
                    1, 16).alias("image_id"),
        F.concat("url", F.lit("#phantom")).alias("url"),
    )
    sched = real.unionByName(phantom).withColumn(
        "host_bucket", host_bucket(F.col("host"), 64)
    ).withColumn("slot_ms", F.lit(0).cast("long")).cache()
    n = sched.count()
    plans = {
        "scan": lambda: fetch_from_layout(sched, layout, n),
        "bucket_read": bucket_read(spark, sched, layout, n),
    }
    walls: dict[str, list[float]] = {k: [] for k in plans}
    for i in range(reps):  # alternate which plan runs first
        for k in (list(plans) if i % 2 == 0 else list(plans)[::-1]):
            walls[k] += time_fetch(plans[k], reps=1)
    want = _flags(fetch_and_decode(
        sched, spark.read.parquet(f"{fdir}/corpus.parquet"), n))
    touched, total, rows, bucket_rows = rowgroup_histogram(
        layout, host_id_map(sched))
    out = {
        "cores": cores, "fixture": "small", "scheduled_rows": n,
        "fetched_ok": sum(r[1] for r in want),
        "wall_s": walls,
        "flags_equal_flat_join": {
            k: _flags(plans[k]()) == want for k in plans},
        "rows_read": {"scan": rows, "bucket_read": bucket_rows},
        "rowgroups_touched": {"scan": touched, "bucket_read": total},
        "rowgroups_total": total,
    }
    sched.unpersist()
    return out, spark


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--synthetic", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    (REPO / "BENCH").mkdir(exist_ok=True)
    if args.synthetic:
        out, spark = synthetic(args.cores, args.reps)
        with open(REPO / "BENCH" / "fetch_layout_synthetic.json", "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out))
        spark.stop()
        return

    from ccrawler_spark.fixtures.gen import (
        ensure_bench_fixtures, ensure_corpus_layout,
    )
    from ccrawler_spark.scheduler.cli import build_session
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
        layout_walls = time_fetch(lambda: fetch_from_layout(sched, layout, n))
        flat_walls = time_fetch(lambda: fetch_and_decode(sched, flat, n))
        host_ids = host_id_map(sched)
        touched, total, _, _ = rowgroup_histogram(layout, host_ids)
        out[regime] = {
            "plan": "arrow_scan",
            "scheduled_rows": n,
            "scheduled_hosts": len(host_ids),
            "flat_wall_s": flat_walls,
            "layout_wall_s": layout_walls,
            "speedup_warm": round(flat_walls[-1] / layout_walls[-1], 2),
            "rowgroups_touched": touched,
            "rowgroups_total": total,
            "rowgroup_touch_frac": round(touched / total, 4),
        }
        if regime == "dense":
            out[regime]["bucket_read_wall_s"] = time_fetch(
                bucket_read(spark, sched, layout, n))
        sched.unpersist()
    with open(REPO / "BENCH" / "fetch_layout.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
