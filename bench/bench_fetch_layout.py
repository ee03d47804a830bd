"""Measure the fetch-path corpus layout (io/corpus_layout) against the
flat corpus at bench scale (10^7-row corpus), in both scheduling
regimes, plus the row-group-touch histogram VERDICT r3 asked for.

- **sparse** (the design-scale shape: frontier ≫ fetch batch, a round
  touches a small fraction of the host universe): ~1% of hosts
  scheduled at per_host_k=200. The layout prunes to the scheduled
  buckets and pushes the host IN filter; the flat corpus must scan
  everything.
- **dense** (the sandbox bench conf: per_host_k=200 over ALL hosts,
  ~20% of the corpus fetched per round): every bucket and essentially
  every row group is touched — the histogram quantifies that, which is
  the measured irreducibility proof for the dense regime.

    python bench/bench_fetch_layout.py [--cores 32]

Writes BENCH/fetch_layout.json and prints one JSON line.
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


def rowgroup_histogram(layout: str, hosts: set[str] | None,
                       wide: set[str] | None = None,
                       wide_ids: set[str] | None = None,
                       ids: set[str] | None = None,
                       host_ids: dict[str, set[str]] | None = None):
    """(touched, total) row groups the pruned scan would read — the
    metadata-level skipping bound. hosts=None means the dense all-hosts
    schedule (every group touched by definition). The layout clusters
    on the bucket-prefixed NUMERIC host_key (io/corpus_layout
    .CLUSTER_KEYS): host-string stats interleave lexicographically, and
    an un-prefixed hash key cross-admits groups of other buckets — both
    measured r5. With a wide-host split, a group admitted ONLY by a
    wide host's key must additionally contain one of its scheduled
    image_ids (the id stats are tight inside a sorted run). With a
    global ``ids`` set (arrow reader, global AND of the host_key and
    image_id admissions), an admitted group must also contain one
    scheduled id. With ``host_ids`` (the engine's actual arrow mode,
    r6), the id test is HOST-SCOPED: a group is admitted only if some
    scheduled host key in its key range has one of ITS OWN ids in the
    group's id range — mirroring arrow_scan's admits_scoped exactly.
    The bucket count comes from
    the layout's own metadata sidecar, not a hard-coded constant — a
    layout written with different bucketing would otherwise silently
    produce a bogus histogram (ADVICE r5)."""
    import bisect

    import pyarrow.parquet as pq

    from ccrawler_spark.io.corpus_layout import host_key_py, read_layout_meta

    b = int(read_layout_meta(layout)["buckets"])

    def _admits(srt, lo_v, hi_v):
        lo = bisect.bisect_left(srt, lo_v)
        return lo < len(srt) and srt[lo] <= hi_v

    total = touched = 0
    narrow = (hosts - wide) if (hosts and wide) else hosts
    srt_n = (sorted(host_key_py(h, b) for h in narrow)
             if narrow is not None else None)
    srt_w = sorted(host_key_py(h, b) for h in wide) if wide else None
    srt_wi = sorted(wide_ids) if wide_ids else None
    srt_ids = sorted(ids) if ids else None
    by_key = None
    if host_ids is not None:
        by_key = {}
        for h, v in host_ids.items():
            by_key.setdefault(host_key_py(h, b), []).extend(v)
        by_key = {k: sorted(v) for k, v in by_key.items()}
        srt_n = sorted(by_key)
    for pf in pathlib.Path(layout).glob("host_bucket=*/*.parquet"):
        md = pq.ParquetFile(pf).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(cols["host_key"]).statistics
            sti = md.row_group(rg).column(cols["image_id"]).statistics
            total += 1
            if by_key is not None:
                lo = bisect.bisect_left(srt_n, st.min)
                hi = bisect.bisect_right(srt_n, st.max, lo)
                if any(_admits(by_key[k], sti.min, sti.max)
                       for k in srt_n[lo:hi]):
                    touched += 1
                continue
            if srt_ids is not None and not _admits(srt_ids, sti.min, sti.max):
                continue  # the global AND id filter alone skips it
            if srt_n is None:
                touched += 1
            elif _admits(srt_n, st.min, st.max):
                touched += 1
            elif srt_w and _admits(srt_w, st.min, st.max):
                if srt_wi is None or _admits(srt_wi, sti.min, sti.max):
                    touched += 1
    return touched, total


def time_fetch(spark, scheduled, corpus, n_rows: int,
               reps: int = 2) -> list[float]:
    from ccrawler_spark.scheduler.fetch import fetch_and_decode

    walls = []
    for _ in range(reps):
        t0 = time.time()
        fetch_and_decode(scheduled, corpus, n_rows).count()
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
    from ccrawler_spark.io.corpus_layout import (
        HOST_PUSHDOWN_CAP, ID_PUSHDOWN_CAP, pruned_corpus,
    )
    from ccrawler_spark.scheduler.cli import build_session

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
    from ccrawler_spark.functions.hashing import umod, xxhash64_str
    from ccrawler_spark.io.corpus_layout import (
        pruned_corpus_split, read_layout_meta, split_hosts_by_width,
    )

    meta = read_layout_meta(layout)
    for regime, step in (("sparse", 100), ("dense", 1)):
        sched = scheduled_for_hosts(spark, fdir, step=step, k=200).cache()
        n = sched.count()
        hosts = ids = wide = wide_ids = None
        if regime == "sparse":
            hosts = {r["host"] for r in sched.select("host").distinct().collect()}
            if n <= ID_PUSHDOWN_CAP:
                ids = {r["image_id"] for r in sched.select("image_id").collect()}
        buckets = [
            r["host_bucket"]
            for r in sched.select("host_bucket").distinct().collect()
        ]
        if (hosts and len(hosts) <= HOST_PUSHDOWN_CAP and ids is None
                and meta and meta.get("wide_host_keys")):
            # engine-parallel two-scan split (engine._sched_metadata):
            # full id set over the cap, wide hosts' share under it
            narrow, wide = split_hosts_by_width(meta, hosts)
            if wide:
                wide_ids = {
                    r["image_id"]
                    for r in sched.filter(
                        F.col("host").isin(sorted(wide))
                    ).select("image_id").collect()
                }
                if len(wide_ids) > ID_PUSHDOWN_CAP:
                    wide = wide_ids = None
        if wide:
            pruned = pruned_corpus_split(
                spark, layout, narrow_hosts=hosts - wide,
                wide_hosts=wide, wide_ids=wide_ids,
                buckets_of=lambda h: umod(xxhash64_str(h), 64),
            )
        else:
            pruned = pruned_corpus(
                spark, layout, buckets=buckets,
                hosts=hosts if hosts and len(hosts) <= HOST_PUSHDOWN_CAP
                else None,
                ids=ids,
            )
        flat_walls = time_fetch(spark, sched, flat, n)
        layout_walls = time_fetch(spark, sched, pruned, n)
        touched, total = rowgroup_histogram(layout, hosts, wide, wide_ids)
        if regime == "sparse":
            # r6 set-based scan (io/arrow_scan): the engine's actual
            # plan for this schedule size now — the full (host → ids)
            # pairing pushed past the JVM Or-tree cap, id admission
            # scoped per host. The JVM wide-split numbers above remain
            # as the >ARROW_PUSHDOWN_CAP fallback.
            from ccrawler_spark.io.arrow_scan import pruned_corpus_arrow

            pairs = sched.select("host", "image_id").collect()
            h_ids: dict[str, set] = {}
            for r in pairs:
                h_ids.setdefault(r["host"], set()).add(r["image_id"])
            arrow = pruned_corpus_arrow(spark, layout, host_ids=h_ids)
            arrow_walls = time_fetch(spark, sched, arrow, n)
            t_a, tot_a = rowgroup_histogram(layout, None, host_ids=h_ids)
            out["sparse_arrow"] = {
                "scheduled_rows": n,
                "pushed_ids": len({r["image_id"] for r in pairs}),
                "flat_wall_s": flat_walls,
                "arrow_wall_s": arrow_walls,
                "speedup_warm_vs_flat": round(
                    flat_walls[-1] / arrow_walls[-1], 2
                ),
                "speedup_warm_vs_jvm_split": round(
                    layout_walls[-1] / arrow_walls[-1], 2
                ),
                "rowgroups_touched": t_a,
                "rowgroups_total": tot_a,
                "rowgroup_touch_frac": round(t_a / tot_a, 4),
            }
        out[regime] = {
            "scheduled_rows": n,
            "scheduled_hosts": len(hosts) if hosts else "all",
            "buckets": len(buckets),
            "wide_hosts": len(wide) if wide else 0,
            "wide_ids": len(wide_ids) if wide_ids else 0,
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
