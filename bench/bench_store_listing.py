"""Time opening and counting a store-shaped table with 4,096
``host_bucket`` directories (the design-scale bucket count) with
``spark.sql.sources.parallelPartitionDiscovery.threshold`` at Spark's
default (32: a listing job) and at build_session's 4096 (the driver
lists). Each read uses a fresh copy of the table, so nothing is served
from a listing cache; the two settings alternate first between reps.

    python bench/bench_store_listing.py [--cores 4] [--reps 5]

Writes BENCH/store_listing.json and prints the medians.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import statistics
import sys
import tempfile
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

BUCKETS = 4096
KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccrawler_spark.scheduler.cli import build_session

    rows = pa.table({"url_hash": pa.array([1, 2, 3], pa.int64()),
                     "url": ["a", "b", "c"]})
    with tempfile.TemporaryDirectory(prefix="listing-") as root:
        n_copies = 2 * args.reps + 1
        for c in range(n_copies):
            for b in range(BUCKETS):
                d = pathlib.Path(root, f"c{c}", f"host_bucket={b}")
                d.mkdir(parents=True)
                pq.write_table(rows, d / "part-0.parquet")
        spark = build_session(args.cores)
        spark.sparkContext.setLogLevel("ERROR")
        spark.read.parquet(f"{root}/c0").count()  # warm the read path
        res = {t: {"open_s": [], "count_s": []} for t in ("32", "4096")}
        c = 1
        for rep in range(args.reps):
            for t in (("32", "4096") if rep % 2 == 0 else ("4096", "32")):
                spark.conf.set(KEY, t)
                t0 = time.perf_counter()
                df = spark.read.parquet(f"{root}/c{c}")
                t1 = time.perf_counter()
                assert df.count() == 3 * BUCKETS
                t2 = time.perf_counter()
                res[t]["open_s"].append(round(t1 - t0, 3))
                res[t]["count_s"].append(round(t2 - t1, 3))
                c += 1
        spark.stop()
    out = {"what": f"spark.read.parquet open and count walls (s) of a "
                   f"{BUCKETS}-directory table by listing threshold",
           "cores": args.cores, "reps": args.reps, "walls": res}
    (REPO / "BENCH" / "store_listing.json").write_text(
        json.dumps(out, indent=1) + "\n")
    for t, r in res.items():
        print(t, {k: statistics.median(v) for k, v in r.items()})


if __name__ == "__main__":
    main()
