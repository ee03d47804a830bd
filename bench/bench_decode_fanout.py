"""Time the decode crossing of fetch_and_decode at fixed task counts
for schedules between the two perfbench workloads (40 and 11,629
images), to check the decode rule of scheduler/fetch.py (512 images a
task, at most defaultParallelism) where neither workload reaches.
This times the flat join + decode plan; the layout fetch
(fetch_from_layout) sizes its decoding scan by the same rule, and the
range split on host_bucket gives it at most one task per scheduled
bucket.

The schedule and its corpus rows are cached first, so the wall covers
the broadcast join, the decode shuffle, the Arrow crossing and the
join-back only. Task counts are forced by patching stages.fanout;
each rep runs every (size, task count) cell, alternating the task
order between reps.

    python bench/bench_decode_fanout.py [--cores 4] [--reps 7]

Writes BENCH/decode_fanout.json and prints the per-cell medians.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import statistics
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SIZES = (40, 250, 500, 1000, 2000, 4000)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=7)
    args = ap.parse_args()

    from ccrawler_spark.conf import SMALL
    from ccrawler_spark.fixtures.gen import ensure_fixtures, universe_urls_df
    from ccrawler_spark.scheduler import fetch, stages
    from ccrawler_spark.scheduler.cli import build_session

    spark = build_session(args.cores)
    fdir = str(ensure_fixtures("small"))
    corpus = spark.read.parquet(f"{fdir}/corpus.parquet")
    urls = stages.with_url_derivations(
        universe_urls_df(spark, fdir).select("url"), SMALL
    ).join(corpus.select("image_id"), "image_id").dropDuplicates(["url"])
    pool = (urls.select("url", "image_id", "host", "url_hash")
            .orderBy("url_hash").limit(max(SIZES)).cache())
    assert pool.count() == max(SIZES)
    frames = {}
    for n in SIZES:
        sched = pool.limit(n).cache()
        sched.count()
        side = corpus.join(
            sched.select("image_id").distinct().hint("broadcast"), "image_id"
        ).cache()
        side.count()
        frames[n] = (sched, side)

    def run(n: int, tasks: int) -> float:
        stages.fanout = lambda *_: tasks
        sched, side = frames[n]
        t0 = time.perf_counter()
        (fetch.fetch_and_decode(sched, side, n)
         .write.format("noop").mode("overwrite").save())
        return round(time.perf_counter() - t0, 3)

    dp = spark.sparkContext.defaultParallelism
    task_counts = sorted({1, 2, dp, 2 * dp})
    for _ in range(2):  # spawn and import the Python workers, untimed
        run(max(SIZES), 2 * dp)
    walls = {n: {t: [] for t in task_counts} for n in SIZES}
    for rep in range(args.reps):
        order = task_counts if rep % 2 == 0 else task_counts[::-1]
        for n in SIZES:
            for t in order:
                walls[n][t].append(run(n, t))
    out = {
        "what": "fetch_and_decode wall (s) by schedule size and forced "
                "decode task count; cached schedule and corpus rows, "
                "small fixture",
        "cores": args.cores,
        "reps": args.reps,
        "walls": {str(n): {str(t): w for t, w in row.items()}
                  for n, row in walls.items()},
    }
    (REPO / "BENCH" / "decode_fanout.json").write_text(
        json.dumps(out, indent=1) + "\n")
    for n, row in walls.items():
        print(n, {t: statistics.median(w) for t, w in row.items()})
    spark.stop()


if __name__ == "__main__":
    main()
