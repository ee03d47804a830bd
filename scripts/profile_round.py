"""Stage-level timing of one round under the BENCH conf at a given
core count, over a generated fixture (default ``bench``):

    python scripts/profile_round.py 32
    python scripts/profile_round.py 4 tiny

The snapshot store lives in a temporary directory that is removed on
exit.
"""

import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from ccrawler_spark.conf import BENCH
from ccrawler_spark.scheduler import stages
from ccrawler_spark.scheduler.cli import build_session, make_engine
from ccrawler_spark.scheduler.engine import FRONTIER_COLS
from ccrawler_spark.scheduler.fetch import fetch_and_decode
from ccrawler_spark.scheduler.seen import seen_dedup

cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
spark = build_session(cores)
fdir = str(ROOT / ".fixtures" / (sys.argv[2] if len(sys.argv) > 2 else "bench"))
# removed by its finalizer even when a step raises
tmp = tempfile.TemporaryDirectory(prefix="profile-round-")
engine, store = make_engine(spark, fdir, tmp.name, conf=BENCH)
sys.path.insert(0, str(ROOT / "bench"))
from run_bench import universe_seeds

seeds = universe_seeds(spark, fdir)
t0 = time.time()
engine.bootstrap(seeds)
print(f"[{cores}] bootstrap {time.time()-t0:.1f}s")


def T(label, fn):
    t = time.time()
    v = fn()
    print(f"[{cores}] {label}: {time.time()-t:.2f}s")
    return v


conf = BENCH
r = 1
prev = store.read_manifest(0)
round_ts = conf.t0_micros + r * conf.round_period_micros
frontier = store.read_frontier(0)
gated = stages.robots_gate(frontier, engine.robots_active, conf).cache()
denied = gated.filter(~F.col("allowed")).select(*FRONTIER_COLS)
allowed = gated.filter(F.col("allowed"))
sched0 = stages.schedule(allowed, conf, engine.H).cache()
groups, counts, _ = T("dequeue+metadata",
                      lambda: engine._sched_metadata(sched0))
n_scheduled = sum(counts.values())
fetched = stages.with_fetch_sequence(
    fetch_and_decode(sched0, engine.corpus, n_scheduled), groups, r, 0
)
log_cols = ["seq", "url", "host", "host_bucket", "slot_ms", "priority",
            "discover_ts", "depth", "fetch_ok", "pixels_ok", "caption_ok",
            "phash_ok", "psnr_db"]
T("fetch+decode+log-write", lambda: store.write_parquet(
    fetched.select(*log_cols), "fetch_log", "round=1"))
candidates = stages.as_frontier_rows(
    stages.dedup_in_round(
        stages.discover_links(sched0, engine.hosts, conf, engine.H, round_ts)
    ), conf)
seen = store.read_seen(0)
fresh = (
    seen_dedup(candidates, seen)
    .withColumn("status", F.lit("queued"))
    .withColumn("retry_count", F.lit(0))
    .select(*FRONTIER_COLS)
    .repartition("host_bucket")
    .cache()
)
T("discover+dedup+seen", lambda: fresh.count())
T("counts x2", lambda: (engine._bucket_counts(denied),
                        engine._bucket_counts(fresh)))
T("denied write", lambda: store.write_parquet(
    denied.select("url_hash", "url"), "frontier", "denied-r1"))
bloom = store.read_bloom_latest(0)
T("bloom delta", lambda: engine._write_bloom_delta(fresh, bloom, 1))
spark.stop()
tmp.cleanup()
