"""Row-count-sized fan-out (stages.fanout): every count-sized shuffle on
the bootstrap and fetch path takes its task count from one rule, and a
small bootstrap no longer spreads snapshot 0 over 256 tasks."""

import pathlib

from ccrawler_spark.conf import TINY
from ccrawler_spark.fixtures.gen import ensure_corpus_layout
from ccrawler_spark.io.snapshot import SnapshotStore
from ccrawler_spark.scheduler import stages
from ccrawler_spark.scheduler.engine import CrawlEngine


def test_fanout_rules():
    f = stages.fanout
    # bootstrap layout (engine.bootstrap): 25k seeds a task, cap 256
    assert f(300, 25_000, 256) == 1
    assert f(25_000, 25_000, 256) == 1
    assert f(25_001, 25_000, 256) == 2
    assert f(10_000_000, 25_000, 256) == 256
    # adds delta (engine.run_round): same rows per task, capped at 64
    assert f(0, 25_000, 64) == 1
    assert f(58, 25_000, 64) == 1
    assert f(100_000, 25_000, 64) == 4
    assert f(10_000_000, 25_000, 64) == 64
    # decode (fetch._decode_tasks): 512 images a task, cap dp — the
    # Arrow layout scan that decodes in fetch.fetch_from_layout, and the
    # decode crossing of the reference fetch.fetch_and_decode
    assert f(40, 512, 4) == 1
    assert f(1_500, 512, 4) == 3
    assert f(11_629, 512, 4) == 4
    assert f(11_629, 512, 32) == 23


def test_tiny_bootstrap_one_file_per_bucket(spark, tiny_fixtures, tmp_path):
    """A 1-partition bootstrap layout writes at most one data file into
    each host_bucket directory of the snapshot-0 frontier base."""
    store = SnapshotStore(spark, tmp_path, TINY)
    engine = CrawlEngine(
        spark, store,
        spark.read.parquet(f"{tiny_fixtures}/hosts.parquet"),
        spark.read.parquet(f"{tiny_fixtures}/robots.parquet"),
        TINY, str(ensure_corpus_layout(spark, tiny_fixtures)),
    )
    st = engine.bootstrap(spark.read.parquet(f"{tiny_fixtures}/seeds.parquet"))
    base = pathlib.Path(store.data_path("frontier", "base-r0"))
    dirs = sorted(base.glob("host_bucket=*"))
    assert dirs
    for d in dirs:
        assert len(list(d.glob("*.parquet"))) <= 1, d
    # the returned count comes from the per-bucket counts, not a recount
    assert st.queued_after == store.read_frontier(0).count()
