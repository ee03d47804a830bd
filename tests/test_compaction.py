"""Frontier delta-chain compaction: after threshold rounds the base is
rewritten and the chains reset — results must be identical to the
uncompacted run (and to the oracle)."""

from ccrawler_spark import testing as tt
from ccrawler_spark.conf import TINY
from ccrawler_spark.fixtures.gen import ensure_corpus_layout
from ccrawler_spark.io.snapshot import SnapshotStore
from ccrawler_spark.scheduler.engine import CrawlEngine


def test_compaction_preserves_parity(spark, tiny_fixtures, tmp_path):
    store = SnapshotStore(spark, tmp_path, TINY, compact_threshold=2)
    layout = str(ensure_corpus_layout(spark, tiny_fixtures))
    hosts = spark.read.parquet(f"{tiny_fixtures}/hosts.parquet")
    robots = spark.read.parquet(f"{tiny_fixtures}/robots.parquet")
    engine = CrawlEngine(spark, store, hosts, robots, TINY, layout)
    seeds = spark.read.parquet(f"{tiny_fixtures}/seeds.parquet")
    engine.bootstrap(seeds)
    for r in range(1, 4):
        engine.run_round(r)
    m = store.read_manifest(3)
    # threshold 2 ⇒ at least one compaction happened: chains were reset
    assert m["frontier"]["base"] != "frontier/base-r0"
    assert len(m["frontier"]["adds"]) < 3
    # no round writes a seen delta: the seen table holds only the flat
    # bases that frontier compaction rewrites
    seen_dirs = list((tmp_path / "data" / "seen").iterdir())
    assert seen_dirs and all(d.name.startswith("base-r") for d in seen_dirs)
    assert not [p for d in seen_dirs for p in d.iterdir() if p.is_dir()]
    assert tt.engine_seen(store, 3) == tt.oracle_run("tiny", rounds=3).seen
    # parity unchanged
    eng = tt.engine_fetch_sequence(store)
    orc = tt.oracle_fetch_sequence(tt.oracle_run("tiny", rounds=3))
    assert eng == orc
    # orphan GC leaves all referenced data intact
    store.gc_orphans()
    assert tt.engine_fetch_sequence(store) == orc


def test_long_horizon_chains_bounded_and_wall_flat(spark, tiny_fixtures,
                                                   tmp_path):
    """20 rounds with compact_threshold=3: every delta chain (frontier
    adds/removes, seen, bloom) must stay bounded by the threshold at
    EVERY round — the structure that makes per-round fixed cost
    independent of crawl age — and per-round wall must stay flat (no
    linear growth with round number). Parity vs the oracle over the
    full horizon, including after orphan GC."""
    import time

    ROUNDS = 20
    store = SnapshotStore(spark, tmp_path, TINY, compact_threshold=3)
    layout = str(ensure_corpus_layout(spark, tiny_fixtures))
    hosts = spark.read.parquet(f"{tiny_fixtures}/hosts.parquet")
    robots = spark.read.parquet(f"{tiny_fixtures}/robots.parquet")
    engine = CrawlEngine(spark, store, hosts, robots, TINY, layout)
    seeds = spark.read.parquet(f"{tiny_fixtures}/seeds.parquet")
    engine.bootstrap(seeds)
    walls = []
    for r in range(1, ROUNDS + 1):
        t0 = time.time()
        engine.run_round(r)
        walls.append(time.time() - t0)
        m = store.read_manifest(r)
        assert len(m["frontier"]["adds"]) < store.compact_threshold, r
        # the seen set reads its base plus the frontier adds chain
        assert 1 + len(m["frontier"]["adds"]) <= store.compact_threshold, r
        assert len(m["bloom"]["deltas"]) <= store.compact_threshold, r
    # compaction actually fired for each chain (paths renamed to base-r*)
    m = store.read_manifest(ROUNDS)
    assert m["seen"]["base"].startswith("seen/base-r")
    assert any(p.startswith("bloom/base-r") for p in m["bloom"]["deltas"])
    # wall flatness: late rounds must not cost materially more than the
    # post-warmup early rounds (chains bounded ⇒ no growth with age;
    # generous 2×+1s bound absorbs GC/JIT jitter)
    early = sum(walls[4:9]) / 5
    late = sum(walls[-5:]) / 5
    assert late <= 2.0 * early + 1.0, (early, late, walls)
    # exact parity over the full horizon
    eng = tt.engine_fetch_sequence(store)
    orc = tt.oracle_fetch_sequence(tt.oracle_run("tiny", rounds=ROUNDS))
    assert eng == orc
    store.gc_orphans()
    assert tt.engine_seen(store, ROUNDS) == tt.oracle_run(
        "tiny", rounds=ROUNDS
    ).seen
