"""O30 recrawl: fetched URLs re-enter the frontier after the recrawl
interval and the due predicate gates eligibility — exact ordering/seen
parity vs the oracle, including across compaction (the sequence-aware
merge-on-read must keep a same-round re-add alive while deleting the
older copy)."""

import dataclasses

import pytest

from ccrawler_spark import testing as tt
from ccrawler_spark.conf import TINY

# 150 s = 2.5 round periods: round-1 fetches become due again at round 4
RECRAWL_CONF = dataclasses.replace(TINY, recrawl_interval_micros=150_000_000)
ROUNDS = 6


@pytest.fixture(scope="module")
def recrawl_run(spark, tiny_fixtures, tmp_path_factory):
    out = tmp_path_factory.mktemp("recrawl_store")
    engine, store, stats = tt.engine_run(
        spark, "tiny", str(out), rounds=ROUNDS, conf=RECRAWL_CONF
    )
    oracle = tt.oracle_run("tiny", rounds=ROUNDS, conf=RECRAWL_CONF)
    return store, oracle, stats


def test_recrawl_actually_happens(recrawl_run):
    """Some URL must be fetched more than once, else the test proves
    nothing about the recrawl path."""
    store, oracle, _ = recrawl_run
    eng = tt.engine_fetch_sequence(store)
    urls = [e[2] for e in eng]
    assert len(urls) > len(set(urls)), "no URL was ever refetched"


def test_recrawl_ordering_parity(recrawl_run):
    store, oracle, _ = recrawl_run
    eng = tt.engine_fetch_sequence(store)
    orc = tt.oracle_fetch_sequence(oracle)
    assert len(eng) == len(orc)
    for e, o in zip(eng, orc):
        assert e == o, f"engine {e} != oracle {o}"


def test_recrawl_seen_parity(recrawl_run):
    store, oracle, _ = recrawl_run
    assert tt.engine_seen(store, store.latest()) == oracle.seen


def test_recrawl_frontier_parity_per_round(recrawl_run):
    store, oracle, _ = recrawl_run
    for r in range(0, ROUNDS + 1):
        eng = tt.engine_frontier_urls(store, r)
        orc = {row.url for row in oracle.frontier_after[r]}
        assert eng == orc, f"frontier mismatch after round {r}"


def test_recrawl_under_compaction(spark, tiny_fixtures, tmp_path_factory):
    """compact_threshold=2 forces several base rewrites mid-run; the
    recrawl lifecycle (add→remove→re-add) must survive them exactly."""
    out = tmp_path_factory.mktemp("recrawl_compact")
    from ccrawler_spark.scheduler.cli import make_engine

    fdir, _, _, _ = tt.load_fixture_meta("tiny")
    engine, store = make_engine(
        spark, str(fdir), str(out), conf=RECRAWL_CONF, size="tiny"
    )
    store.compact_threshold = 2
    seeds = spark.read.parquet(f"{fdir}/seeds.parquet")
    engine.bootstrap(seeds)
    for r in range(1, ROUNDS + 1):
        engine.run_round(r)
    oracle = tt.oracle_run("tiny", rounds=ROUNDS, conf=RECRAWL_CONF)
    assert tt.engine_fetch_sequence(store) == tt.oracle_fetch_sequence(oracle)
    assert tt.engine_frontier_urls(store, ROUNDS) == {
        row.url for row in oracle.frontier_after[ROUNDS]
    }
    assert tt.engine_seen(store, ROUNDS) == oracle.seen
    # the compacted seen base folds the recrawl re-adds: one row per key
    base = store.read_manifest(ROUNDS)["seen"]["base"]
    assert base.startswith("seen/base-r"), base
    keys = spark.read.parquet(store.data_path(base))
    assert keys.count() == keys.dropDuplicates(["url_hash", "url"]).count()
