"""T2 at small scale (100k-URL universe, 5 rounds, K=2000) — exact
ordering + seen-set parity, robots denials, and skew sanity (T5-lite:
the Zipf(1.2) host distribution drives real hot-host pressure through
the per-host top-k of stages.schedule)."""

import pytest

from ccrawler_spark import testing as tt


@pytest.fixture(scope="module")
def small_run(spark, small_fixtures, tmp_path_factory):
    out = tmp_path_factory.mktemp("small_store")
    engine, store, stats = tt.engine_run(spark, "small", str(out), rounds=5)
    oracle = tt.oracle_run("small", rounds=5)
    return store, oracle, stats


def test_small_fetch_ordering_exact(small_run):
    store, oracle, _ = small_run
    eng = tt.engine_fetch_sequence(store)
    orc = tt.oracle_fetch_sequence(oracle)
    assert len(eng) == len(orc)
    mismatches = [(e, o) for e, o in zip(eng, orc) if e != o]
    assert not mismatches, mismatches[:5]


def test_small_seen_set_exact(small_run):
    store, oracle, _ = small_run
    assert tt.engine_seen(store, store.latest()) == oracle.seen


def test_small_denied(small_run):
    store, oracle, stats = small_run
    assert sum(s.denied for s in stats) == len(oracle.denied)
    assert len(oracle.denied) > 0  # fixture actually exercises robots


def test_small_invariant_rates(small_run):
    """All fetches decode + verify, in bulk (no per-row Python loop)."""
    from pyspark.sql import functions as F

    store, _, _ = small_run
    agg = store.read_fetch_log().agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("fetch_ok") & F.col("pixels_ok")
                     & F.col("caption_ok") & F.col("phash_ok"), 0)
              .otherwise(1)).alias("bad"),
        F.min("psnr_db").alias("min_psnr"),
    ).collect()[0]
    # per-host k=2 × 500 hosts caps a round at 1000 fetches
    assert agg["n"] > 2000
    assert agg["bad"] == 0
    assert agg["min_psnr"] >= 40.0
