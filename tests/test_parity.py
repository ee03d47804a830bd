"""T2/T3: exact crawl-ordering + seen-set parity vs the oracle
(BASELINE.json:6; SURVEY.md §5.3), plus per-row fetch invariants."""

import pytest

from ccrawler_spark import testing as tt


@pytest.fixture(scope="module")
def tiny_scanned(spark, tiny_fixtures, tmp_path_factory):
    """The tiny run, plus the layout path of each call of the Arrow
    layout scan made while it ran (the fetch looks the scan up on its
    module at call time, so patching the module attribute reaches it)."""
    from ccrawler_spark.io import arrow_scan

    calls = []
    real = arrow_scan.scan_layout

    def counted(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    out = tmp_path_factory.mktemp("tiny_store")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(arrow_scan, "scan_layout", counted)
        engine, store, stats = tt.engine_run(spark, "tiny", str(out), rounds=3)
    oracle = tt.oracle_run("tiny", rounds=3)
    return store, oracle, stats, calls


@pytest.fixture(scope="module")
def tiny_run(tiny_scanned):
    return tiny_scanned[:3]


def test_every_round_fetches_through_layout_scan(spark, tiny_fixtures,
                                                 tiny_scanned):
    """The parity run is the benchmarked path: every round fetches
    through the Arrow scan of the fixture's corpus layout."""
    from ccrawler_spark.fixtures.gen import ensure_corpus_layout

    layout = str(ensure_corpus_layout(spark, tiny_fixtures))
    assert tiny_scanned[3] == [layout] * 3


def test_fetch_ordering_exact(tiny_run):
    """The fetch_log sequence equals the oracle's, element by element."""
    store, oracle, _ = tiny_run
    eng = tt.engine_fetch_sequence(store)
    orc = tt.oracle_fetch_sequence(oracle)
    assert len(eng) == len(orc)
    for e, o in zip(eng, orc):
        assert e == o, f"engine {e} != oracle {o}"


def test_seen_set_exact(tiny_run):
    store, oracle, _ = tiny_run
    assert tt.engine_seen(store, store.latest()) == oracle.seen


def test_frontier_contents_per_round(tiny_run):
    store, oracle, _ = tiny_run
    for r in range(0, 4):
        eng = tt.engine_frontier_urls(store, r)
        orc = {row.url for row in oracle.frontier_after[r]}
        assert eng == orc, f"frontier mismatch after round {r}"


def test_denied_counts(tiny_run):
    store, oracle, stats = tiny_run
    assert sum(s.denied for s in stats) == len(oracle.denied)


def test_per_row_fetch_invariants(tiny_run):
    """T3 (BASELINE.json:15): every fetched row decodes, matches the
    reference pixels (exact / PSNR>=40), caption and phash agree."""
    store, _, _ = tiny_run
    rows = store.read_fetch_log().collect()
    assert rows
    for r in rows:
        assert r["fetch_ok"], r["url"]
        assert r["pixels_ok"], r["url"]
        assert r["caption_ok"], r["url"]
        assert r["phash_ok"], r["url"]
        assert r["psnr_db"] >= 40.0


LINEAGE_FIELDS = ("frontier_offset", "bloom_version", "fetched", "denied",
                  "enqueued", "recrawled")


def test_lineage_offsets_match_frontier(tiny_run):
    """Manifest per-partition lineage (frontier offsets) must agree with
    the actual composed frontier (BASELINE.json:6 resumability), and
    every committed round's per-bucket metrics rows must equal its
    manifest lineage, field by field."""
    store, _, _ = tiny_run
    n = store.latest()
    m = store.read_manifest(n)
    actual = {
        int(r["host_bucket"]): int(r["count"])
        for r in store.read_frontier(n).groupBy("host_bucket").count().collect()
    }
    manifest = {
        int(b): v["frontier_offset"]
        for b, v in m["lineage"].items()
        if v["frontier_offset"] != 0
    }
    assert manifest == actual

    for r in range(n + 1):
        lineage = {
            int(b): tuple(v[f] for f in LINEAGE_FIELDS)
            for b, v in store.read_manifest(r)["lineage"].items()
        }
        rows = store.read_metrics(r).filter(f"round = {r}").collect()
        metrics = {
            int(row["host_bucket"]): tuple(row[f] for f in LINEAGE_FIELDS)
            for row in rows
        }
        assert len(rows) == len(metrics), f"round {r}: duplicate buckets"
        assert metrics == lineage, f"round {r}"


def test_bloom_segments_cover_seen_set(tiny_run):
    """O11/O22: nothing in a round probes the bloom segments, so this is
    what checks the engine builds them. In the latest snapshot every
    seen (url_hash, url), bucketed by host_bucket of its url, probes
    True in its bucket's segment (no false negatives), and each segment
    carries its bucket's committed lineage bloom_version."""
    import numpy as np
    from pyspark.sql import functions as F

    from ccrawler_spark.bloom import filter as bf
    from ccrawler_spark.functions.spark_exprs import host_bucket, host_from_url

    store, _, _ = tiny_run
    conf = store.conf
    n = store.latest()
    seen = store.read_seen(n).select(
        "url_hash",
        host_bucket(host_from_url(F.col("url")), conf.host_buckets)
        .alias("host_bucket"),
    ).collect()
    keys = {}
    for row in seen:
        keys.setdefault(int(row["host_bucket"]), []).append(row["url_hash"])
    segments = {
        int(row["host_bucket"]): row
        for row in store.read_bloom_latest(n).collect()
    }
    assert keys and set(keys) <= set(segments)
    for b, hashes in keys.items():
        seg = np.frombuffer(segments[b]["bits"], dtype=np.uint8)
        assert bf.probe(seg, np.asarray(hashes, dtype=np.int64),
                        conf.bloom_num_hashes).all(), b
    lineage = store.read_manifest(n)["lineage"]
    for b, row in segments.items():
        assert row["version"] == lineage[str(b)]["bloom_version"], b


def test_budget_binding_parity(spark, tiny_fixtures, tmp_path_factory):
    """O31 with the global budget actually binding (round_budget below
    hosts x per_host_k, so the orderBy+limit path runs): fetch ordering
    must still match the oracle exactly."""
    import dataclasses

    from ccrawler_spark.conf import TINY

    conf = dataclasses.replace(TINY, round_budget=7)
    out = tmp_path_factory.mktemp("budget_store")
    _, store, _ = tt.engine_run(spark, "tiny", str(out), rounds=3, conf=conf)
    oracle = tt.oracle_run("tiny", rounds=3, conf=conf)
    assert tt.engine_fetch_sequence(store) == tt.oracle_fetch_sequence(oracle)
    assert tt.engine_seen(store, store.latest()) == oracle.seen
