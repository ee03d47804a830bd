"""Iceberg-emulation store: atomic commit semantics, orphan GC,
conf-fingerprint refusal, robots as-of versioning, bloom properties."""

import json

import numpy as np
import pytest

from ccrawler_spark.bloom import filter as bf
from ccrawler_spark.conf import TINY, CrawlConf
from ccrawler_spark.io.snapshot import SnapshotStore


def test_conf_fingerprint_mismatch_refuses_resume(spark, tmp_path):
    store = SnapshotStore(spark, tmp_path, TINY)
    store.commit(0, {"round": 0,
                     "frontier": {"base": "x", "adds": [], "removes": []},
                     "seen": {"base": "frontier/base-r0"}, "bloom": {"deltas": []},
                     "metrics": {"paths": []},
                     "counters": {"fetched_total": 0, "denied_total": 0},
                     "lineage": {}})
    other = SnapshotStore(spark, tmp_path, CrawlConf(per_host_k=3))
    with pytest.raises(ValueError, match="fingerprint mismatch"):
        other.read_manifest(0)


def test_crashed_round_invisible_and_gc(spark, tmp_path):
    """Data dirs without a committed manifest are invisible to latest()
    and removed by gc_orphans()."""
    store = SnapshotStore(spark, tmp_path, TINY)
    df = spark.createDataFrame([(1, "a")], "url_hash long, url string")
    store.write_parquet(df, "frontier", "base-r0")
    store.commit(0, {"round": 0,
                     "frontier": {"base": "frontier/base-r0", "adds": [],
                                  "removes": []},
                     "seen": {"base": "frontier/base-r0"}, "bloom": {"deltas": []},
                     "metrics": {"paths": []},
                     "counters": {"fetched_total": 0, "denied_total": 0},
                     "lineage": {}})
    # a crashed round 1: data written, no manifest
    store.write_parquet(df, "frontier", "adds-r1")
    assert store.latest() == 0
    removed = store.gc_orphans()
    assert "frontier/adds-r1" in removed
    # committed data survives
    assert store.read_frontier(0).count() == 1


def test_delete_files_are_sequence_scoped(spark, tmp_path):
    """Every kind of delete file reads by url, and a delete from round
    n drops a key only from files of rounds < n: an old-style
    removes-r1 (url_hash, url), a fetch log (no url_hash) and a denied
    delta. A same-round re-add (adds-r2) survives its fetch-log delete."""
    from pyspark.sql import functions as F

    store = SnapshotStore(spark, tmp_path, TINY)

    def rows(urls, src):
        return spark.createDataFrame([(u, src) for u in urls], "url string, src string")

    def keyed(urls, src):
        return rows(urls, src).withColumn("url_hash", F.xxhash64("url"))

    base = store.write_parquet(keyed("abc", "base"), "frontier", "base-r0")
    adds = store.write_parquet(keyed("b", "adds"), "frontier", "adds-r2")
    old_removes = store.write_parquet(
        keyed("a", "x").select("url_hash", "url"), "frontier", "removes-r1")
    log = spark.createDataFrame(
        [(0, "b", "h", 0, 0, 1, None, 0, True, True, True, True, 40.0)],
        "seq long, url string, host string, host_bucket int, slot_ms long, "
        "priority int, discover_ts timestamp, depth int, fetch_ok boolean, "
        "pixels_ok boolean, caption_ok boolean, phash_ok boolean, psnr_db double",
    )
    fetch_log = store.write_parquet(log, "fetch_log", "round=2")
    denied = store.write_parquet(
        keyed("c", "x").select("url_hash", "url"), "frontier", "denied-r2")
    assert fetch_log == "fetch_log/round=2"

    got = store.read_frontier_from(base, [adds], [old_removes, fetch_log, denied])
    assert [(r["url"], r["src"]) for r in got.collect()] == [("b", "adds")]


def test_write_parquet_restores_caller_job_description(spark, tmp_path):
    """write_parquet labels its own job, then puts the caller's label
    back rather than clearing it."""
    sc = spark.sparkContext
    store = SnapshotStore(spark, tmp_path, TINY)
    df = spark.createDataFrame([(1, "a")], "url_hash long, url string")
    sc.setJobDescription("caller: round 7")
    try:
        store.write_parquet(df, "frontier", "base-r0")
        assert sc.getLocalProperty("spark.job.description") == "caller: round 7"
    finally:
        sc.setJobDescription(None)


def test_commit_is_atomic_rename(spark, tmp_path):
    store = SnapshotStore(spark, tmp_path, TINY)
    store.commit(0, {"round": 0,
                     "frontier": {"base": "x", "adds": [], "removes": []},
                     "seen": {"base": "frontier/base-r0"}, "bloom": {"deltas": []},
                     "metrics": {"paths": []},
                     "counters": {"fetched_total": 0, "denied_total": 0},
                     "lineage": {}})
    # no .tmp leftovers; manifest parses
    leftovers = list((tmp_path / "manifests").glob("*.tmp"))
    assert not leftovers
    m = json.load(open(tmp_path / "manifests" / "manifest-000000.json"))
    assert m["snapshot_id"] == 0 and m["parent_id"] is None


def test_bloom_no_false_negatives_and_low_fpr():
    """T1 (SURVEY.md §5.3): zero false negatives; FPR ≈ (1-e^{-kn/m})^k."""
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**63), 2**63 - 1, size=10_000, dtype=np.int64)
    others = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64)
    others = np.setdiff1d(others, keys)
    seg = bf.add_keys(bf.empty_segment(TINY.bloom_segment_bits), keys,
                      TINY.bloom_num_hashes)
    assert bf.probe(seg, keys, TINY.bloom_num_hashes).all()  # no FN, ever
    fpr = bf.probe(seg, others, TINY.bloom_num_hashes).mean()
    assert fpr < 0.02, fpr  # 10k keys in 2^17 bits @ 7 hashes ⇒ ~0.8%


def test_robots_asof_version(spark, tiny_fixtures):
    """O14: a version-2 row is used only when robots_version >= 2."""
    from pyspark.sql import functions as F

    from ccrawler_spark.scheduler.stages import robots_active

    robots = spark.read.parquet(f"{tiny_fixtures}/robots.parquet")
    host = robots.select("host").first()["host"]
    v2 = robots.filter(F.col("host") == host).withColumn(
        "version", F.lit(2).cast("long")
    ).withColumn("crawl_delay_ms", F.lit(9_999).cast("long"))
    both = robots.unionByName(v2)
    at1 = robots_active(both, 1).filter(F.col("host") == host).first()
    at2 = robots_active(both, 2).filter(F.col("host") == host).first()
    assert at1["version"] == 1 and at1["crawl_delay_ms"] != 9_999
    assert at2["version"] == 2 and at2["crawl_delay_ms"] == 9_999
