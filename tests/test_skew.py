"""T5 (SURVEY.md §5.3): hot-host skew. The tiny/small fixtures already
have Zipf(1.2) hosts; this asserts the two-phase salted dequeue is
exact (same results salted vs unsalted) and that the salt actually
spreads the hot host's rows."""

import dataclasses

from pyspark.sql import functions as F

from ccrawler_spark.conf import CrawlConf
from ccrawler_spark.functions.spark_exprs import umod_long
from ccrawler_spark.scheduler import stages


def _frontier(spark, n_hosts=5, rows_hot=5_000, rows_cold=50):
    """One pathologically hot host + cold tail."""
    rows = []
    for h in range(n_hosts):
        n = rows_hot if h == 0 else rows_cold
        for j in range(n):
            rows.append((f"http://h{h}.example/p/{j}", f"h{h}.example"))
    df = spark.createDataFrame(rows, "url string, host string")
    return (
        df.withColumn("url_hash", F.xxhash64("url"))
        .withColumn("priority", umod_long(F.col("url_hash"), 3).cast("int"))
        .withColumn("discover_ts", F.timestamp_micros(F.lit(0)))
        .withColumn("crawl_delay_ms", F.lit(1000).cast("long"))
    )


def test_salted_dequeue_exact_vs_unsalted(spark):
    base = CrawlConf(per_host_k=7, round_budget=30)
    salted = dataclasses.replace(base, salting_enabled=True, salt_fanout=8)
    unsalted = dataclasses.replace(base, salting_enabled=False)
    fr = _frontier(spark).cache()

    def schedule(c):
        # 5 hosts × k = 35 > K = 30: the budget binds
        ranked = stages.rank_per_host(fr, c)
        return stages.split_ranked(ranked, c, 5).select("url", "slot_ms")

    a, b = schedule(salted), schedule(unsalted)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) == 30
    fr.unpersist()


def test_salt_spreads_hot_host(spark):
    """Phase-1 groups for the hot host are bounded by ~rows/fanout —
    no single window partition sees the whole hot host."""
    conf = CrawlConf(per_host_k=2, salt_fanout=8)
    fr = _frontier(spark)
    salt = umod_long(F.col("url_hash"), conf.salt_fanout)
    grp = (
        fr.filter(F.col("host") == "h0.example")
        .groupBy(salt.alias("salt")).count()
    )
    counts = [r["count"] for r in grp.collect()]
    assert len(counts) == 8
    assert max(counts) < 2 * 5_000 / 8
