"""Monitoring/observability operators (O21/O23/O24, SURVEY.md §2.D).

These never affect scheduling results — they are the cheap sketches an
operator of a 10^10-URL crawl watches: HLL seen/host cardinality,
hot-host detection, per-bucket queue depths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ccrawler_spark.conf import CrawlConf


def frontier_depth_stats(frontier: DataFrame) -> DataFrame:
    """O20: queue length + oldest entry per (host_bucket, priority)."""
    return frontier.groupBy("host_bucket", "priority").agg(
        F.count("*").alias("queued"),
        F.min("discover_ts").alias("oldest_discover_ts"),
    )


def cardinality_sketches(frontier: DataFrame) -> DataFrame:
    """O21/O23: HLL sketches of distinct hosts and urls — mergeable
    across rounds with hll_union_agg (exact distinct only in tests)."""
    return frontier.agg(
        F.approx_count_distinct("host").alias("approx_hosts"),
        F.hll_sketch_agg("host").alias("host_sketch"),
        F.hll_sketch_agg("url_hash").alias("url_sketch"),
    )


def merge_sketches(per_round: DataFrame) -> DataFrame:
    """Union per-round HLL sketches → cross-round cardinalities."""
    return per_round.agg(
        F.hll_sketch_estimate(
            F.hll_union_agg("host_sketch")
        ).alias("distinct_hosts_alltime"),
        F.hll_sketch_estimate(
            F.hll_union_agg("url_sketch")
        ).alias("distinct_urls_alltime"),
    )


def hot_hosts(frontier: DataFrame, conf: CrawlConf) -> DataFrame:
    """O24: hosts whose queue share exceeds τ = factor × mean, with a
    fan-out suggestion sized from the queue. A metric for the operator:
    the dequeue needs no per-host decision, since its per-host top-k is
    cut map-side before the host exchange whatever the skew
    (stages.schedule)."""
    counts = frontier.groupBy("host").agg(F.count("*").alias("queued"))
    stats = counts.agg(F.avg("queued").alias("mean")).first()
    if stats["mean"] is None:  # drained frontier — a normal terminal state
        return counts.withColumn("suggested_fanout", F.lit(0))
    tau = float(stats["mean"]) * conf.salt_threshold_factor
    return counts.filter(F.col("queued") > tau).withColumn(
        "suggested_fanout",
        F.least(
            F.ceil(F.col("queued") / F.lit(max(tau, 1.0))).cast("int"),
            F.lit(64),
        ),
    )
