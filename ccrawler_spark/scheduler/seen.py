"""O12 exact URL-seen anti-join.

The seen set is exact (BASELINE.json:6 "final URL-seen set exactly"):
every candidate is verified against the seen table by a left-anti join.
This is the only seen-dedup path. The per-bucket bloom segments (O11,
``bloom/filter.py``) are still merged every round for lineage, but
nothing here probes them: a probe in front of the join cost a cogroup
shuffle and an Arrow crossing over every candidate and never shrank the
seen scan (docs/SCALING.md, "One seen-dedup path").

Dedup equality is on the (url_hash, url) pair — hash as shuffle key,
full string as equality confirmation (collision rule, SURVEY.md §5.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ccrawler_spark.conf import CrawlConf
from ccrawler_spark.functions.spark_exprs import umod_long


def seen_dedup(candidates: DataFrame, seen: DataFrame,
               conf: CrawlConf) -> DataFrame:
    """Return candidates not in the seen set (exact)."""
    # seen_part (the seen table's partition column) joins as a key, but
    # Spark's dynamic partition pruning skips left-anti joins, so the
    # whole seen table is scanned; a round's candidates hit every
    # seen_part anyway
    return candidates.withColumn(
        "_seen_part", umod_long(F.col("url_hash"), conf.seen_partitions).cast("int")
    ).join(
        seen.withColumnRenamed("seen_part", "_seen_part"),
        on=["_seen_part", "url_hash", "url"],
        how="left_anti",
    ).drop("_seen_part")
