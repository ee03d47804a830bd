"""T5 (SURVEY.md §5.3): hot-host skew. The tiny/small fixtures already
have Zipf(1.2) hosts; these use one pathologically hot host and assert
that the one-window dequeue (stages.schedule) is exact against a plain
Python top-k → budget → slots, and that the hot host never crosses
the host exchange whole: Catalyst's map-side ``Partial`` group limit
ships at most k rows per host from each map task."""

import pytest
from pyspark.sql import functions as F

from ccrawler_spark.conf import CrawlConf
from ccrawler_spark.functions.spark_exprs import umod_long
from ccrawler_spark.scheduler import stages

N_HOSTS = 5
HOT_ROWS = 5_000


def _frontier(spark, rows_cold=50):
    """One hot host + cold tail, with per-host crawl delays."""
    rows = []
    for h in range(N_HOSTS):
        for j in range(HOT_ROWS if h == 0 else rows_cold):
            rows.append((f"http://h{h}.example/p/{j}", f"h{h}.example",
                         250 * (h + 1)))
    df = spark.createDataFrame(rows, "url string, host string, crawl_delay_ms long")
    return (
        df.withColumn("url_hash", F.xxhash64("url"))
        .withColumn("priority", umod_long(F.col("url_hash"), 3).cast("int"))
        .withColumn("discover_ts", F.timestamp_micros(F.lit(0)))
    )


def _reference(rows, k, budget):
    """Top-k per host, then the global budget, then slots by the rank
    within the scheduled rows — the oracle's steps 2-4."""
    ord_key = lambda r: (r["priority"], r["url_hash"], r["url"])  # noqa: E731
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    cands = [r for rs in by_host.values() for r in sorted(rs, key=ord_key)[:k]]
    sched = sorted(cands, key=ord_key)[:budget]
    out, rank = set(), {}
    for r in sorted(sched, key=ord_key):
        rank[r["host"]] = rank.get(r["host"], 0) + 1
        out.add((r["url"], (rank[r["host"]] - 1) * r["crawl_delay_ms"]))
    return out


@pytest.mark.parametrize("k,budget", [(7, 30), (2, 5), (200, 300), (7, 1000)])
def test_hot_host_schedule_matches_python_topk(spark, k, budget):
    """(7, 1000) leaves the budget slack; the other three bind it, so
    the slots are ranks taken before the limit and must still equal
    the rank within the scheduled rows."""
    fr = _frontier(spark)
    conf = CrawlConf(per_host_k=k, round_budget=budget)
    got = stages.schedule(fr, conf, N_HOSTS).select("url", "slot_ms").collect()
    want = _reference(fr.collect(), k, budget)
    assert len(got) == len(want) == min(budget, k + 4 * min(k, 50))
    assert {(r["url"], r["slot_ms"]) for r in got} == want


def _nodes(plan):
    """Every node of an executed (adaptive) physical plan, query stages
    unwrapped."""
    out, todo = [], [plan]
    while todo:
        p = todo.pop()
        out.append(p)
        ch = p.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
        if p.nodeName() == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
        elif p.nodeName().endswith("QueryStage"):
            todo.append(p.plan())
    return out


def _host_exchange_records(df) -> int:
    """Run ``df`` and read the host exchange's shuffle-records-written
    SQL metric."""
    df.collect()
    (n,) = [n for n in _nodes(df._jdf.queryExecution().executedPlan())
            if n.nodeName() == "Exchange"
            and "hashpartitioning(host#" in n.outputPartitioning().toString()]
    return n.metrics().apply("shuffleRecordsWritten").value()


def test_hot_host_crosses_exchange_cut(spark):
    """Each map task writes at most k rows per host to the host
    exchange: ≤ hosts × k × input partitions, against the 5,200 rows
    it writes with the group limit switched off (the control shows the
    metric reads the exchange)."""
    fr = _frontier(spark)
    conf = CrawlConf(per_host_k=2, round_budget=1_000_000)
    parts = fr.rdd.getNumPartitions()
    written = _host_exchange_records(stages.schedule(fr, conf, N_HOSTS))
    assert 0 < written <= N_HOSTS * conf.per_host_k * parts, (written, parts)

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, -1)
    try:
        full = _host_exchange_records(stages.schedule(fr, conf, N_HOSTS))
    finally:
        spark.conf.set(key, old)
    assert full == HOT_ROWS + (N_HOSTS - 1) * 50
