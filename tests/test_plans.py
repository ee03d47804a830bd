"""Physical-plan shape assertions: the optimizations we claim must be
visible in `explain` output (SURVEY.md §4 / task brief: "iterate until
it's the plan you'd want")."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_robots_gate_is_broadcast_no_udf(spark, tiny_fixtures):
    """O13: broadcast hash join + pure Catalyst prefix match (no
    Python eval in the gate)."""
    from ccrawler_spark.conf import TINY
    from ccrawler_spark.scheduler.stages import robots_active, robots_gate

    robots = spark.read.parquet(f"{tiny_fixtures}/robots.parquet")
    frontier = (
        spark.createDataFrame(
            [("http://h0.example/p/1", "h0.example")], "url string, host string"
        )
    )
    plan = plan_of(robots_gate(frontier, robots_active(robots, 1), TINY))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fetch_prunes_corpus_columns(spark, tiny_fixtures):
    """Column pruning: the corpus scan must not read w/h (unused)."""
    from ccrawler_spark.scheduler.fetch import fetch_and_decode

    corpus = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")
    sched = spark.createDataFrame(
        [("u", "i", "h", 1, 0)],
        "url string, image_id string, host string, url_hash long, slot_ms int",
    )
    plan = plan_of(fetch_and_decode(sched, corpus, 1))
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l and "bytes" in l]
    assert read_schemas, plan[:500]
    # w/h are never projected ("h:" alone would false-positive on phash:)
    assert all(",w:" not in l and ",h:" not in l and "<w:" not in l
               for l in read_schemas), read_schemas


def _nodes(plan: str) -> list[tuple[str, str]]:
    """(node name, its Input line) for each node of a formatted plan."""
    return re.findall(r"^\(\d+\) (\w[\w ]*?)\s*\n(?:Output.*\n)?(Input.*)?$",
                      plan, re.M)


def test_layout_fetch_one_python_crossing(spark, tiny_fixtures):
    """The layout fetch (fetch.fetch_from_layout) with its fetch
    sequence: each image crosses into Python once — exactly one Python
    map node (the Arrow scan that decodes), no driver-built list shipped
    through a Python stage (``Scan ExistingRDD``), and no Exchange
    carries the payload ``bytes`` (the flat join + decode plan, which
    does shuffle them to its decode, shows the check can fail)."""
    from collections import Counter

    from ccrawler_spark.fixtures.gen import (
        ensure_corpus_layout, universe_urls_df,
    )
    from ccrawler_spark.functions.spark_exprs import host_bucket, image_id_of
    from ccrawler_spark.scheduler.engine import _pair_ids
    from ccrawler_spark.scheduler.fetch import (
        fetch_and_decode, fetch_from_layout,
    )
    from ccrawler_spark.scheduler.stages import with_fetch_sequence

    layout = str(ensure_corpus_layout(spark, tiny_fixtures))
    sched = universe_urls_df(spark, str(tiny_fixtures)).filter(
        F.col("host").isin("h0.example", "h5.example")
    ).select(
        "host", "url", image_id_of(F.col("url")).alias("image_id"),
        host_bucket(F.col("host"), 64).alias("host_bucket"),
        F.xxhash64("url").alias("url_hash"),
        F.lit(0).cast("long").alias("slot_ms"),
    )
    rows = sched.collect()
    groups = Counter((0, r["host_bucket"]) for r in rows)

    def plan(fetched):
        return plan_of(with_fetch_sequence(fetched, groups, 1, 0))

    fused = plan(fetch_from_layout(sched, layout, _pair_ids(rows), len(rows)))
    nodes = _nodes(fused)
    python = [n for n, _ in nodes
              if "InArrow" in n or "InPandas" in n or "EvalPython" in n]
    assert python == ["MapInArrow"], fused
    assert "Scan ExistingRDD" not in fused, fused
    exchanges = [i for n, i in nodes if n == "Exchange"]
    assert exchanges and not any("bytes" in i for i in exchanges), fused

    flat = plan(fetch_and_decode(
        sched, spark.read.parquet(f"{tiny_fixtures}/corpus.parquet"),
        len(rows),
    ))
    assert any("bytes" in i for n, i in _nodes(flat) if n == "Exchange")


def test_textops_scalar_zero_shuffle(spark):
    """token/quality/lang-id: exactly ONE Arrow crossing (the integer
    token-count pass — round 8 migration off the interpreted-HOF
    scalar form), zero Exchanges; ratios/argmax stay JVM-side above
    it."""
    from ccrawler_spark.textops.textstats import (
        lang_id, quality_score, token_stats,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    for op in (token_stats, quality_score, lang_id):
        plan = plan_of(op(docs), mode="simple")
        assert plan.count("Exchange") == 0, f"{op.__name__}:\n{plan[:800]}"
        assert plan.count("MapInPandas") == 1, f"{op.__name__}:\n{plan[:800]}"


def test_textops_hashing_plan_shapes(spark):
    """Fingerprint builds (minhash, simhash, rolling-min fingerprint —
    all vectorized in r4 because interpreted HOF folds cost
    µs/element): exactly ONE Arrow crossing with ZERO exchanges — the
    fingerprint is computed in the scan's partitions and nothing else
    moves."""
    from ccrawler_spark.textops.dedup import minhash_signatures, simhash64
    from ccrawler_spark.textops.textstats import fingerprint

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    for op in (minhash_signatures, simhash64, fingerprint):
        plan = plan_of(op(docs), mode="simple")
        assert plan.count("Exchange") == 0, f"{op.__name__}:\n{plan[:800]}"
        assert plan.count("MapInPandas") == 1, f"{op.__name__}:\n{plan[:800]}"


def _dequeue_frontier(spark):
    return spark.createDataFrame(
        [(f"http://h{i%3}.example/p/{i}", f"h{i%3}.example", i, 0)
         for i in range(100)],
        "url string, host string, url_hash long, priority int",
    ).withColumn("discover_ts", F.timestamp_micros(F.lit(0))).withColumn(
        "crawl_delay_ms", F.lit(1000).cast("long")
    )


def test_dequeue_exchange_budget(spark):
    """The dequeue plan has one Exchange: the host exchange under its
    one rank window. The budget's sort+limit plans as
    TakeOrderedAndProject, which merges each partition's top K through
    its own single-partition shuffle (no Exchange node), and the slots
    are a projection of the rank, so they add none. ``n_hosts`` makes
    the budget bind, so the sort+limit plan is the one counted."""
    from ccrawler_spark.conf import TINY
    from ccrawler_spark.scheduler.stages import schedule

    n_hosts = TINY.round_budget  # n_hosts × k > K
    plan = plan_of(schedule(_dequeue_frontier(spark), TINY, n_hosts),
                   mode="simple")
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window [") == 1, plan


def _assert_partial_limit_below_host_exchange(plan: str, k: int):
    """A ``Partial`` WindowGroupLimit of k sits below the host exchange
    and its ``Final`` above it, in a ``simple`` (top-down) plan."""
    lines = plan.splitlines()

    def at(pred):
        (i,) = [i for i, l in enumerate(lines) if pred(l)]
        return i

    ex = at(lambda l: "Exchange hashpartitioning(host#" in l)
    part = at(lambda l: "WindowGroupLimit" in l and l.endswith(f"{k}, Partial"))
    final = at(lambda l: "WindowGroupLimit" in l and l.endswith(f"{k}, Final"))
    assert final < ex < part, plan


@pytest.mark.parametrize("conf_name,n_hosts", [("TINY", 50), ("BENCH", 3)])
def test_dequeue_cuts_hot_hosts_before_exchange(spark, conf_name, n_hosts):
    """O24: the per-host top-k is cut map-side — at most k rows per
    host leave each map task — for the parity conf (budget binding)
    and the bench conf (k = 200, budget slack)."""
    from ccrawler_spark import conf as confmod
    from ccrawler_spark.scheduler.stages import schedule

    conf = getattr(confmod, conf_name)
    plan = plan_of(schedule(_dequeue_frontier(spark), conf, n_hosts),
                   mode="simple")
    _assert_partial_limit_below_host_exchange(plan, conf.per_host_k)


def test_engine_keeps_group_limit_threshold(spark, tiny_fixtures, tmp_path):
    """Catalyst infers the group limit only while k ≤
    windowGroupLimitThreshold (default 1000): an engine with k = 2000
    raises the session value, so its dequeue keeps the Partial limit."""
    from ccrawler_spark.conf import CrawlConf
    from ccrawler_spark.scheduler.cli import make_engine
    from ccrawler_spark.scheduler.stages import schedule

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, 1000)
    try:
        conf = CrawlConf(per_host_k=2000, round_budget=10**9)
        frontier = _dequeue_frontier(spark)
        assert "WindowGroupLimit" not in plan_of(
            schedule(frontier, conf, 3), mode="simple")
        engine, _ = make_engine(spark, str(tiny_fixtures), str(tmp_path),
                                conf=conf)
        assert int(spark.conf.get(key)) == 2000
        _assert_partial_limit_below_host_exchange(
            plan_of(schedule(frontier, engine.conf, 3), mode="simple"), 2000)
    finally:
        spark.conf.set(key, old)


def test_bootstrap_dedup_rides_layout_exchange(spark):
    """Bootstrap keep-one dedup must not add a second exchange: the
    layout repartition keys (host_bucket, umod(url_hash, 8)) are
    functions of the url, so the per-url window is satisfied by the
    existing hash partitioning (engine.bootstrap relies on this) — at
    the 1-partition layout of a small seed list and at the 256-partition
    design-scale layout alike."""
    from ccrawler_spark.scheduler.engine import layout_dedup

    df = spark.range(100).select(
        F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".x/p/"), F.col("id").cast("string")).alias("url")
    ).withColumn("url_hash", F.xxhash64("url")).withColumn(
        "host_bucket", F.pmod(F.col("url_hash"), F.lit(64)).cast("int")
    )
    for n_parts in (1, 256):
        plan = plan_of(layout_dedup(df, n_parts), mode="simple")
        assert plan.count("Exchange") == 1, (n_parts, plan)
