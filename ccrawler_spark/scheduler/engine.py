"""The crawl engine: bootstrap + run_round orchestration (SURVEY.md §3).

One engine round is a single declarative DataFrame DAG over the
snapshot-store tables; the only driver-side state is the manifest
(small JSON) and the round's schedule counts. The fetch is one plan at
every schedule size: the schedule is shuffled to the Arrow scan of the
fetch-path corpus layout, which decodes where it reads
(scheduler/fetch.fetch_from_layout). Seen dedup is one exact anti-join
(scheduler/seen.py); the per-bucket bloom segments are merged each
round for lineage, task side (cogrouped per host_bucket), never
collected or broadcast.
Rounds are idempotent pure functions of (snapshot n-1, conf) — the
virtual clock (SEMANTICS.md §6) and total-order keys make re-running a
crashed round byte-identical, which is the resumability contract
(BASELINE.json:6).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StructField, StructType,
)

from ccrawler_spark.bloom import filter as bf
from ccrawler_spark.conf import CrawlConf
from ccrawler_spark.functions.spark_exprs import umod_long
from ccrawler_spark.io.arrow_scan import empty_frame
from ccrawler_spark.io.snapshot import SnapshotStore
from ccrawler_spark.scheduler import stages
from ccrawler_spark.scheduler.fetch import fetch_from_layout
from ccrawler_spark.scheduler.seen import seen_dedup

FRONTIER_COLS = [
    "url", "url_hash", "host", "host_bucket", "priority",
    "discover_ts", "depth", "image_id", "status", "retry_count",
]

BLOOM_SCHEMA = StructType([
    StructField("host_bucket", IntegerType()),
    StructField("version", LongType()),
    StructField("bits", BinaryType()),
])

def layout_dedup(rows: DataFrame, n_parts: int) -> DataFrame:
    """Frontier rows → the (host_bucket, umod(url_hash, 8)) file layout
    in ``n_parts`` partitions, one row kept per url.

    Canonical duplicates collapse to identical frontier rows (priority
    0, discover_ts t0, depth 0), so the keep-rule is irrelevant. The
    keep-one rides the layout repartition: the partition keys are
    functions of the url (host_bucket via host, umod of url_hash =
    xxhash64(url)), so duplicates are co-located and the window needs
    only a sort, not a second exchange (HashPartitioning on a subset of
    the window keys satisfies its clustering at any partition count;
    plan-asserted in test_plans)."""
    from pyspark.sql import Window

    layout_keys = [F.col("host_bucket"), umod_long(F.col("url_hash"), 8)]
    w_dedup = Window.partitionBy(*layout_keys, "url").orderBy("url")
    return (
        rows.repartition(n_parts, *layout_keys)
        .withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@dataclass
class RoundStats:
    round: int
    fetched: int
    denied: int
    enqueued: int
    queued_after: int


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        hosts: DataFrame,
        robots: DataFrame,
        conf: CrawlConf,
        corpus_layout: str,
    ):
        self.spark = spark
        self.store = store
        # the bucket-partitioned / (host, image_id)-clustered corpus
        # (io/corpus_layout): the fetch scans only the scheduled rows'
        # row groups (io/arrow_scan, decoding there) instead of the
        # whole payload column every round. Fail loudly up front if the
        # layout's bucketing doesn't match conf.host_buckets: the scan
        # would silently miss scheduled rows (ADVICE r4, medium).
        from ccrawler_spark.io.corpus_layout import assert_layout_compatible

        assert_layout_compatible(corpus_layout, conf.host_buckets)
        self.corpus_layout = corpus_layout
        self.hosts = hosts
        self.H = hosts.count()
        self.robots_active = stages.robots_active(robots, conf.robots_version).cache()
        self.conf = conf
        # Catalyst cuts the per-host top-k map-side (stages.schedule)
        # only while k ≤ this threshold; above it the whole frontier
        # crosses the host exchange
        key = "spark.sql.optimizer.windowGroupLimitThreshold"
        if int(spark.conf.get(key)) < conf.per_host_k:
            spark.conf.set(key, conf.per_host_k)

    # ------------------------------------------------------------ bootstrap
    def bootstrap(self, seeds: DataFrame) -> RoundStats:
        """Seeds → snapshot 0 (SEMANTICS.md §6 bootstrap)."""
        from concurrent.futures import ThreadPoolExecutor

        conf = self.conf
        # the seed count (an upper bound on frontier rows) sizes the
        # layout shuffle below, so a small seed list is not spread over
        # 256 near-empty tasks for each of the snapshot-0 outputs: 25k
        # seeds a task, up to the 256-way layout (from 6.4M seeds)
        layout_parts = stages.fanout(seeds.count(), 25_000, 256)
        # seed sources are often single-file/single-partition; spread
        # them before the (CPU-bound) normalization UDF
        seeds = seeds.select("url").repartition(
            self.spark.sparkContext.defaultParallelism * 4
        )
        seeds = stages.normalize_urls(seeds)
        frontier0 = layout_dedup(
            stages.with_url_derivations(seeds, conf)
            .withColumn("priority", F.lit(0))
            .withColumn("discover_ts", F.timestamp_micros(F.lit(conf.t0_micros)))
            .withColumn("depth", F.lit(0))
            .withColumn("status", F.lit("queued"))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLS),
            layout_parts,
        ).cache()
        # the snapshot-0 outputs are independent given the cached
        # frontier0 — overlap them like run_round's write phase. The
        # seeds are the whole seen set, so the frontier base doubles as
        # the seen base
        jobs = {}
        with ThreadPoolExecutor(max_workers=2) as ex:
            jobs["base"] = ex.submit(
                self.store.write_parquet, frontier0, "frontier", "base-r0",
                partition_by=["host_bucket"],
            )
            jobs["bloom"] = ex.submit(
                self._write_bloom_delta, frontier0,
                empty_frame(self.spark, BLOOM_SCHEMA), 0,
            )
        base = jobs["base"].result()
        bloom_path = jobs["bloom"].result()
        seed_buckets = self._bucket_counts(frontier0)
        lineage = self._lineage_from_counts(
            prev={}, sched={}, denied={}, fresh=seed_buckets,
            bloom_versions={b: 1 for b in seed_buckets},
        )
        metrics_path = self._write_metrics(lineage, 0)
        self.store.commit(0, {
            "round": 0,
            "frontier": {"base": base, "adds": [], "removes": [],
                          "last_adds": base},
            "seen": {"base": base},
            "bloom": {"deltas": [bloom_path]},
            "metrics": {"paths": [metrics_path]},
            "counters": {"fetched_total": 0, "denied_total": 0},
            "lineage": lineage,
        })
        frontier0.unpersist()
        n = sum(seed_buckets.values())
        return RoundStats(0, 0, 0, n, n)

    # ------------------------------------------------------------ run_round
    def run_round(self, r: int) -> RoundStats:
        """Snapshot r-1 → snapshot r (SEMANTICS.md §6).

        The round's overlap pool lives exactly as long as this call:
        on ANY exit — including an exception between submissions — the
        finally drains in-flight writes (wait=True) and cancels queued
        ones, so no round-r write (fetch_log, adds, ...) outlives
        the call to race a retry of the same round (ADVICE r5)."""
        from concurrent.futures import ThreadPoolExecutor

        # one pool for the whole round (metadata collect, delta writes,
        # compactions — was three pools r5, whose with-block barriers
        # also serialized driver work behind executor writes)
        pool = ThreadPoolExecutor(max_workers=8)
        try:
            return self._run_round_body(r, pool)
        finally:
            pool.shutdown(wait=True, cancel_futures=True)

    def _run_round_body(self, r: int, pool) -> RoundStats:
        conf = self.conf
        store = self.store
        prev = store.read_manifest(r - 1)
        round_ts = conf.t0_micros + r * conf.round_period_micros

        # 1-4. dequeue: the composed frontier → (recrawl: due rows) →
        # robots gate (broadcast join, Catalyst longest-prefix) → one
        # per-host rank window (top-k, cut map-side before the host
        # exchange) → budget K → politeness slots from the rank, one
        # plan fused into the frontier scan
        frontier = store.read_frontier(r - 1)
        if conf.recrawl_interval_micros > 0:
            # O30/O10 due predicate: only rows whose discover_ts
            # (= next due time for recrawl rows) has arrived compete
            # this round; the rest stay queued untouched (no delta
            # written for them)
            frontier = frontier.filter(
                F.col("discover_ts") <= F.timestamp_micros(F.lit(round_ts))
            )
        gated = stages.robots_gate(frontier, self.robots_active, conf)
        # cached: the metadata collect materializes it for every later
        # reader (discovery, fetch, recrawl)
        sched0 = stages.schedule(
            gated.filter(F.col("allowed")), conf, self.H
        ).cache()

        # `denied` comes from a separate tiny pass: the gate is static
        # (robots_active is fixed per conf.robots_version), so any row
        # that survived a previous round's gate passes again — newly
        # deniable rows can only be in the PREVIOUS round's adds delta
        # (tracked as manifest frontier.last_adds, kept referenced even
        # after compaction folds it into a base).
        if conf.recrawl_interval_micros > 0:
            # with a due predicate, denial timing depends on
            # eligibility — gate the full eligible frontier
            denied = gated.filter(~F.col("allowed")).select(*FRONTIER_COLS)
        else:
            last_adds = prev["frontier"].get("last_adds")
            if last_adds:
                fresh_rows = self.spark.read.parquet(self.store.data_path(last_adds))
                # a row can be denied ONLY if its host has at least one
                # disallow rule (allowed = coalesce(match.allow, True),
                # so all-allow hosts can never produce False) — semi-join
                # on that tiny broadcast host set before the gate, so the
                # per-pattern array matching runs over the deniable
                # fraction of last_adds (10% of hosts in the fixtures),
                # not all of it. Biggest in round 1, where last_adds is
                # the whole bootstrap base.
                deny_hosts = self.robots_active.filter(
                    F.exists("rules", lambda rr: ~rr["allow"])
                ).select("host")
                denied = (
                    stages.robots_gate(
                        fresh_rows.join(F.broadcast(deny_hosts), on="host",
                                        how="left_semi"),
                        self.robots_active, conf,
                    )
                    .filter(~F.col("allowed"))
                    .select(*FRONTIER_COLS)
                )
            else:
                denied = sched0.select(*FRONTIER_COLS).limit(0)
        # cached: the fused counts collect materializes it, so the
        # denied delta's write does not run the gate again
        denied = denied.cache()
        # schedule-metadata collect (sequence group counts and lineage
        # counts — see _sched_metadata) on a pool
        # thread: its first action materializes the sched0 cache while
        # the MAIN thread builds the round's remaining plans. Plan
        # construction is driver-side py4j chatter (hundreds of
        # expression round-trips, ~2 s/round profiled at r5) that needs
        # only the DataFrame objects, never the collect results —
        # serializing it behind the collect was pure added wall.
        # (`pool` is owned by run_round's try/finally — see its
        # docstring.)
        sched_meta = pool.submit(self._sched_metadata, sched0)

        # 7-10. discovery → scope → in-round dedup → seen dedup
        candidates = stages.discover_links(
            sched0, self.hosts, conf, self.H, round_ts
        )
        candidates = stages.dedup_in_round(candidates)
        candidates = stages.as_frontier_rows(candidates, conf)
        seen = store.read_seen(r - 1)
        # the latest bloom segments (B small rows) feed only the delta
        # build below, which cogroups them with fresh on host_bucket, so
        # a task holds only its buckets' segments (no driver collect)
        bloom = store.read_bloom_latest(r - 1)
        fresh = seen_dedup(candidates, seen)
        # cached WITHOUT the adds-layout repartition (round 8): the
        # layout shuffle only serves the adds-delta write, and its
        # partition count is now sized from n_fresh AFTER the counts
        # job (see `additions` below) — a tiny round no longer pays a
        # fixed 64-task shuffle+write for a handful of rows. The other
        # consumers (counts, bloom cogroup) each re-key anyway.
        fresh = (
            fresh.withColumn("status", F.lit("queued"))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLS)
            .cache()
        )

        # stats: ONE fused groupBy-collect covers denied + fresh —
        # tagging each with a side marker and aggregating per
        # (side, host_bucket) replaces two driver job dispatches with
        # one. The aggregation scans fresh fully, which doubles as the
        # action that materializes its cache before the parallel write
        # phase. Counts derived ⇒ empty deltas are skipped entirely (a
        # file-less partitioned parquet dir is unreadable, and empty
        # rounds are normal once the frontier drains). Submitted on the
        # pool so it overlaps the fetch-log write and the write-phase
        # plan building below.
        tagged = (
            denied.select("host_bucket").withColumn("_side", F.lit("d"))
            .unionByName(
                fresh.select("host_bucket").withColumn("_side", F.lit("f"))
            )
        ).groupBy("_side", "host_bucket").count()

        # 5-6. fetch + decode invariants (one Arrow crossing per image)
        # and the fetch sequence, needing the schedule metadata (the
        # group counts, which also size the scan) — joined here, after
        # the main thread finished the discovery plans
        group_counts, sched_counts = sched_meta.result()
        n_fetched = sum(sched_counts.values())
        # submit the fused counts job only now that the sched0 cache is
        # materialized: the discovery path scans sched0, and an earlier
        # submission would race the metadata job into computing the
        # whole dequeue pipeline twice
        tagged_job = pool.submit(tagged.collect)
        # seq (cumulative across rounds) is attached to the fetch
        # output: the fetch reads its input twice (the scan and the
        # flags' join-back), and a sequenced input would run the window
        # in both reads
        seq_offset = prev["counters"]["fetched_total"]
        fetched = stages.with_fetch_sequence(
            self._fetch(sched0, n_fetched),
            group_counts, r, seq_offset,
        )
        fetch_log = fetched.select(
            "seq", "url", "host", "host_bucket", "slot_ms", "priority",
            "discover_ts", "depth", "fetch_ok", "pixels_ok", "caption_ok",
            "phash_ok", "psnr_db",
        )
        log_job = pool.submit(
            self.store.write_parquet, fetch_log, "fetch_log", f"round={r}"
        )

        # 11. frontier/bloom update PLANS, built BEFORE joining the
        # counts job so the py4j construction overlaps it — the counts
        # only pick which submissions happen (determinism is unaffected:
        # each write's content is a pure function of the cached inputs).
        old_versions = {
            int(b): v.get("bloom_version", 0) for b, v in prev["lineage"].items()
        }
        # O30: fetched rows re-enter the frontier at fetch_ts + interval;
        # they ride the same adds delta but never touch bloom (the URL
        # is already seen — re-enqueue is deliberate; the seen set reads
        # them through the adds, a no-op for the anti-join)
        recrawl = None
        if conf.recrawl_interval_micros > 0 and n_fetched:
            recrawl = sched0.select(
                "url", "url_hash", "host", "host_bucket", "priority",
                F.timestamp_micros(
                    F.lit(round_ts)
                    + F.col("slot_ms") * F.lit(1000)
                    + F.lit(conf.recrawl_interval_micros)
                ).alias("discover_ts"),
                "depth", "image_id",
            ).withColumn("status", F.lit("queued")).withColumn(
                "retry_count", F.lit(0)
            ).select(*FRONTIER_COLS)
        additions = fresh if recrawl is None else fresh.unionByName(recrawl)

        denied_counts: dict[int, int] = {}
        fresh_counts: dict[int, int] = {}
        for row in tagged_job.result():
            side = denied_counts if row["_side"] == "d" else fresh_counts
            side[int(row["host_bucket"])] = int(row["count"])
        n_denied = sum(denied_counts.values())
        n_fresh = sum(fresh_counts.values())

        jobs = {}
        if n_fresh or recrawl is not None:
            # adds-delta layout shuffle, sized from the counts now in
            # hand (25k rows a task, at most 64): same (host_bucket,
            # umod8) co-location keys, so a compacted hot bucket still
            # spans multiple files, but a metadata-sized round writes 1
            # task instead of 64
            n_adds = n_fresh + (n_fetched if recrawl is not None else 0)
            additions = additions.repartition(
                stages.fanout(n_adds, 25_000, 64), F.col("host_bucket"),
                umod_long(F.col("url_hash"), 8),
            )
            jobs["adds"] = pool.submit(
                store.write_parquet, additions, "frontier", f"adds-r{r}",
                partition_by=["host_bucket"],
            )
        if n_fresh:
            jobs["bloom"] = pool.submit(
                self._write_bloom_delta, fresh, bloom, r
            )
        if n_denied:
            jobs["denied"] = pool.submit(
                store.write_parquet, denied.select("url_hash", "url"),
                "frontier", f"denied-r{r}",
            )
        # lineage + the metrics write are pure driver work off counts
        # already in hand — do them WHILE the delta writes run (r5 had
        # them serialized behind the write-phase pool barrier)
        new_versions = dict(old_versions)
        for b in fresh_counts:
            new_versions[b] = new_versions.get(b, 0) + 1
        lineage = self._lineage_from_counts(
            prev=prev["lineage"],
            sched=sched_counts,
            denied=denied_counts,
            fresh=fresh_counts,
            bloom_versions=new_versions,
            recrawled=sched_counts if recrawl is not None else None,
        )
        metrics_path = self._write_metrics(lineage, r)
        adds_path = jobs["adds"].result() if "adds" in jobs else None
        bloom_path = jobs["bloom"].result() if "bloom" in jobs else None
        # fetch_log must be durable before the commit: it holds every
        # scheduled url, so with the denied delta it is the round's
        # frontier equality-deletes
        log_path = log_job.result()
        deletes = (
            ([log_path] if n_fetched else [])
            + ([jobs["denied"].result()] if n_denied else [])
        )

        # delta-chain composition (+ compaction). The frontier and bloom
        # chains are bounded by compact_threshold — without it per-round
        # fixed cost grows linearly with crawl age (a round-1000 seen
        # anti-join would union a 1000-file adds chain on its build
        # side). The seen set reads the frontier adds chain, so it
        # compacts exactly when the frontier does. The compactions are
        # independent of each other and overlap on driver threads like
        # the delta writes above.
        fr_prev = prev["frontier"]
        adds = fr_prev["adds"] + ([adds_path] if adds_path else [])
        removes_list = fr_prev["removes"] + deletes
        base = fr_prev["base"]
        seen_base = prev["seen"]["base"]
        bloom_deltas = prev["bloom"]["deltas"] + ([bloom_path] if bloom_path else [])
        queued_after = sum(v["frontier_offset"] for v in lineage.values())
        cjobs = {}
        if len(adds) >= self.store.compact_threshold:
            composed = store.read_frontier_from(base, adds, removes_list)
            # same multi-file-per-bucket layout as bootstrap, sized like
            # it from the row count (the lineage's summed frontier
            # offsets): a compacted hot bucket must not become a
            # single-file scan straggler, and a small frontier is not
            # spread over 256 near-empty tasks
            composed = composed.repartition(
                stages.fanout(queued_after, 25_000, 256),
                F.col("host_bucket"), umod_long(F.col("url_hash"), 8),
            )
            cjobs["frontier"] = pool.submit(
                store.write_parquet, composed, "frontier", f"base-r{r}",
                partition_by=["host_bucket"],
            )
            cjobs["seen"] = pool.submit(
                store.compact_seen, [seen_base, *adds], r
            )
        if len(bloom_deltas) >= self.store.compact_threshold:
            cjobs["bloom"] = pool.submit(store.compact_bloom, bloom_deltas, r)
        if "frontier" in cjobs:
            base = cjobs["frontier"].result()
            adds, removes_list = [], []
            seen_base = cjobs["seen"].result()
        if "bloom" in cjobs:
            bloom_deltas = [cjobs["bloom"].result()]

        self.store.commit(r, {
            "round": r,
            "frontier": {"base": base, "adds": adds, "removes": removes_list,
                          "last_adds": adds_path},
            "seen": {"base": seen_base},
            "bloom": {"deltas": bloom_deltas},
            "metrics": {"paths": prev["metrics"]["paths"] + [metrics_path]},
            "counters": {
                "fetched_total": seq_offset + n_fetched,
                "denied_total": prev["counters"]["denied_total"] + n_denied,
            },
            "lineage": lineage,
        })
        sched0.unpersist()
        fresh.unpersist()
        denied.unpersist()
        return RoundStats(r, n_fetched, n_denied, n_fresh, queued_after)

    # ------------------------------------------------------------- helpers
    def _sched_metadata(self, sched0: DataFrame):
        """What the driver needs off the cached schedule: the
        per-(slot_ms, host_bucket) row counts that the fetch sequence's
        group offsets are summed from (stages.with_fetch_sequence), and
        the per-bucket lineage counts summed from them. One
        groupBy-count collect of at most per_host_k × #crawl_delays × B
        rows — schedule METADATA, whatever the round budget; the
        schedule rows themselves reach the fetch scan by a shuffle
        (``_fetch``).

        Returns (group_counts, bucket_counts)."""
        from collections import Counter

        groups = {
            (int(r["slot_ms"]), int(r["host_bucket"])): int(r["count"])
            for r in sched0.groupBy(*stages.SEQ_GROUP).count().collect()
        }
        counts: Counter = Counter()
        for (_, b), c in groups.items():
            counts[b] += c
        return groups, dict(counts)

    def _fetch(self, sched0: DataFrame, n_fetched: int) -> DataFrame:
        """The round's schedule with its decode flags, decoded inside
        the layout's Arrow scan (fetch.fetch_from_layout) — one plan at
        every schedule size, the scan sized by the ``n_fetched``
        schedule rows."""
        return fetch_from_layout(sched0, self.corpus_layout, n_fetched)

    def _bucket_counts(self, df: DataFrame) -> dict[int, int]:
        # intentional collect: tiny side — B ≤ 64 aggregated rows
        # (bootstrap's lineage bookkeeping, not data)
        rows = df.groupBy("host_bucket").count().collect()
        return {int(r["host_bucket"]): int(r["count"]) for r in rows}

    def _lineage_from_counts(self, prev, sched, denied, fresh, bloom_versions,
                             recrawled=None):
        recrawled = recrawled or {}
        buckets = set(prev) | set(sched) | set(denied) | set(fresh)
        out = {}
        for b in sorted(int(x) for x in buckets):
            p = prev.get(str(b), prev.get(b, {}))
            offset = (
                p.get("frontier_offset", 0)
                - sched.get(b, 0) - denied.get(b, 0) + fresh.get(b, 0)
                + recrawled.get(b, 0)
            )
            out[str(b)] = {
                "frontier_offset": offset,
                "bloom_version": bloom_versions.get(b, p.get("bloom_version", 0)),
                "fetched": sched.get(b, 0),
                "denied": denied.get(b, 0),
                "enqueued": fresh.get(b, 0),
                "recrawled": recrawled.get(b, 0),
            }
        return out

    def _write_metrics(self, lineage: dict, r: int) -> str:
        """B rows of lineage — written driver-side with pyarrow (a Spark
        job for 64 rows costs seconds of plan/dispatch per round)."""
        import pathlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        items = sorted(lineage.items(), key=lambda kv: int(kv[0]))
        table = pa.table({
            "round": pa.array([r] * len(items), pa.int32()),
            "host_bucket": pa.array([int(b) for b, _ in items], pa.int32()),
            "frontier_offset": pa.array(
                [v["frontier_offset"] for _, v in items], pa.int64()),
            "bloom_version": pa.array(
                [v["bloom_version"] for _, v in items], pa.int64()),
            "fetched": pa.array([v["fetched"] for _, v in items], pa.int64()),
            "denied": pa.array([v["denied"] for _, v in items], pa.int64()),
            "enqueued": pa.array([v["enqueued"] for _, v in items], pa.int64()),
            "recrawled": pa.array(
                [v.get("recrawled", 0) for _, v in items], pa.int64()),
        })
        out = pathlib.Path(self.store.data_path("metrics", f"r{r}"))
        out.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, out / "part-0.parquet")
        return str(pathlib.Path("metrics") / f"r{r}")

    def _write_bloom_delta(self, fresh: DataFrame, bloom: DataFrame,
                           r: int) -> str:
        """O22: per-bucket segment build/merge, task-side — the fresh
        keys cogroup with the latest segment rows on host_bucket, so
        merging never moves segments through the driver and only
        touched buckets produce a delta row (untouched buckets keep
        their version; their rows simply yield nothing)."""
        conf = self.conf
        seg_bits = conf.bloom_segment_bits
        num_hashes = conf.bloom_num_hashes

        def build(key, fresh_pdf, bloom_pdf):
            import pandas as pd

            if len(fresh_pdf) == 0:
                return pd.DataFrame({
                    "host_bucket": pd.Series([], dtype="int32"),
                    "version": pd.Series([], dtype="int64"),
                    "bits": pd.Series([], dtype=object),
                })
            bucket = int(key[0])
            if len(bloom_pdf):
                i = bloom_pdf["version"].idxmax()
                seg = np.frombuffer(
                    bloom_pdf.loc[i, "bits"], dtype=np.uint8
                ).copy()
                ver = int(bloom_pdf.loc[i, "version"]) + 1
            else:
                seg = bf.empty_segment(seg_bits)
                ver = 1
            seg = bf.add_keys(
                seg, fresh_pdf["url_hash"].to_numpy(np.int64), num_hashes
            )
            return pd.DataFrame({
                "host_bucket": [bucket],
                "version": [ver],
                "bits": [seg.tobytes()],
            })

        delta = (
            fresh.select("host_bucket", "url_hash")
            .groupBy("host_bucket")
            .cogroup(bloom.select("host_bucket", "version", "bits")
                     .groupBy("host_bucket"))
            .applyInPandas(build, BLOOM_SCHEMA)
        )
        return self.store.write_parquet(delta, "bloom", f"r{r}")
