"""The crawl workloads: inputs made from a seed, the timed episode, and
the oracle check.

An episode is bootstrap (set-up) followed by a fixed number of timed
``run_round`` calls on a fresh snapshot store. Each timed round is one
operation of the failure accounting.
"""

from __future__ import annotations

import dataclasses
import pathlib
import time
import traceback
from dataclasses import dataclass

from ccrawler_spark import conf as confmod
from ccrawler_spark.fixtures import gen
from ccrawler_spark.functions.hashing import xxhash64_str


@dataclass(frozen=True)
class Crawl:
    size: str  # fixture size (fixtures.gen.SIZES)
    conf: confmod.CrawlConf
    rounds: int  # timed rounds per episode
    seed_share: float = 0.0  # share of the URL universe seeded, or
    n_seeds: int = 0  # a fixed number of seed URLs
    denormalize: bool = False  # spell one seed in ten denormalised
    compact_threshold: int = 8  # SnapshotStore delta-chain bound


WORKLOADS = {
    # A volume round: with head_multiple=1 every round refills the
    # head cache from the full frontier, so the one timed round runs
    # the full dequeue. It schedules more than 4,096 URLs (about 11,600
    # on every seed), so the fetch takes the Arrow corpus scan, and the
    # bootstrap enqueued more than 4,096, so the bloom probe fires.
    "crawl-growth": Crawl(
        size="small",
        conf=dataclasses.replace(confmod.BENCH, head_multiple=1),
        rounds=1, seed_share=0.25,
    ),
    # A metadata-sized round on the tiny fixture (20 hosts, 1,000
    # URLs), bound by job dispatch and served from the head cache. 300
    # seeds cover every host, so the round fetches 39 or 40 URLs on
    # every seed, and stay below the bloom probe's 4,096-URL gate. The
    # compaction threshold is lowered from 8 to 2 so that the seen and
    # bloom compactions fall inside the one timed round.
    "crawl-trickle": Crawl(
        size="tiny", conf=confmod.TINY, rounds=1, n_seeds=300,
        denormalize=True, compact_threshold=2,
    ),
    # --smoke only: the tiny fixture, seconds per round.
    "smoke": Crawl(
        size="tiny", conf=confmod.TINY, rounds=2, n_seeds=10,
        denormalize=True,
    ),
}


def universe(size: str) -> tuple[list[str], list[int], list[str]]:
    """(hosts, pages per host, canonical URLs) of a fixture size."""
    H, U, _n, _r = gen.SIZES[size]
    pages = gen.page_allocation(H, U)
    hosts = [gen.host_name(i) for i in range(H)]
    return hosts, [int(p) for p in pages], list(gen.universe_urls(H, pages))


def seed_urls(wl: Crawl, seed: int, urls: list[str]) -> list[str]:
    """The seed list for ``seed``: URLs ordered by
    ``xxhash64("{seed}|{url}")``, the head of that order taken."""
    order = sorted(urls, key=lambda u: xxhash64_str(f"{seed}|{u}"))
    n = int(len(urls) * wl.seed_share) if wl.seed_share else wl.n_seeds
    chosen = order[:n]
    if wl.denormalize:
        chosen = [gen.denormalize(u) if i % 10 == 3 else u
                  for i, u in enumerate(chosen)]
    return chosen


def write_seeds(path: pathlib.Path, seeds: list[str]) -> None:
    """Seed parquet in the fixture schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "url": pa.array(seeds, pa.string()),
        "priority": pa.array([0] * len(seeds), pa.int32()),
    }), path)


@dataclass
class Episode:
    store: object
    bootstrap: tuple[float, float]  # (start, end) wall clock
    rounds: list[dict]  # {r, t0, t1, fetched, enqueued, ...}
    failed: int
    attempted: int


def run_episode(spark, wl: Crawl, fdir: str, layout: str, seeds_path: str,
                out: str, on_round=None) -> Episode:
    """Bootstrap, then ``wl.rounds`` timed rounds. A round that raises
    is counted as failed and ends the episode (later rounds need its
    snapshot)."""
    from ccrawler_spark.scheduler.cli import make_engine

    t0 = time.time()
    engine, store = make_engine(spark, fdir, out, conf=wl.conf,
                                corpus_layout=layout)
    store.compact_threshold = wl.compact_threshold
    engine.bootstrap(spark.read.parquet(seeds_path))
    boot = (t0, time.time())
    rounds, failed = [], 0
    for r in range(1, wl.rounds + 1):
        try:
            if on_round is not None:
                on_round("before", r, store)
            t = time.time()
            st = engine.run_round(r)
        except Exception:  # noqa: BLE001 — counted, reported, run goes on
            traceback.print_exc()
            failed += 1
            break
        rd = {"r": r, "t0": t, "t1": time.time(), "fetched": st.fetched,
              "enqueued": st.enqueued}
        if on_round is not None:
            on_round("after", r, store, rd)
        rounds.append(rd)
    return Episode(store, boot, rounds, failed, len(rounds) + failed)


def oracle(wl: Crawl, seeds: list[str], hosts: list[str], pages: list[int]):
    from ccrawler_spark.oracle.ccrawler_sim import run_oracle

    return run_oracle(seeds, hosts, pages, wl.conf, wl.rounds)


def check(store, expected, rounds: int) -> list[str]:
    """Problems found when comparing a finished episode with the
    oracle; empty when the outputs are correct."""
    from pyspark.sql import functions as F

    from ccrawler_spark import testing

    problems = []
    got = testing.engine_fetch_sequence(store)
    want = testing.oracle_fetch_sequence(expected)
    if got != want:
        first = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                     min(len(got), len(want)))
        problems.append(f"fetch_log differs from the oracle at row {first}"
                        f" ({len(got)} vs {len(want)} rows)")
    seen = testing.engine_seen(store, rounds)
    if seen != expected.seen:
        problems.append(f"seen set differs: {len(seen - expected.seen)} extra,"
                        f" {len(expected.seen - seen)} missing")
    ok = (F.col("fetch_ok") & F.col("pixels_ok") & F.col("caption_ok")
          & F.col("phash_ok"))
    bad = store.read_fetch_log().filter(~ok).count()
    if bad:
        problems.append(f"{bad} fetched rows fail a fetch/pixel/caption/phash"
                        " check")
    return problems
