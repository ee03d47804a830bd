"""Crawl configuration — every parameter that affects ordering lives here
and is recorded in each snapshot manifest so resume can refuse on mismatch
(SURVEY.md §7.5, BASELINE.json:6 lineage requirement)."""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass

T0_MICROS = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z, virtual clock epoch
ROUND_PERIOD_MICROS = 60_000_000  # 60 s between round starts


@dataclass(frozen=True)
class CrawlConf:
    """Pinned scheduling parameters (docs/SEMANTICS.md §6, FIXTURES.md §5)."""

    host_buckets: int = 64  # B — frontier/corpus partition key space
    per_host_k: int = 2  # k fetches per host per round
    round_budget: int = 50  # K global fetches per round
    max_depth: int = 6
    default_crawl_delay_ms: int = 1000
    bloom_bits_per_key: int = 10
    bloom_num_hashes: int = 7
    bloom_segment_bits: int = 1 << 17  # 16 KiB/bucket; ~13k keys at 10 b/key
    salt_threshold_factor: float = 4.0  # τ = factor × mean host queue length
    robots_version: int = 1  # as-of version for robots rules (O14)
    # Read by nothing in the package. perfbench/workloads.py still
    # passes head_multiple=1, so it goes with the next benchmark change.
    head_multiple: int = 4
    # O30 recrawl: 0 disables. When > 0, a fetched URL re-enters the
    # frontier with discover_ts = fetch virtual time + interval, and a
    # queued row is eligible for round r only once discover_ts ≤
    # round_ts(r) (due predicate, docs/SEMANTICS.md §6a).
    recrawl_interval_micros: int = 0
    t0_micros: int = T0_MICROS
    round_period_micros: int = ROUND_PERIOD_MICROS

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), sort_keys=True)

    def fingerprint(self) -> str:
        """Stable hash recorded in manifests; resume refuses on mismatch."""
        return hashlib.sha256(self.to_json().encode()).hexdigest()[:16]


TINY = CrawlConf(round_budget=50)
SMALL = CrawlConf(round_budget=2_000)
# bench fetches ~20% of the corpus per round (parity fixtures keep k=2):
# politeness scatters point lookups uniformly, so the payload-column scan
# is per-round O(corpus) regardless of K — a larger K amortizes it and
# makes rounds decode-dominated (the honestly-parallel part)
BENCH = CrawlConf(per_host_k=200, round_budget=2_000_000)
