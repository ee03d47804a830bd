"""Pin the perf-critical session configs set by build_session.

Three of these are measured-performance load-bearing and would fail
silently if dropped in a refactor:

- ``canChangeCachedPlanOutputPartitioning`` — the round-7 cached-plan
  AQE knob (1.4-1.9x crawl_round, BENCH/aqe_cached_plan_ab.json);
  without it cached frames pin 256-partition layouts on every
  consumer stage.
- ``spark.sql.shuffle.partitions`` — the scaling comparison requires
  the same initial plan at every parallelism level.
- ``parallelPartitionDiscovery.threshold`` — at Spark's default of
  32, every read of a 64-bucket store table lists its directories in
  a Spark job (3 jobs and 165 tasks a round on a tiny crawl).

The default driver heap is pinned to fit the box: ``spark.driver.memory``
never exceeds physical memory (a 16g default once ran on a 15 GB box).

``build_session`` ends in ``getOrCreate``, so asserting through the
suite's shared session would test conftest, not the builder — a fresh
subprocess is the only honest probe (slow: one JVM start, ~10 s).
"""

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_PROBE = """
import json
from ccrawler_spark.scheduler.cli import build_session
s = build_session(2)
keys = [
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.sources.parallelPartitionDiscovery.threshold",
    "spark.driver.memory",
]
conf = {k: s.conf.get(k) for k in keys}
print("CONF=" + json.dumps(conf))
s.stop()
"""


def test_build_session_pins_perf_critical_configs():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=REPO, capture_output=True,
        text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("CONF=")]
    assert line, out.stdout[-2000:]
    conf = json.loads(line[0][len("CONF="):])
    assert conf["spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"] == "true"
    assert conf["spark.sql.shuffle.partitions"] == "256"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.files.maxPartitionBytes"] == "33554432"
    assert conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] == "4096"
    mem = conf["spark.driver.memory"]
    units = {"m": 1 << 20, "g": 1 << 30}
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(mem[:-1]) * units[mem[-1].lower()] <= phys, mem
