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


def seen_dedup(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Return candidates not in the seen set (exact).

    ``seen`` is the seen base ∪ the frontier adds chain
    (``SnapshotStore.read_seen``); in recrawl mode the adds repeat
    already-seen keys, which a left-anti join ignores."""
    return candidates.join(seen, on=["url_hash", "url"], how="left_anti")
