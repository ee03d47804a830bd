"""Every CrawlConf field is part of the fingerprint, so a field nothing
reads still refuses resume when it changes, and pins a knob that does
nothing. Each field must be read (``.field``) somewhere in the package
outside conf.py, or sit in the allowlist with the reason it stays."""

import dataclasses
import re
from pathlib import Path

from ccrawler_spark.conf import CrawlConf

PKG = Path(__file__).resolve().parents[1] / "ccrawler_spark"

UNREAD_ALLOWED = {
    # perfbench/workloads.py still passes head_multiple=1; it goes with
    # the next benchmark change
    "head_multiple": "perfbench",
    # the bloom segment rework (ROADMAP item 6) breaks stores anyway,
    # and decides the bloom fields then
    "bloom_bits_per_key": "ROADMAP item 6",
}


def test_every_conf_field_is_read():
    src = "\n".join(p.read_text() for p in PKG.rglob("*.py")
                    if p != PKG / "conf.py")
    unread = {f.name for f in dataclasses.fields(CrawlConf)
              if not re.search(rf"\.{f.name}\b", src)}
    assert unread == set(UNREAD_ALLOWED), (
        f"unread: {sorted(unread - set(UNREAD_ALLOWED))}; "
        f"read again, drop from the allowlist: "
        f"{sorted(set(UNREAD_ALLOWED) - unread)}"
    )
