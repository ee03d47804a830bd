"""Composable DataFrame stages of the scheduling round (SURVEY.md §3 E2).

Each function is a declarative DataFrame→DataFrame transform; Catalyst
fuses them into one plan per round (one action: the snapshot write).
A round's Python crossings are exactly: image decode (O41), inside
the Arrow corpus layout scan (io/arrow_scan), and the bloom segment
merge (O11, the engine's delta write); bootstrap adds the URL
normalization tail (O6). All are Arrow-batched, never row-at-a-time
(BASELINE.json:15). Everything else is JVM-side whole-stage codegen.
Every window is partitioned: the fetch sequence's group offsets are
summed on the driver from counts the engine already collects, so no
stage ranks rows in a single partition. The dequeue is one window
(``schedule``): its per-host rank gives the top-k, survives the budget
limit and sets the politeness slots; hot-host skew is handled by
Catalyst's map-side group limit ahead of the host exchange.

Determinism discipline (docs/SEMANTICS.md §8): every window/sort here
orders by a total key — ORD = (priority, discover_ts, url_hash, url),
or SEQ_KEY for the fetch sequence.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ccrawler_spark.conf import CrawlConf
from ccrawler_spark.functions.spark_exprs import (
    host_bucket,
    host_from_url,
    image_id_of,
    path_from_url,
    priority_of,
    umod_long,
    ushift_long,
)

ORD_COLS = ["priority", "discover_ts", "url_hash", "url"]


def fanout(n_rows: int, rows_per_task: int, cap: int) -> int:
    """Partition count of a shuffle whose row count the driver already
    holds: one task per ``rows_per_task`` rows, at least 1, at most
    ``cap``. A fixed fan-out costs a task per partition whatever the
    data, so every shuffle on the bootstrap and fetch path whose input
    size the driver knows is sized here."""
    return min(cap, max(1, -(-n_rows // rows_per_task)))


# --------------------------------------------------------------- O6: normalize
def normalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Replace ``url_col`` with its canonical form via the batch
    pandas_udf over the shared pure canonicalizer (O6); drop
    out-of-scope rows."""
    from ccrawler_spark.functions.udfs import canonical_url_udf

    return (
        df.withColumn(url_col, canonical_url_udf(F.col(url_col)))
        .filter(F.col(url_col).isNotNull())
    )


def with_url_derivations(df: DataFrame, conf: CrawlConf) -> DataFrame:
    """Attach url_hash/host/host_bucket/image_id to canonical ``url``."""
    return (
        df.withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", host_from_url(F.col("url")))
        .withColumn("host_bucket", host_bucket(F.col("host"), conf.host_buckets))
        .withColumn("image_id", image_id_of(F.col("url")))
    )


# ---------------------------------------------------------- O13/O14: robots
def robots_active(robots: DataFrame, version: int) -> DataFrame:
    """As-of the configured version: max version ≤ v per host (O14)."""
    w = Window.partitionBy("host").orderBy(F.col("version").desc())
    return (
        robots.filter(F.col("version") <= version)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def robots_gate(frontier: DataFrame, active_rules: DataFrame, conf: CrawlConf) -> DataFrame:
    """Attach ``allowed`` + ``crawl_delay_ms`` via a broadcast join and a
    pure-Catalyst longest-prefix match over the rules array (O13):
    filter the rules to prefix matches, array_max on (length, allow)
    structs picks the longest. No UDF, no shuffle."""
    path = path_from_url(F.col("url"))
    best = F.array_max(
        F.transform(
            F.filter("rules", lambda r: F.startswith(path, r["pattern"])),
            lambda r: F.struct(
                F.length(r["pattern"]).alias("l"), r["allow"].alias("allow")
            ),
        )
    )
    return (
        frontier.join(F.broadcast(active_rules), on="host", how="left")
        .withColumn("allowed", F.coalesce(best["allow"], F.lit(True)))
        .withColumn(
            "crawl_delay_ms",
            F.coalesce(F.col("crawl_delay_ms"), F.lit(conf.default_crawl_delay_ms)),
        )
        .drop("rules", "version")
    )


# ------------------------------------------------- O24/O26/O27/O31: dequeue
def schedule(allowed: DataFrame, conf: CrawlConf, n_hosts: int) -> DataFrame:
    """The round's schedule over the gated frontier: per-host top-k
    (O26), the global budget K (O31) and politeness slots (O27) from one
    window.

    ``_rn`` is the per-host rank in the total order ORD, kept where
    ``_rn ≤ k``. Catalyst plans that filter as a map-side ``Partial``
    WindowGroupLimit, the host exchange, then a ``Final`` one, so each
    map task ships at most k rows per host and a hot host never crosses
    the shuffle whole (O24; the engine keeps the session's
    ``windowGroupLimitThreshold`` ≥ k so the rule fires). The budget
    keeps a prefix of ORD, so a host's kept rows are a prefix of its
    ranked rows and ``_rn`` is still their rank within the host: slot =
    (_rn − 1) × crawl delay, as in the oracle."""
    k = conf.per_host_k
    w = Window.partitionBy("host").orderBy(*ORD_COLS)
    scheduled = (
        allowed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
    )
    if n_hosts * k > conf.round_budget:
        # the budget binds. When the per-host cap already bounds the
        # round below K the limit is statically a no-op and is skipped:
        # for K in the millions Spark plans orderBy+limit as a
        # single-partition GlobalLimit, a pure serial stage
        scheduled = scheduled.orderBy(*ORD_COLS).limit(conf.round_budget)
    return scheduled.withColumn(
        "slot_ms", ((F.col("_rn") - 1) * F.col("crawl_delay_ms")).cast("long")
    ).drop("_rn")


SEQ_KEY = ["slot_ms", "host_bucket", "host", "url_hash", "url"]


SEQ_GROUP = ["slot_ms", "host_bucket"]  # prefix of SEQ_KEY ⇒ order-compatible


def with_fetch_sequence(scheduled: DataFrame,
                        group_counts: dict[tuple[int, int], int],
                        round_no: int, seq_offset: int) -> DataFrame:
    """O29: total fetch order (slot_ms, host_bucket, host, url_hash, url).

    A deterministic group prefix-sum: rows are grouped on (slot_ms,
    host_bucket) — a *prefix* of the total key, so every row of an
    earlier group precedes every row of a later group — ranked within
    the group by the key's remainder, and shifted by the cumulative
    count of earlier groups. ``group_counts`` is {(slot_ms,
    host_bucket): rows} of ``scheduled``, which the engine already
    holds from its schedule-metadata collect; the driver sorts the
    keys and takes the running sum from ``seq_offset``. Every boundary
    is a pure function of data values: unlike ``repartitionByRange``
    (whose sampled boundaries vary per job, so reading the partitioning
    twice can mis-align offsets and ranks), this cannot produce
    duplicate or gapped seq at any scale or parallelism (T4 guards
    this).

    Cost: one hash shuffle of ``scheduled`` on the group key. The
    offsets side is |distinct (slot_ms, host_bucket)| rows — in a
    politeness-sloted schedule that is O(per_host_k × #crawl_delays ×
    B) ≪ K, so it broadcasts. Group sizes are ~|hosts scheduled at
    that slot| / B — naturally balanced, no hot key.
    """
    keys = sorted(group_counts)
    offs, off = [], seq_offset
    for key in keys:
        offs.append(off)
        off += group_counts[key]
    # an Arrow table with explicit types: a local scan with no Python
    # stage, and an empty round (drained frontier) keeps the schema
    offsets = scheduled.sparkSession.createDataFrame(pa.table({
        "slot_ms": pa.array([k[0] for k in keys], pa.int64()),
        "host_bucket": pa.array([k[1] for k in keys], pa.int32()),
        "_goff": pa.array(offs, pa.int64()),
    }))
    w = Window.partitionBy(*SEQ_GROUP).orderBy("host", "url_hash", "url")
    return (
        scheduled.join(F.broadcast(offsets), on=SEQ_GROUP, how="inner")
        .withColumn("seq", (F.row_number().over(w) - 1 + F.col("_goff")).cast("long"))
        .withColumn("round", F.lit(round_no))
        .select(*scheduled.columns, "seq", "round")
    )


# ------------------------------------------------------------ O39: discovery
def discover_links(fetched: DataFrame, hosts: DataFrame, conf: CrawlConf, H: int,
                   round_ts_micros: int) -> DataFrame:
    """Deterministic outlink expansion (SEMANTICS.md §4), fully JVM-side.

    deg ≤ 5, so the five candidate structs are built with *literal*
    shift amounts and sliced to deg — keeps everything inside
    whole-stage codegen (no UDF, no expr-string shifts). The hosts dim
    (≤ 10^4 rows) is broadcast for the pages_i lookup. H = |hosts|.
    """
    k = F.col("url_hash")
    deg = (umod_long(k, 5) + F.lit(1)).cast("int")
    link_structs = [
        F.struct(
            F.lit(t).alias("t"),
            umod_long(ushift_long(k, 8 * t), H).cast("int").alias("host_idx"),
            ushift_long(k, 4 * t).alias("jraw"),
        )
        for t in range(5)
    ]
    parents = fetched.select(
        F.col("url").alias("src_url"),
        F.col("url_hash").alias("src_hash"),
        F.col("depth").alias("src_depth"),
        F.col("slot_ms"),
        F.slice(F.array(*link_structs), 1, deg).alias("links"),
    ).filter(F.col("src_depth") + 1 <= F.lit(conf.max_depth))  # O9 scope
    exploded = parents.select(
        "src_url", "src_hash", "src_depth", "slot_ms",
        F.posexplode("links").alias("t", "link"),
    )
    joined = exploded.withColumn("host_idx", F.col("link.host_idx")).join(
        F.broadcast(
            hosts.select(
                F.col("host_index").cast("int").alias("host_idx"),
                F.col("pages"),
                F.col("host").alias("target_host"),
            )
        ),
        on="host_idx",
        how="inner",
    )
    page = umod_long_col(F.col("link.jraw"), F.col("pages"))
    return joined.select(
        F.concat(
            F.lit("http://"), F.col("target_host"), F.lit("/p/"), page.cast("string")
        ).alias("url"),
        (F.col("src_depth") + 1).cast("int").alias("depth"),
        F.timestamp_micros(
            F.lit(round_ts_micros) + F.col("slot_ms") * F.lit(1000)
        ).alias("discover_ts"),
        F.col("src_hash"),
        F.col("t"),
    )


def umod_long_col(col: Column, m: Column) -> Column:
    """Unsigned k_u % m with a *column* modulus (SEMANTICS.md §1; valid
    for m < 2^31 — pages counts satisfy this by construction)."""
    hi = F.shiftrightunsigned(col, 32)
    lo = col.bitwiseAND(F.lit((1 << 32) - 1))
    return F.pmod(hi * F.pmod(F.lit(1 << 32), m) + lo, m)


def dedup_in_round(candidates: DataFrame) -> DataFrame:
    """O28: deterministic keep-one per canonical url — smallest
    (discover_ts, src_hash, t); never bare dropDuplicates."""
    w = Window.partitionBy("url").orderBy("discover_ts", "src_hash", "t")
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "src_hash", "t")
    )


def as_frontier_rows(fresh: DataFrame, conf: CrawlConf) -> DataFrame:
    """Attach queue keys to fresh candidates (priority per SEMANTICS §2)."""
    df = with_url_derivations(fresh, conf)
    return df.withColumn("priority", priority_of(F.col("url"))).select(
        "url", "url_hash", "host", "host_bucket", "priority",
        "discover_ts", "depth", "image_id",
    )
