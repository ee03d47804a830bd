"""Fetch-path corpus layout (io/corpus_layout) and its one pruned
reader (io/arrow_scan): the reader against the flat corpus, the
engine's fetch against the flat join + decode, and metadata-level
row-group skipping proof. Engine parity with the oracle over the
layout is tests/test_parity.py's."""

import pathlib
import subprocess
import sys

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def layout_dir(spark, tiny_fixtures):
    from ccrawler_spark.fixtures.gen import ensure_corpus_layout

    return str(ensure_corpus_layout(spark, tiny_fixtures))


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy(*df.columns).collect()]


def test_row_group_stats_enable_skipping(spark, tiny_fixtures, tmp_path):
    """Metadata proof: with the clustered sort order, a single host's
    rows concentrate in few row groups — the [min,max] host_key stats
    of most groups exclude it, so a pushed host_key filter skips them.
    The flat corpus (hash order) has no such structure."""
    import pyarrow.parquet as pq

    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import image_id_of
    from ccrawler_spark.io.corpus_layout import (
        host_key_py, write_corpus_layout,
    )

    out = str(tmp_path / "layout")
    corpus = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")
    url_map = universe_urls_df(spark, str(tiny_fixtures)).select(
        image_id_of(F.col("url")).alias("image_id"), "host"
    )
    # tiny rows → tiny row groups so the 1000-row corpus has many
    write_corpus_layout(corpus, url_map, out, row_group_bytes=16 * 1024)
    total, touched = 0, 0
    target = host_key_py("h19.example", 64)  # a tail host, few pages
    for pf in pathlib.Path(out).glob("host_bucket=*/*.parquet"):
        md = pq.ParquetFile(pf).metadata
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "host_key"
            )
            total += 1
            st = col.statistics
            if st.min <= target <= st.max:
                touched += 1
    assert total >= 8  # the knob actually produced many row groups
    assert touched < total  # stats exclude the host from most groups


def test_layout_bucket_mismatch_fails_loudly(spark, tiny_fixtures,
                                             layout_dir, tmp_path):
    """ADVICE r4 (medium): a layout written with a different bucket
    count than conf.host_buckets must be rejected at engine init —
    the mismatched partition filter would otherwise silently drop
    scheduled corpus rows (fetches would look like legitimate misses)."""
    import json
    import shutil

    from ccrawler_spark.conf import CrawlConf
    from ccrawler_spark.io.corpus_layout import META_FILE, read_layout_meta
    from ccrawler_spark.scheduler.cli import make_engine

    meta = read_layout_meta(layout_dir)
    assert meta is not None and meta["buckets"] == 64

    # engine conf with host_buckets != layout buckets → loud failure
    out = str(tmp_path / "store")
    with pytest.raises(ValueError, match="host_buckets=32"):
        make_engine(
            spark, str(tiny_fixtures), out,
            conf=CrawlConf(host_buckets=32), corpus_layout=layout_dir,
        )

    # a layout with no metadata sidecar is unverifiable → also loud
    legacy = str(tmp_path / "legacy" / "layout")
    shutil.copytree(layout_dir, legacy)
    (pathlib.Path(legacy) / META_FILE).unlink()
    with pytest.raises(ValueError, match="no _layout_meta"):
        make_engine(
            spark, str(tiny_fixtures), out, size="tiny",
            corpus_layout=legacy,
        )

    # matching bucket count passes (and json is well-formed)
    assert json.loads(
        (pathlib.Path(layout_dir) / META_FILE).read_text()
    )["cluster_keys"] == ["host_bucket", "host_key.bp2", "image_id"]


def test_arrow_scan_matches_jvm_and_flat(spark, tiny_fixtures, layout_dir):
    """The Arrow reader's host-scoped mode (the engine's plan) returns
    exactly the flat corpus rows of the scheduled (host → ids) pairing,
    with the schema of a plain layout read. The JVM reader this was
    once compared against is gone (its Or-tree filter overflowed)."""
    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import image_id_of
    from ccrawler_spark.io.arrow_scan import pruned_corpus_arrow

    url_map = universe_urls_df(spark, str(tiny_fixtures)).select(
        image_id_of(F.col("url")).alias("image_id"), "host"
    )
    hosts = ["h0.example", "h5.example", "h19.example"]
    h_ids: dict[str, set] = {}
    for r in (url_map.filter(F.col("host").isin(hosts))
              .orderBy("image_id").limit(40).collect()):
        h_ids.setdefault(r["host"], set()).add(r["image_id"])
    ids = sorted(i for v in h_ids.values() for i in v)
    cols = ["image_id", "fmt", "phash"]
    got = pruned_corpus_arrow(spark, layout_dir, host_ids=h_ids)
    flat = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")
    want = flat.filter(F.col("image_id").isin(ids))
    assert _sorted_rows(got.select(*cols)) == _sorted_rows(want.select(*cols))
    # the schema is interchangeable with the bucket-pruned layout read
    assert got.schema == spark.read.parquet(layout_dir).schema


def _plan_nodes(df) -> list[str]:
    """Node names of ``df``'s physical plan, top to bottom."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"^[ :+\-]*(?:\*\(\d+\) )?(\w+)", plan, re.M)


def _synthetic_schedule(spark, n: int):
    """``n`` schedule rows over 100 hosts, 64 buckets and 7 slots."""
    return spark.range(n).select(
        F.concat(F.lit("h"), (F.col("id") % 100).cast("string"),
                 F.lit(".example")).alias("host"),
        F.lpad(F.hex("id"), 16, "0").alias("image_id"),
        (F.col("id") % 64).cast("int").alias("host_bucket"),
        ((F.col("id") % 7) * 1000).alias("slot_ms"),
        F.concat(F.lit("http://x/p/"), F.col("id").cast("string"))
        .alias("url"),
    )


def test_sched_metadata_plans_arrow_scan(spark, tiny_fixtures, layout_dir,
                                         tmp_path):
    """Engine planning is one plan at every schedule size: a TINY budget
    and a budget of 200,000 collect the same sequence group counts and
    bucket counts off the same schedule, and ``_fetch`` builds the same
    plan shape — the one Arrow scan — for both, and for a schedule of
    140,000 rows."""
    from ccrawler_spark.conf import TINY, CrawlConf
    from ccrawler_spark.scheduler.cli import make_engine

    sched = _synthetic_schedule(spark, 4200)
    metas, shapes = [], []
    big = CrawlConf(round_budget=200_000, per_host_k=64)
    for i, conf in enumerate((TINY, big)):
        out = str(tmp_path / f"store{i}")
        engine, _ = make_engine(spark, str(tiny_fixtures), out, conf=conf,
                                corpus_layout=layout_dir)
        groups, counts = engine._sched_metadata(sched)
        assert sum(counts.values()) == 4200
        metas.append((groups, counts))
        df = engine._fetch(sched, sum(counts.values()))
        assert {"url", "image_id", "fetch_ok", "psnr_db"} <= set(df.columns)
        shapes.append(_plan_nodes(df))
    assert metas[0] == metas[1]
    assert len(metas[0][0]) == 7 * 64
    shapes.append(_plan_nodes(
        engine._fetch(_synthetic_schedule(spark, 140_000), 140_000)))
    assert "MapInArrow" in shapes[0], shapes[0]
    assert shapes[0] == shapes[1] == shapes[2], shapes


def test_arrow_scan_soundness_randomized(spark, tiny_fixtures, layout_dir):
    """Property test for the admission logic in io/arrow_scan (bisect
    over footer [min,max] + host-scoped id sets): for ANY schedule
    assembled from real (host → its ids) pairings — plus phantom hosts
    and ids that exist nowhere, hosts with empty id sets, and tiny or
    empty schedules — the pruned arrow read must equal the flat corpus
    filtered by the same id set. Row-group skipping may only remove
    groups that cannot match; hypothesis hunts the off-by-one bisect /
    range-edge cases a fixed schedule would never hit."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import image_id_of
    from ccrawler_spark.io.arrow_scan import pruned_corpus_arrow

    url_rows = universe_urls_df(spark, str(tiny_fixtures)).select(
        image_id_of(F.col("url")).alias("image_id"), "host"
    ).collect()
    by_host: dict[str, list] = {}
    for r in url_rows:
        by_host.setdefault(r["host"], []).append(r["image_id"])
    hosts_all = sorted(by_host)
    flat = spark.read.parquet(f"{tiny_fixtures}/corpus.parquet")

    def rows(df, ids):
        return sorted(
            tuple(r) for r in df.filter(
                F.col("image_id").isin(sorted(ids)) if ids
                else F.lit(False)
            ).select("image_id", "fmt", "phash").collect()
        )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def prop(data):
        picked = data.draw(st.lists(
            st.sampled_from(hosts_all), max_size=6, unique=True))
        sched: dict[str, set] = {}
        all_ids: set = set()
        for h in picked:
            ids = set(data.draw(st.lists(
                st.sampled_from(by_host[h]), max_size=8, unique=True)))
            sched[h] = ids
            all_ids |= ids
        # phantom host (bucket may not even have files) + phantom ids:
        # must never admit anything extra, never crash
        if data.draw(st.booleans()):
            sched["no-such-host.invalid"] = {"ffffffffffffffff"}
        if sched and data.draw(st.booleans()):
            k = data.draw(st.sampled_from(sorted(sched)))
            sched[k] = set(sched[k]) | {"0000000000000000"}
        got = sorted(
            tuple(r)
            for r in pruned_corpus_arrow(
                spark, layout_dir, host_ids=sched
            ).select("image_id", "fmt", "phash").collect()
        )
        assert got == rows(flat, all_ids)

    prop()


def test_arrow_scan_statless_footers_admit_everything(spark, tmp_path):
    """VERDICT r6 optional #7: ``admits()``/``admits_scoped()`` must
    KEEP row groups whose column chunks carry no min/max statistics (a
    writer may disable or truncate them) — correctness then rests on
    the residual ``is_in`` filter alone. Hand-builds a layout with
    (a) a file with NO statistics at all and (b) a file with host_key
    stats but no image_id stats (pins the partial-stats branch), three
    rows per group: nothing may be wrongly skipped, and the returned
    rows are exactly the scheduled ids."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ccrawler_spark.io.arrow_scan import pruned_corpus_arrow
    from ccrawler_spark.io.corpus_layout import host_key_py, write_layout_meta

    buckets = 64
    host = "h0.example"
    k = host_key_py(host, buckets)
    bk = k >> 57
    root = tmp_path / "statless_layout"
    d = root / f"host_bucket={bk}"
    d.mkdir(parents=True)

    def mk(ids, fname, stats):
        tbl = pa.table({
            "image_id": pa.array(ids, pa.string()),
            "fmt": pa.array(["png"] * len(ids), pa.string()),
            "host_key": pa.array([k] * len(ids), pa.int64()),
        })
        pq.write_table(tbl, d / fname, write_statistics=stats,
                       row_group_size=3)

    ids_a = [f"a{i:015x}" for i in range(9)]
    ids_b = [f"b{i:015x}" for i in range(9)]
    mk(ids_a, "part-0.parquet", False)           # no stats anywhere
    mk(ids_b, "part-1.parquet", ["host_key"])    # id stats absent only
    data_schema = StructType([StructField("image_id", StringType()),
                              StructField("fmt", StringType()),
                              StructField("host_key", LongType())])
    write_layout_meta(str(root), buckets, None,
                      data_schema=json.loads(data_schema.json()))

    want = {ids_a[1], ids_a[7], ids_b[4]}
    got = pruned_corpus_arrow(
        spark, str(root), host_ids={host: want}
    ).select("image_id", "fmt", "host_bucket").collect()
    assert sorted(r["image_id"] for r in got) == sorted(want)
    assert all(r["host_bucket"] == bk and r["fmt"] == "png" for r in got)


def test_layout_without_data_schema_is_rebuilt(spark, tiny_fixtures,
                                               layout_dir, tmp_path):
    """A cached layout whose sidecar lacks ``data_schema`` is stale:
    ``ensure_corpus_layout`` rebuilds it rather than have the scan
    read a footer for its schema."""
    import json
    import shutil

    from ccrawler_spark.fixtures.gen import (
        corpus_layout_current, ensure_corpus_layout,
    )
    from ccrawler_spark.io.corpus_layout import META_FILE, read_layout_meta

    fdir = tmp_path / "fixture"
    shutil.copytree(tiny_fixtures, fdir)
    assert corpus_layout_current(fdir)
    sidecar = fdir / "corpus_layout" / META_FILE
    meta = json.loads(sidecar.read_text())
    del meta["data_schema"]
    sidecar.write_text(json.dumps(meta))
    assert not corpus_layout_current(fdir)

    out = ensure_corpus_layout(spark, fdir)
    assert corpus_layout_current(fdir)
    assert read_layout_meta(str(out))["data_schema"] == read_layout_meta(
        layout_dir)["data_schema"]


_MANY_IDS_PROBE = """
import sys

from pyspark.sql import functions as F

from ccrawler_spark.conf import CrawlConf
from ccrawler_spark.fixtures.gen import (
    ensure_corpus_layout, ensure_fixtures, universe_urls_df,
)
from ccrawler_spark.functions.spark_exprs import host_bucket, image_id_of
from ccrawler_spark.scheduler.cli import build_session, make_engine
from ccrawler_spark.scheduler.fetch import _decode_tasks, fetch_and_decode

spark = build_session(4, driver_mem="2g")
fdir = str(ensure_fixtures("tiny"))
layout = str(ensure_corpus_layout(spark, fdir))
engine, _ = make_engine(
    spark, fdir, sys.argv[1],
    conf=CrawlConf(round_budget=4096), corpus_layout=layout,
)
real = universe_urls_df(spark, fdir).select(
    "host", image_id_of(F.col("url")).alias("image_id"), "url"
)
phantom = real.select(
    "host",
    F.substring(F.sha2(F.concat("image_id", F.lit("#phantom")), 256), 1, 16)
    .alias("image_id"),
    F.concat("url", F.lit("#phantom")).alias("url"),
)
sched = real.unionByName(phantom).withColumn(
    "host_bucket", host_bucket(F.col("host"), 64)
).withColumn("slot_ms", F.lit(0).cast("long"))
cols = ["url", "fetch_ok", "pixels_ok", "caption_ok", "phash_ok", "psnr_db",
        "dec_w", "dec_h"]
_, counts = engine._sched_metadata(sched)
n = sum(counts.values())
got = sorted(
    tuple(r) for r in engine._fetch(sched, n).select(*cols).collect()
)
flat = spark.read.parquet(f"{fdir}/corpus.parquet")
want = sorted(
    tuple(r) for r in fetch_and_decode(sched, flat, n).select(*cols).collect()
)
print(f"SCHED={n} TASKS={_decode_tasks(sched, n)} "
      f"GOT={sum(r[1] for r in got)} EQUAL={got == want}")
spark.stop()
"""


def test_small_budget_corpus_side_many_ids_matches_flat(layout_dir, tmp_path):
    """A small-budget round whose schedule carries ~2,000 (host,
    image_id) rows — the tiny corpus's 1,000 ids plus as many phantom
    ids on the same hosts — must fetch through the Arrow scan exactly
    what the flat corpus join fetches: every real id decodes, every
    phantom is a miss, flag for flag. A JVM parquet ``IN`` pushdown of
    that many ids builds an ``Or`` tree that overflows the stack; the
    engine's session (``build_session``) is the condition under test,
    so this runs in a fresh subprocess (one JVM start)."""
    out = subprocess.run(
        [sys.executable, "-c", _MANY_IDS_PROBE, str(tmp_path)],
        cwd=pathlib.Path(__file__).resolve().parents[1],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("SCHED=")]
    assert line, out.stdout[-2000:]
    fields = dict(kv.split("=") for kv in line[0].split())
    assert int(fields["SCHED"]) >= 2000
    # the scan runs in 4 tasks, so the scheduled buckets split across them
    assert int(fields["TASKS"]) == 4
    assert int(fields["GOT"]) >= 1000
    assert fields["EQUAL"] == "True"


def test_fused_and_flat_flags_agree_on_bad_rows(spark, tiny_fixtures,
                                                layout_dir, tmp_path):
    """Negative paths of the per-row flags. In a copy of the layout one
    row's payload is corrupted and another row's caption is changed, and
    the schedule also holds an image_id the corpus lacks. The Arrow path
    (decode inside the layout scan) and the flat join + decode path over
    the same layout return identical flag rows, psnr_db and decoded
    dimensions included, and each bad row fails exactly its own flags."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccrawler_spark.fixtures.gen import universe_urls_df
    from ccrawler_spark.functions.spark_exprs import host_bucket, image_id_of
    from ccrawler_spark.scheduler.cli import make_engine
    from ccrawler_spark.scheduler.fetch import fetch_and_decode

    lay = tmp_path / "layout"
    shutil.copytree(layout_dir, lay)
    # a file with a lossless (rgb8) row and at least one other row: a
    # flipped rgb8 byte still decodes, to the wrong pixels
    for pf in sorted(lay.glob("host_bucket=*/*.parquet")):
        f = pq.ParquetFile(pf)
        t = f.read()
        rg_rows = f.metadata.row_group(0).num_rows
        f.close()
        fmts = t.column("fmt").to_pylist()
        if t.num_rows >= 2 and "rgb8" in fmts:
            break
    else:
        pytest.fail("no layout file with an rgb8 row and another row")
    ids = t.column("image_id").to_pylist()
    i_pix = fmts.index("rgb8")
    i_cap = 1 if i_pix == 0 else 0
    payloads = t.column("bytes").to_pylist()
    payloads[i_pix] = payloads[i_pix][:-1] + bytes(
        [payloads[i_pix][-1] ^ 0xFF])
    captions = t.column("caption").to_pylist()
    captions[i_cap] = captions[i_cap] + " (edited)"
    t = t.set_column(t.schema.get_field_index("bytes"), "bytes",
                     pa.array(payloads, pa.binary()))
    t = t.set_column(t.schema.get_field_index("caption"), "caption",
                     pa.array(captions, pa.string()))
    pq.write_table(t, pf, row_group_size=rg_rows)
    # the Hadoop checksum of the rewritten file is stale now
    (pf.parent / f".{pf.name}.crc").unlink(missing_ok=True)

    universe = universe_urls_df(spark, str(tiny_fixtures)).select(
        "host", "url", image_id_of(F.col("url")).alias("image_id"),
    )
    in_file = universe.filter(F.col("image_id").isin(ids))
    phantom = in_file.limit(1).select(
        "host", F.concat("url", F.lit("#absent")).alias("url"),
        F.lit("ffffffffffffffff").alias("image_id"),
    )
    sched = in_file.unionByName(phantom).withColumn(
        "host_bucket", host_bucket(F.col("host"), 64)
    ).withColumn("slot_ms", F.lit(0).cast("long")).cache()

    engine, _ = make_engine(spark, str(tiny_fixtures), str(tmp_path / "s"),
                            size="tiny", corpus_layout=str(lay))
    _, counts = engine._sched_metadata(sched)
    n = sum(counts.values())
    assert n == len(ids) + 1
    cols = ["url", "fetch_ok", "pixels_ok", "caption_ok", "phash_ok",
            "psnr_db", "dec_w", "dec_h"]

    def flags(df):
        return {r["url"]: r.asDict() for r in df.select(*cols).collect()}

    fused = flags(engine._fetch(sched, n))
    flat = flags(fetch_and_decode(sched, spark.read.parquet(str(lay)), n))
    assert fused == flat
    sched.unpersist()

    url_of = {r["image_id"]: r["url"] for r in in_file.collect()}
    pix = fused.pop(url_of[ids[i_pix]])
    assert pix["fetch_ok"] and not pix["pixels_ok"], pix
    assert pix["psnr_db"] < 999.0
    cap = fused.pop(url_of[ids[i_cap]])
    assert cap["fetch_ok"] and cap["pixels_ok"] and cap["phash_ok"], cap
    assert not cap["caption_ok"], cap
    (absent_url,) = [u for u in fused if u.endswith("#absent")]
    assert fused.pop(absent_url) == {
        "url": absent_url, "fetch_ok": False, "pixels_ok": False,
        "caption_ok": False, "phash_ok": False, "psnr_db": 0.0,
        "dec_w": None, "dec_h": None,
    }
    assert fused and all(
        r["fetch_ok"] and r["pixels_ok"] and r["caption_ok"]
        and r["phash_ok"] for r in fused.values()
    ), fused
