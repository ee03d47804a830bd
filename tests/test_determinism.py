"""T4 (SURVEY.md §5.3): partition-order independence and resume
idempotence. Different local[N] masters need separate JVMs, so the
engine runs as CLI subprocesses; stores are compared logically with
DuckDB (parquet layout may differ, content must not)."""

import json
import os
import pathlib
import shutil
import subprocess
import sys

import duckdb
import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]


def run_cli(args: list[str]) -> str:
    p = subprocess.run(
        [sys.executable, "-m", "ccrawler_spark.scheduler.cli", *args],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout


def fetch_rows(store: str):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT round, seq, url, host, slot_ms FROM '{store}/data/fetch_log/*/*.parquet' ORDER BY seq"
    ).fetchall()
    con.close()
    return rows


def seen_rows(store: str):
    """Seen set of the latest snapshot: the seen base ∪ the frontier
    adds chain its manifest names (SnapshotStore.read_seen)."""
    latest = sorted(pathlib.Path(store, "manifests").glob("manifest-*.json"))[-1]
    m = json.loads(latest.read_text())
    globs = [f"{store}/data/{p}/**/*.parquet"
             for p in [m["seen"]["base"], *m["frontier"]["adds"]]]
    con = duckdb.connect()
    rows = con.execute(
        "SELECT url FROM read_parquet(?, union_by_name=true) ORDER BY url",
        [globs],
    ).fetchall()
    con.close()
    return rows


@pytest.mark.slow
def test_parallelism_independence(tiny_fixtures, tmp_path):
    """local[n] and local[4n] must produce identical fetch_log + seen.
    n is a quarter of the CPUs this process may run on (at least 1), so
    neither JVM oversubscribes the box by more than 4×."""
    n = max(1, len(os.sched_getaffinity(0)) // 4)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    run_cli(["--size", "tiny", "--rounds", "3", "--out", a, "--cores", str(n)])
    run_cli(["--size", "tiny", "--rounds", "3", "--out", b,
             "--cores", str(4 * n)])
    assert fetch_rows(a) == fetch_rows(b)
    assert seen_rows(a) == seen_rows(b)


@pytest.mark.slow
def test_resume_identical_to_uninterrupted(tiny_fixtures, tmp_path):
    """Crash after round 2 + resume == uninterrupted 3 rounds (E3),
    also when the resumed manifest names a stale frontier head cache,
    as an older store's may: no round reads it. ``--resume`` removes
    both it and a crashed round's unreferenced adds dir."""
    full, part = str(tmp_path / "full"), str(tmp_path / "part")
    run_cli(["--size", "tiny", "--rounds", "3", "--out", full, "--cores", "8"])
    run_cli(["--size", "tiny", "--rounds", "2", "--out", part, "--cores", "8"])
    # the stale head: the round-0 frontier, whose top rows rounds 1-2
    # already fetched, in the old head layout (frontier columns plus
    # crawl_delay_ms), marked as served by no round since its refill
    manifests = pathlib.Path(part, "manifests")
    base0 = json.loads((manifests / "manifest-000000.json").read_text())
    stale = pathlib.Path(part, "data", "frontier", "head-stale")
    stale.mkdir()
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT url, url_hash, host, host_bucket::INTEGER AS host_bucket,"
        " priority, discover_ts, depth, image_id, status, retry_count,"
        " 1000::BIGINT AS crawl_delay_ms FROM read_parquet("
        f"'{part}/data/{base0['frontier']['base']}/**/*.parquet',"
        f" hive_partitioning=true)) TO '{stale}/part-0.parquet' (FORMAT parquet)"
    )
    con.close()
    m2_path = manifests / "manifest-000002.json"
    m2 = json.loads(m2_path.read_text())
    m2["frontier"]["head"] = {"path": "frontier/head-stale", "since_refill": 0}
    m2_path.write_text(json.dumps(m2))
    # a crashed round's leftover: a data dir no committed manifest names
    orphan = pathlib.Path(part, "data", "frontier", "adds-r9")
    orphan.mkdir()
    shutil.copy(next(stale.glob("*.parquet")), orphan / "part-0.parquet")
    run_cli(["--size", "tiny", "--rounds", "3", "--out", part, "--cores", "8",
             "--resume"])
    assert not orphan.exists()
    assert not stale.exists()
    assert fetch_rows(full) == fetch_rows(part)
    assert seen_rows(full) == seen_rows(part)


def test_mid_round_write_failure_then_retry_is_clean(spark, tiny_fixtures,
                                                     tmp_path):
    """An exception inside the round's overlap pool (a delta write
    failing while sibling writes are in flight) must not poison a retry
    of the same round: run_round's try/finally drains the pool before
    the error propagates (ADVICE r5), the crashed round stays invisible
    (no manifest), and re-running round r on the SAME engine yields
    byte-identical output to an engine that never failed."""
    from ccrawler_spark.scheduler.cli import make_engine

    seeds = spark.read.parquet(f"{tiny_fixtures}/seeds.parquet")

    clean_out = str(tmp_path / "clean")
    eng_a, store_a = make_engine(spark, str(tiny_fixtures), clean_out,
                                 size="tiny")
    eng_a.bootstrap(seeds)
    eng_a.run_round(1)
    eng_a.run_round(2)

    flaky_out = str(tmp_path / "flaky")
    eng_b, store_b = make_engine(spark, str(tiny_fixtures), flaky_out,
                                 size="tiny")
    eng_b.bootstrap(seeds)
    eng_b.run_round(1)

    orig = store_b.write_parquet

    def flaky_write(df, *parts, **kw):
        # the bloom delta is one of several write-phase pool jobs
        # submitted together — failing it leaves siblings in flight
        if parts and parts[0] == "bloom":
            raise RuntimeError("injected bloom-delta write failure")
        return orig(df, *parts, **kw)

    store_b.write_parquet = flaky_write
    with pytest.raises(RuntimeError, match="injected"):
        eng_b.run_round(2)
    store_b.write_parquet = orig

    # the failed round committed nothing: latest() still at round 1
    assert store_b.latest() == 1

    # retry the same round on the same engine — no orphaned write may
    # race it (deterministic paths + overwrite mode make it idempotent)
    eng_b.run_round(2)
    assert store_b.latest() == 2

    def rows(df):
        return [tuple(r) for r in df.orderBy(*df.columns).collect()]

    assert rows(store_b.read_fetch_log(2)) == rows(store_a.read_fetch_log(2))
    assert rows(store_b.read_frontier(2)) == rows(store_a.read_frontier(2))
    assert rows(store_b.read_seen(2)) == rows(store_a.read_seen(2))


@pytest.mark.slow
def test_spark_submit_pyfiles_deployment(tiny_fixtures, tmp_path):
    """north_rule deployment path: the package zipped as the single
    --py-files artifact, submitted with spark-submit from a cwd OUTSIDE
    the repo with PYTHONPATH scrubbed — imports (driver, executors, and
    the Python UDF workers) must resolve from the zip alone, and the
    run must produce the same per-round counts as the in-repo CLI."""
    import os
    import shutil
    import zipfile

    pkg = os.path.join(REPO, "ccrawler_spark")
    zpath = tmp_path / "ccrawler_spark.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".pyc") or "__pycache__" in root:
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    entry = tmp_path / "submit_job.py"
    shutil.copy(os.path.join(REPO, "scripts", "submit_job.py"), entry)

    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH",)}
    out = tmp_path / "store"
    p = subprocess.run(
        ["/opt/spark/bin/spark-submit", "--master", "local[4]",
         "--py-files", str(zpath), str(entry),
         "--size", "tiny", "--rounds", "2", "--cores", "4",
         "--fixture-dir", str(tiny_fixtures), "--out", str(out)],
        cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    import json as _json

    lines = [_json.loads(x) for x in p.stdout.splitlines()
             if x.startswith("{")]
    by_round = {x["round"]: x for x in lines if "round" in x}

    ref = tmp_path / "ref"
    run_cli(["--size", "tiny", "--rounds", "2",
             "--fixture-dir", str(tiny_fixtures), "--out", str(ref)])
    assert fetch_rows(str(out)) == fetch_rows(str(ref))
    assert seen_rows(str(out)) == seen_rows(str(ref))
    assert by_round[1]["fetched"] > 0
