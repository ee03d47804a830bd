"""M5 crawl-engine bench: frontier dequeue + fetch-schedule throughput
with two-parallelism scaling evidence (BASELINE.md protocol).

The north-rule's "N and 4N executors, scaling efficiency ≥ 0.8" cannot
use a real cluster in this sandbox (driver instruction): the same job +
byte-identical input runs at local[8] and local[32]; efficiency =
(thr_32 / thr_8) / 4.

Protocol (BASELINE.md): bootstrap seeds the frontier with the FULL
10^6-URL universe (the design metric is throughput on a *seeded*
frontier, BASELINE.json:2), 1 warm-up round untimed, ≥3 timed rounds;
URLs/sec = fetched-and-committed per second of run_round wall.

    python bench/run_bench.py            # both levels + BENCH/BASELINE.md
    python bench/run_bench.py --worker --cores 8 --json /tmp/x.json
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import subprocess
import sys
import tempfile
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

def loadavg() -> list[float]:
    """1-/5-/15-min load, recorded into every sample so the artifact
    carries its own noise provenance (two rounds of committed BENCH
    numbers were dominated by ambient neighbor load — VERDICT r5)."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:  # pragma: no cover - non-Linux
        return []


def cpu_ticks() -> tuple[int, int, int]:
    """(total, steal, busy) jiffies from /proc/stat — see bench.py:
    the per-sample steal fraction is the hypervisor's contribution to
    a slow sample, busy fraction the sample's own footprint."""
    try:
        v = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return sum(v), v[7], v[0] + v[2]
    except (OSError, IndexError, ValueError):  # pragma: no cover
        return 0, 0, 0


def _spin(_=None) -> int:
    x = 0x9E3779B9
    for _i in range(1_000_000):
        x = (x * 0x2545F491 + 0x3C6EF372) & 0xFFFFFFFF
    return x


def _cpu_window(t0) -> dict:
    t1 = cpu_ticks()
    dt = max(1, t1[0] - t0[0])
    return {"steal_frac": round((t1[1] - t0[1]) / dt, 4),
            "busy_frac": round((t1[2] - t0[2]) / dt, 3)}


def cpu_probe_ms() -> dict:
    """{"single": ms, "multi8": ms} — effective-compute provenance
    (single-core spin + slowest of 8 concurrent process spins).
    Loadavg misses neighbor-container contention on this shared box,
    and a single-thread probe misses MULTI-core squatting (bench.py
    docstring has the measured case); recording both per sample lets
    the median pool be read with per-sample CPU context."""
    from concurrent.futures import ProcessPoolExecutor

    t0 = time.perf_counter()
    _spin()
    single = (time.perf_counter() - t0) * 1000
    with ProcessPoolExecutor(max_workers=8) as ex:
        t0 = time.perf_counter()
        list(ex.map(_spin, range(8)))
        multi = (time.perf_counter() - t0) * 1000
    return {"single": round(single, 1), "multi8": round(multi, 1)}


# 4 timed rounds, each ranking the full composed frontier; kept at 4
# so new samples compare with the committed BENCH/bench_local*.json.
# Warm-up is a corpus-touch + worker spawn, not a round.
TIMED_ROUNDS = 4


def universe_seeds(spark, fdir: str):
    """Full-universe seed URLs, balanced for generation (the two-level
    explode lives in fixtures.gen.universe_urls_df — see its docstring
    for the straggler rationale)."""
    from ccrawler_spark.fixtures.gen import universe_urls_df

    return universe_urls_df(spark, fdir).select("url")


def worker(cores: int, json_path: str, fixture_dir: str | None,
           store_dir: str = "/dev/shm") -> None:
    from pyspark.sql import functions as F

    from ccrawler_spark.conf import BENCH
    from ccrawler_spark.fixtures.gen import ensure_bench_fixtures
    from ccrawler_spark.scheduler.cli import build_session, make_engine

    spark = build_session(cores)
    fdir = fixture_dir or str(ensure_bench_fixtures(spark))
    # the design-scale engine runs over the bucket-partitioned /
    # host-clustered corpus layout (io/corpus_layout); the bench conf
    # is host-dense, so the scan keeps most row groups, but the
    # measured engine is the one a cluster would run. Built once by orchestrate()'s 48g pre-gen session
    # (the one-time payload shuffle needs the bigger heap) and cached.
    from ccrawler_spark.fixtures.gen import ensure_corpus_layout

    layout = str(ensure_corpus_layout(spark, fdir))
    # snapshot store on tmpfs, like spark.local.dir (cli.build_session):
    # local[N] shares ONE real disk across every worker process, and a
    # previous worker's multi-GB teardown writeback was intermittently
    # stealing 30+ s from a round's scans (observed only in orchestrated
    # back-to-back runs). Real clusters add local disks with every
    # executor; RAM (125 GB) easily holds the ~4 GB bench store.
    # ``store_dir`` overrides tmpfs for the disk-backed control sample
    # (VERDICT r6 #3: bound how much tmpfs flatters URLs/s).
    if store_dir:
        # mkdtemp requires an existing parent; the disk-control root
        # (e.g. /root/bench_store) may not survive between sessions
        pathlib.Path(store_dir).mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix=f"bench{cores}-",
                                     dir=store_dir) as out:
        engine, store = make_engine(spark, fdir, out, conf=BENCH,
                                    corpus_layout=layout)
        # seed the frontier with the full universe (design-scale shape:
        # frontier >> per-round fetches)
        seeds = universe_seeds(spark, fdir)
        t0 = time.time()
        st = engine.bootstrap(seeds)
        bootstrap_s = time.time() - t0
        frontier_rows = st.queued_after
        # warm-up WITHOUT consuming the big round-1 workload: touch the
        # whole corpus payload column (page cache) and spawn/import the
        # python workers once, untimed
        t0 = time.time()
        corpus = spark.read.parquet(layout)
        corpus.select(F.sum(F.length("bytes"))).collect()
        from ccrawler_spark.scheduler.fetch import fetch_and_decode

        sample = engine.store.read_frontier(0).limit(30_000)
        fetch_and_decode(sample, corpus, min(30_000, frontier_rows)).count()
        warmup_s = time.time() - t0
        rounds = []
        for r in range(1, TIMED_ROUNDS + 1):
            t0 = time.time()
            rs = engine.run_round(r)
            wall = time.time() - t0
            rounds.append({"round": r, "wall_s": round(wall, 3),
                           "fetched": rs.fetched, "enqueued": rs.enqueued,
                           "timed": True})
        timed = [x for x in rounds if x["timed"]]
        fetched = sum(x["fetched"] for x in timed)
        wall = sum(x["wall_s"] for x in timed)
        out_json = {
            "cores": cores,
            "frontier_rows": frontier_rows,
            "bootstrap_s": round(bootstrap_s, 2),
            "warmup_s": round(warmup_s, 2),
            "rounds": rounds,
            "timed_fetched": fetched,
            "timed_wall_s": round(wall, 3),
            "urls_per_sec": round(fetched / wall, 2),
            "frontier_rows_per_sec": round(frontier_rows * len(timed) / wall, 1),
        }
        with open(json_path, "w") as f:
            json.dump(out_json, f, indent=1)
        print(json.dumps(out_json))
    spark.stop()


TMPFS_TAG = "tmpfs:/dev/shm"
# Code-condition tag: bumped when a perf-relevant engine/session-config
# change lands. The pool medians must never mix samples produced under
# different code conditions — the r6 pool predates the cached-plan AQE
# knob (cli.build_session, BENCH/aqe_cached_plan_ab.json), which
# changes dispatch cost at every level. Samples without a "code" key
# are the pre-r7 pool; they stay in scaling_samples.json as disclosed
# history but leave the headline medians.
CODE_TAG = "r8-round-job-cuts"  # round 8: bloom-probe volume gate,
# small-budget fetch sequence, counts-sized adds shuffle (engine.py) —
# the per-round job count changed, so r7 samples must not mix in


def orchestrate(levels=(8, 32), store_dir: str = "/dev/shm") -> None:
    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    # pre-generate fixtures once (with a big session) so workers share them
    from ccrawler_spark.fixtures.gen import FIXTURE_ROOT, corpus_layout_current

    # the marker alone is not enough: a stale layout would otherwise
    # rebuild inside a worker's 16g session (the one-time payload
    # shuffle needs the 48g pre-gen session below)
    if not ((FIXTURE_ROOT / "bench" / "_DONE_FULL").exists()
            and corpus_layout_current(FIXTURE_ROOT / "bench")):
        from ccrawler_spark.scheduler.cli import build_session

        s = build_session(32, driver_mem="48g")
        from ccrawler_spark.fixtures.gen import (
            ensure_bench_fixtures, ensure_corpus_layout,
        )

        ensure_corpus_layout(s, ensure_bench_fixtures(s))
        s.stop()
    results = {}
    level_loads = {}
    load_start = loadavg()
    probe_start = cpu_probe_ms()
    ticks_start = cpu_ticks()
    suffix = "" if store_dir == "/dev/shm" else "_disk"
    for cores in levels:
        level_loads[str(cores)] = loadavg()
        jp = bench_dir / f"bench_local{cores}{suffix}.json"
        p = subprocess.run(
            [sys.executable, str(REPO / "bench" / "run_bench.py"),
             "--worker", "--cores", str(cores), "--json", str(jp),
             "--store-dir", store_dir],
            cwd=REPO, timeout=3600,
        )
        assert p.returncode == 0, f"worker local[{cores}] failed"
        results[cores] = json.load(open(jp))
    lv = sorted(levels)
    pairs = {
        f"{a}->{b}": round(
            (results[b]["urls_per_sec"] / results[a]["urls_per_sec"]) / (b / a), 3
        )
        for a, b in zip(lv, lv[1:])
    }
    min_max = (
        round(
            (results[lv[-1]]["urls_per_sec"] / results[lv[0]]["urls_per_sec"])
            / (lv[-1] / lv[0]), 3,
        )
        if len(lv) > 1 else None
    )
    # --- sample history: every orchestrator run appends ONE sample;
    # the committed claim (summary.json / BASELINE.md) is the per-level
    # MEDIAN across compatible samples, never the latest/best run.
    # Throughput on this shared box varies ~±8% run-to-run with ambient
    # load; a single sample produced two rounds of noise disputes
    # (VERDICT r5 "what's wrong" #1-2).
    sample = {
        "ts": time.time(),
        "loadavg": {"start": load_start, "per_level": level_loads,
                    "end": loadavg()},
        "cpu_probe_ms": {"start": probe_start, "end": cpu_probe_ms()},
        "cpu_window": _cpu_window(ticks_start),
        "levels": {
            str(c): {
                "urls_per_sec": results[c]["urls_per_sec"],
                "timed_wall_s": results[c]["timed_wall_s"],
                "timed_fetched": results[c]["timed_fetched"],
                "frontier_rows_per_sec": results[c]["frontier_rows_per_sec"],
            }
            for c in lv
        },
        "pair_efficiencies": pairs,
        "frontier_rows": results[lv[-1]]["frontier_rows"],
        "store": TMPFS_TAG if store_dir == "/dev/shm" else f"disk:{store_dir}",
        "code": CODE_TAG,
    }
    publish(bench_dir, results, lv, pairs, min_max, sample)


def publish(bench_dir, results, lv, pairs, min_max, sample):
    """Append this run's sample to scaling_samples.json, then write
    summary.json + BASELINE.md from the per-level medians across all
    compatible samples (see the policy comment in orchestrate)."""
    samples_path = bench_dir / "scaling_samples.json"
    samples = []
    if samples_path.exists():
        samples = json.load(open(samples_path))
    samples.append(sample)
    with open(samples_path, "w") as f:
        json.dump(samples, f, indent=1)
    # compatible = same level set + same frontier (code changes between
    # rounds keep these constant; a protocol change resets the pool).
    # The headline median pool is TMPFS-ONLY: disk-store control samples
    # (VERDICT r6 #3) are appended and disclosed but never mixed into
    # the medians — they measure a different thing (real persistence
    # cost) and would silently drag the claim.
    def _tag(s):
        return s.get("store", TMPFS_TAG)

    def _code(s):
        return s.get("code", "pre-r7")

    def _healthy(s):
        """Pre-registered health rule (VERDICT r7 #4), applied
        uniformly to every sample — favorable or not: a sample is
        excluded from the HEADLINE medians (it stays in the pool and
        the disclosure table) when its own provenance shows a degraded
        window — steal_frac > 0.02 over the run, or a single-core
        spin probe (start or end) above 125 ms (~105 ms is this box's
        clean value). Samples predating the provenance fields pass
        (nothing measurable to judge them by)."""
        if (s.get("cpu_window") or {}).get("steal_frac", 0) > 0.02:
            return False
        pr = s.get("cpu_probe_ms") or {}
        for side in ("start", "end"):
            single = (pr.get(side) or {}).get("single")
            if single is not None and single > 125:
                return False
        return True

    shape_all = [
        s for s in samples
        if sorted(int(k) for k in s["levels"]) == list(lv)
        and s["frontier_rows"] == sample["frontier_rows"]
    ]
    shape_ok = [s for s in shape_all if _code(s) == _code(sample)]
    compat = [s for s in shape_ok if _tag(s) == TMPFS_TAG]
    # the disk control is code-agnostic (it bounds the store cost, not
    # the plan) but discloses which code condition produced it
    disk = [s for s in shape_all if _tag(s).startswith("disk")]
    if not compat:  # disk-only pool: claim what exists, tagged below
        compat = shape_ok
    # health-gated headline pool (VERDICT r7 #4): medians over healthy
    # windows only; degraded samples stay disclosed. An all-degraded
    # pool falls back to the full pool (disclosed via n_excluded == 0
    # healthy) rather than publishing nothing.
    healthy = [s for s in compat if _healthy(s)]
    gated = healthy if healthy else compat

    def med(vals):
        vs = sorted(vals)
        n = len(vs)
        return vs[n // 2] if n % 2 else round((vs[n // 2 - 1] + vs[n // 2]) / 2, 3)

    med_results = {
        c: {
            "frontier_rows": sample["frontier_rows"],
            "timed_fetched": results[c]["timed_fetched"],
            "timed_wall_s": med([s["levels"][str(c)]["timed_wall_s"] for s in gated]),
            "urls_per_sec": med([s["levels"][str(c)]["urls_per_sec"] for s in gated]),
            "frontier_rows_per_sec": med(
                [s["levels"][str(c)]["frontier_rows_per_sec"] for s in gated]),
        }
        for c in lv
    }
    ungated_levels = {
        str(c): med([s["levels"][str(c)]["urls_per_sec"] for s in compat])
        for c in lv
    }
    med_pairs = {
        f"{a}->{b}": round(
            (med_results[b]["urls_per_sec"] / med_results[a]["urls_per_sec"])
            / (b / a), 3)
        for a, b in zip(lv, lv[1:])
    }
    med_min_max = (
        round(
            (med_results[lv[-1]]["urls_per_sec"] / med_results[lv[0]]["urls_per_sec"])
            / (lv[-1] / lv[0]), 3)
        if len(lv) > 1 else None
    )
    pool_tags = sorted({_tag(s) for s in gated})
    store_label = (
        "tmpfs:/dev/shm (excludes real-disk persistence cost)"
        if pool_tags == [TMPFS_TAG]
        else " + ".join(pool_tags)
        + " (DISK-backed pool: no tmpfs samples for this code tag)"
    )
    summary = {
        "metric": "frontier dequeue+fetch-schedule throughput",
        # per-level MEDIAN across n_samples compatible runs (see above)
        "levels": {str(c): med_results[c]["urls_per_sec"] for c in lv},
        # the contract's N→4N pair is the FIRST adjacent pair (2→8):
        # the top pair on this single-socket box is memory-bandwidth
        # bound (see BENCH/BASELINE.md / docs/SCALING.md). Both the
        # explicitly-named contract pair and the min→max value are
        # reported so round-over-round comparisons of either are
        # apples-to-apples (ADVICE r3).
        "scaling_efficiency": med_pairs[f"{lv[0]}->{lv[1]}"] if len(lv) > 1 else None,
        "contract_pair_efficiency": med_pairs[f"{lv[0]}->{lv[1]}"] if len(lv) > 1 else None,
        "min_to_max_efficiency": med_min_max,
        "pair_efficiencies": med_pairs,
        "n_samples": len(gated),
        "health_gate": {
            "rule": "exclude from headline medians: steal_frac > 0.02"
                    " or single-core probe > 125 ms (start or end);"
                    " pre-registered, applied uniformly",
            "n_pool": len(compat),
            "n_excluded": len(compat) - len(healthy),
            "all_degraded_fallback": not healthy,
            "ungated_levels": ungated_levels,
        },
        "latest_sample": {"levels": {str(c): results[c]["urls_per_sec"] for c in lv},
                          "pair_efficiencies": pairs,
                          "min_to_max_efficiency": min_max,
                          "loadavg": sample["loadavg"],
                          "store": _tag(sample)},
        "frontier_rows": results[lv[-1]]["frontier_rows"],
        "code": _code(sample),
        # derived from the pool actually used (ADVICE r7 medium: the
        # disk-only fallback used to publish disk medians labeled
        # tmpfs); normally "tmpfs:/dev/shm (excludes real-disk
        # persistence cost)"
        "store": store_label,
    }
    disk_note = None
    if disk:
        d = disk[-1]
        delta = {
            str(c): round(
                d["levels"][str(c)]["urls_per_sec"]
                / med_results[c]["urls_per_sec"] - 1, 3)
            for c in lv if str(c) in d["levels"]
        }
        summary["disk_control"] = {
            "store": _tag(d),
            "code": _code(d),
            "levels": {k: v["urls_per_sec"] for k, v in d["levels"].items()},
            "pair_efficiencies": d["pair_efficiencies"],
            "delta_vs_tmpfs_median": delta,
            "n_disk_samples": len(disk),
        }
        disk_note = (d, delta)
    with open(bench_dir / "summary.json", "w") as f:
        json.dump(summary, f, indent=1)
    write_baseline_md(med_results, med_pairs, lv, compat, bench_dir,
                      disk_note=disk_note, store_label=store_label,
                      n_gated=len(gated))
    print(json.dumps(summary))


def write_baseline_md(results, pairs, lv, samples=None, bench_dir=None,
                      disk_note=None, store_label=None, n_gated=None):
    bench_dir = pathlib.Path(bench_dir) if bench_dir else REPO / "BENCH"
    md = ["# BENCH/BASELINE.md — measured crawl-engine throughput\n",
          "Protocol: BASELINE.md (M5). Seeded frontier = full bench universe;",
          f"cache/worker warm-up excluded; {TIMED_ROUNDS} timed rounds",
          "(each ranks the full composed frontier);",
          "URLs/sec = fetched-and-committed per second of run_round wall.",
          f"Headline numbers are per-level MEDIANS over "
          f"{n_gated if n_gated is not None else (len(samples) if samples else 1)}"
          f" HEALTH-GATED run(s) out of a {len(samples) if samples else 1}-sample pool",
          "(pre-registered rule, applied uniformly incl. to favorable",
          "samples: a sample is excluded from the headline medians — it",
          "stays disclosed below — when its own provenance shows",
          "steal_frac > 0.02 or a single-core spin probe > 125 ms;",
          "summary.json health_gate has both gated and ungated medians;",
          "BENCH/scaling_samples.json has walls + /proc/loadavg",
          "provenance per sample).",
          ("" if store_label is None or store_label.startswith("tmpfs")
           else f"**Store: {store_label}** — NOT the tmpfs protocol.") + "\n",
          "| parallelism | frontier rows | timed fetches | timed wall (s) | URLs/sec | frontier rows/s |",
          "| --- | --- | --- | --- | --- | --- |"]
    for c in sorted(results):
        r = results[c]
        md.append(
            f"| local[{c}] | {r['frontier_rows']:,} | {r['timed_fetched']:,} "
            f"| {r['timed_wall_s']} | {r['urls_per_sec']} "
            f"| {r['frontier_rows_per_sec']:,} |"
        )
    md.append("")
    for (a, b) in zip(lv, lv[1:]):
        eff = pairs[f"{a}->{b}"]
        primary = (
            " — **primary N→4N contract pair (BASELINE.json:2, ≥ 0.8)**"
            if (a, b) == (lv[0], lv[1]) and len(lv) > 2 else ""
        )
        md.append(
            f"- local[{a}]→local[{b}]: efficiency (thr_{b}/thr_{a})/{b // a} = "
            f"**{eff:.3f}** ({'meets' if eff >= 0.8 else 'below'} 0.8){primary}"
        )
    if samples and len(samples) > 1:
        md += ["", "Individual samples (chronological; URLs/sec per level,",
               "then pair efficiencies, then per-sample box health:",
               "hypervisor steal fraction over the run window and the",
               "single-core spin probe in ms — ~105 ms is this box's clean",
               "baseline, higher means external CPU contention during the",
               "sample):", "",
               "| sample | " + " | ".join(f"local[{c}]" for c in lv)
               + " | " + " | ".join(f"{a}→{b}" for a, b in zip(lv, lv[1:]))
               + " | load at start | steal | 1-core probe ms |",
               "| --- | "
               + " | ".join("---" for _ in range(2 * len(lv) + 2)) + " |"]
        for i, s in enumerate(samples, 1):
            ld = (s.get("loadavg") or {}).get("start") or []
            cw = s.get("cpu_window") or {}
            pr = s.get("cpu_probe_ms") or {}
            probe = (
                f"{pr['start']['single']}→{pr['end']['single']}"
                if pr.get("start") and pr.get("end") else "n/a"
            )
            md.append(
                f"| {i} | "
                + " | ".join(str(s["levels"][str(c)]["urls_per_sec"]) for c in lv)
                + " | "
                + " | ".join(str(s["pair_efficiencies"][f"{a}->{b}"])
                             for a, b in zip(lv, lv[1:]))
                + " | " + (f"{ld[0]:.2f}" if ld else "n/a")
                + f" | {cw.get('steal_frac', 'n/a')} | {probe} |")
    if disk_note is not None:
        d, delta = disk_note
        md += [
            "",
            "## Disk-store control (real-filesystem persistence cost)",
            "",
            "Headline medians above run the snapshot store on tmpfs",
            "(/dev/shm) — a deliberate local-mode control, since local[N]",
            "shares ONE real disk across every simulated executor where a",
            "cluster adds disks with nodes. One full orchestrator pass with",
            f"the store on the real filesystem ({d.get('store', 'disk')})",
            "bounds what tmpfs excludes:",
            "",
            "| parallelism | disk URLs/sec | Δ vs tmpfs median |",
            "| --- | --- | --- |",
        ]
        for c in lv:
            if str(c) in d["levels"]:
                md.append(
                    f"| local[{c}] | {d['levels'][str(c)]['urls_per_sec']} "
                    f"| {delta[str(c)]:+.1%} |"
                )
        md.append("")
        md.append(
            "Pair efficiencies on disk: "
            + ", ".join(f"{k}: {v}" for k, v in
                        d["pair_efficiencies"].items())
            + "."
        )
    md += [
        "",
        "Two-parallelism protocol per driver instruction — no real cluster",
        "in sandbox. The top pair on this single-socket box is bounded by",
        "memory bandwidth, not plan structure (framework-free",
        "multiprocessing control over the same decode workload: 0.66 —",
        "docs/SCALING.md).",
    ]
    with open(bench_dir / "BASELINE.md", "w") as f:
        f.write("\n".join(md) + "\n")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--json", default="/tmp/bench.json")
    ap.add_argument("--fixture-dir", default=None)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--store-dir", default="/dev/shm",
                    help="snapshot store parent dir; point at a real-"
                         "disk path for the disk-backed control sample")
    args = ap.parse_args()
    if args.worker:
        worker(args.cores, args.json, args.fixture_dir, args.store_dir)
    else:
        orchestrate(tuple(int(x) for x in args.levels.split(",")),
                    store_dir=args.store_dir)
