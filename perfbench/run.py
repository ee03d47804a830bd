"""Benchmark of the ccrawler-spark crawl engine on ``local[nproc]``.

    python3 perfbench/run.py --workload crawl-growth --seed 1 \\
        --seconds 1 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout; workloads and metric units come from
its ``BENCHMARK.json``. The seed list is made from ``--seed``; the
fixture and its corpus layout are built by the first run and cached
under ``.bench_build/ccrawler/``. Neither is part of any figure.

A run repeats whole episodes — bootstrap, then the workload's timed
rounds on a fresh snapshot store — until at least ``--seconds`` of
timed rounds have run, then checks every episode's ``fetch_log`` and
seen set against the pure-Python oracle. Each timed round is one
operation: a round that raises is counted as failed, not fatal.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a
separate traced run that reports the per-layer metrics (``tracing.py``)
and writes the per-round job lists to ``.bench_build/ccrawler/trace/``.
``--smoke`` runs the tiny fixture with one injected round failure and
checks the failure accounting, the oracle check and the result line.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds
the run's box-health provenance and phase times.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "ccrawler"

# what each per-layer figure should move, and on which workload
LAYER_MOVES = {
    "engine.bootstrap_s": "setup_s on crawl-growth",
    "engine.jobs": "round_s_p50 on crawl-trickle",
    "engine.tasks": "round_s_p50 on crawl-trickle",
    "engine.idle_s": "round_s_p50 on crawl-trickle",
    "dequeue.wall_s": "round_s_p50 on crawl-growth",
    "dequeue.shuffle_mb": "round_s_p50 on crawl-growth",
    "fetch.wall_s": "urls_per_s on crawl-growth",
    "fetch.cpu_s": "urls_per_s on crawl-growth",
    "fetch.task_s": "urls_per_s on crawl-growth",
    "fetch.rows_read_per_url": "urls_per_s on crawl-growth",
    "seen.wall_s": "urls_per_s on crawl-growth",
    "seen.shuffle_mb": "urls_per_s on crawl-growth",
    "store.list_s": "round_s_p50 on crawl-trickle",
    "store.write_s": "round_s_p50 on crawl-trickle",
    "store.compact_s": "round_s_p50 on crawl-trickle",
    "store.commit_s": "round_s_p50 on crawl-trickle",
    "store.mb_per_url": "urls_per_s on crawl-growth",
    "store.files_per_round": "round_s_p50 on crawl-trickle",
    "codecs.decode_per_s": "urls_per_s on crawl-growth",
    "bloom.probe_keys_per_s": "seen.wall_s on crawl-growth",
    "bloom.fill": "seen.wall_s on crawl-growth",
    "bloom.fpr_est": "seen.wall_s on crawl-growth",
    # demoted from end-to-end: sampled from /proc, it repeats only
    # within about a factor of two (momentary worker and heap peaks)
    "peak_rss_mb": "setup_s and urls_per_s on both",
    "trace.urls_per_s": "nothing: traced urls_per_s, for tracing overhead",
    "trace.round_s_p50": "nothing: traced round_s_p50, for tracing overhead",
}
# a run starts no further episode it might not finish within this
RUN_LIMIT_S = 150
# driver JVM heap: build_session's default (16g) lets the heap grow to
# most of a 15 GB box before collecting; the workloads fit in 4g
DRIVER_MEM = "4g"


def parse_args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=workloads)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny fixture, injected failure, self-check")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required (or --smoke)")
    return args


def shutdown(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    import box

    started = box.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — the kill below still runs
            pass
        if proc.poll() is None:
            proc.kill()
            proc.wait(timeout=30)
    box.wait_gone(started)


def store_files(store) -> dict[str, int]:
    """Path → size of every file in a snapshot store."""
    root = pathlib.Path(store.root)
    return {str(p): p.stat().st_size for p in root.rglob("*") if p.is_file()}


def main(argv=None) -> int:
    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "ccrawler_spark").is_dir() or not spec_path.is_file():
        print(f"perfbench: {ROOT} holds no ccrawler_spark package or no"
              " BENCHMARK.json", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    args = parse_args(argv, [w["name"] for w in spec["workloads"]])
    name = "smoke" if args.smoke else args.workload
    traced = bool(args.trace) and not args.smoke
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if traced else "end_to_end"]}

    work = BUILD / "runs" / str(os.getpid())
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["CCRAWLER_FIXTURE_DIR"] = str(BUILD / "fixtures")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import box
    import tracing

    event_dir = hook_out = None
    if traced:
        event_dir, hook_out = work / "events", work / "hook"
        event_dir.mkdir()
        hook_out.mkdir()
        os.environ["CCRAWLER_BENCH_HOOK_OUT"] = str(hook_out)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(tracing.HOOK_DIR), str(ROOT)]
            + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
               if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = tracing.submit_args(event_dir)

    health = box.Health()
    rss = box.RssSampler()  # sampled in traced runs only
    try:
        if traced:
            with rss:
                out = run(args, name, traced, work, hook_out, event_dir, rss)
        else:
            out = run(args, name, traced, work, hook_out, event_dir, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = {
        "correct": out["correct"], "attempted": max(1, out["attempted"]),
        "failed": out["failed"],
        "metrics": {k: {"value": float(out["values"].get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps({"provenance": health.report(),
                      "phases_s": out["phases_s"]}))
    print(json.dumps(res))
    return smoke_check(res, out) if args.smoke else 0


def run(args, name, traced, work, hook_out, event_dir, rss) -> dict:
    import tracing
    import workloads
    from ccrawler_spark.fixtures import gen
    from ccrawler_spark.io.snapshot import SnapshotStore
    from ccrawler_spark.scheduler.cli import build_session

    wl = workloads.WORKLOADS[name]
    # inputs: generated (the fixture cached) outside every figure
    t = time.time()
    fdir = str(gen.ensure_fixtures(wl.size))
    hosts, pages, urls = workloads.universe(wl.size)
    seeds = workloads.seed_urls(wl, args.seed, urls)
    seeds_path = work / "seeds.parquet"
    workloads.write_seeds(seeds_path, seeds)
    phases = {"inputs_s": time.time() - t}

    spans = tracing.Spans()
    if traced:
        spans.wrap_store(SnapshotStore)
    spark = build_session(len(os.sched_getaffinity(0)), driver_mem=DRIVER_MEM)
    phases["session_s"] = time.time() - T_PROCESS - phases["inputs_s"]
    episodes, attempted, failed, problems = [], 0, 0, []
    try:
        t = time.time()
        layout = str(gen.ensure_corpus_layout(spark, fdir))
        phases["layout_s"] = time.time() - t

        def on_round(stage, r, store, rd=None):
            if args.smoke and len(episodes) == 1 and r == wl.rounds:
                raise RuntimeError("smoke: injected round failure")
            if not traced:
                return
            if stage == "before":
                on_round.files = store_files(store)
                on_round.rows = tracing.read_hook_rows(hook_out)
            else:
                new = {p: s for p, s in store_files(store).items()
                       if p not in on_round.files}
                rd["store_files"] = len(new)
                rd["store_bytes"] = sum(new.values())
                rd["rows_read"] = (tracing.read_hook_rows(hook_out)
                                   - on_round.rows)

        t = time.time()
        timed = 0.0
        while True:
            t_ep = time.time()
            try:
                ep = workloads.run_episode(
                    spark, wl, fdir, layout, str(seeds_path),
                    str(work / f"store-{len(episodes)}"), on_round)
            except Exception:  # noqa: BLE001 — bootstrap failed: count it
                import traceback

                traceback.print_exc()
                attempted += 1
                failed += 1
                break
            episodes.append(ep)
            attempted += ep.attempted
            failed += ep.failed
            timed += sum(rd["t1"] - rd["t0"] for rd in ep.rounds)
            if args.smoke and len(episodes) < 2:
                continue
            if (ep.failed or timed >= args.seconds
                    or time.time() - T_PROCESS + time.time() - t_ep
                    > RUN_LIMIT_S):
                break
        phases["episodes_s"] = time.time() - t

        # correctness, outside the timed rounds
        t = time.time()
        expected = workloads.oracle(wl, seeds, hosts, pages)
        phases["oracle_s"] = time.time() - t
        t = time.time()
        for i, ep in enumerate(episodes):
            if not ep.failed:
                problems += [f"episode {i}: {p}" for p in
                             workloads.check(ep.store, expected, wl.rounds)]
        phases["check_s"] = time.time() - t
        fill = None
        if traced and episodes and not episodes[-1].failed:
            import kernels

            fill = kernels.bloom_fill(episodes[-1].store, wl.rounds)
    finally:
        t = time.time()
        shutdown(spark)
        phases["shutdown_s"] = time.time() - t
    for p in problems:
        print(f"perfbench: INCORRECT {p}", file=sys.stderr)

    rounds = [rd for ep in episodes for rd in ep.rounds]
    for i, ep in enumerate(episodes):
        for rd in ep.rounds:
            print(f"perfbench: {name} seed={args.seed} episode {i} round"
                  f" {rd['r']}: fetched={rd['fetched']}"
                  f" enqueued={rd['enqueued']} wall={rd['t1'] - rd['t0']:.3f}s")
    values = {}
    if rounds:
        walls = [rd["t1"] - rd["t0"] for rd in rounds]
        b0, b1 = episodes[0].bootstrap
        values = {
            "urls_per_s": sum(rd["fetched"] for rd in rounds) / sum(walls),
            "round_s_p50": statistics.median(walls),
            # a cold start, as a user sees it: later episodes bootstrap
            # on a warm JVM
            "setup_s": phases["session_s"] + b1 - b0,
        }
        for k, v in values.items():
            print(f"perfbench: {name} seed={args.seed} {k}={v:.4f}")
    if traced and rounds:
        values = trace_metrics(wl, name, args.seed, episodes, rounds, spans,
                               event_dir, urls, fill, values, rss.peak_mb)
    return {
        "correct": failed == 0 and not problems and bool(rounds),
        "attempted": attempted, "failed": failed, "values": values,
        "episodes": len(episodes), "problems": problems,
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
    }


def trace_metrics(wl, name, seed, episodes, rounds, spans, event_dir, urls,
                  fill, e2e, peak_rss_mb) -> dict:
    import kernels
    import tracing

    jobs = tracing.read_event_log(event_dir)
    values, per_round = tracing.layer_metrics(jobs, spans, rounds)
    values["engine.bootstrap_s"] = statistics.median(
        ep.bootstrap[1] - ep.bootstrap[0] for ep in episodes)
    b0, b1 = episodes[0].bootstrap
    boot_jobs = [
        {"label": j["label"], "kind": j["kind"], "tasks": j["tasks"],
         "t0": round(j["t0"] - b0, 3), "wall_s": round(j["t1"] - j["t0"], 3)}
        for j in sorted(jobs.values(), key=lambda j: j["t0"])
        if b0 <= j["t0"] <= b1]
    values["codecs.decode_per_s"] = kernels.decode_per_s(urls[::37])
    values["bloom.probe_keys_per_s"] = kernels.bloom_probe_keys_per_s(
        wl.conf.bloom_segment_bits, wl.conf.bloom_num_hashes)
    if fill is not None:
        values["bloom.fill"] = fill
        values["bloom.fpr_est"] = fill ** wl.conf.bloom_num_hashes
    values["peak_rss_mb"] = peak_rss_mb
    values["trace.urls_per_s"] = e2e["urls_per_s"]
    values["trace.round_s_p50"] = e2e["round_s_p50"]

    print(f"perfbench: per-layer figures, {name} seed={seed}"
          f" (per-round means over {len(rounds)} timed rounds)")
    for k, moves in LAYER_MOVES.items():
        print(f"  {k:<26} {values.get(k, 0.0):>16.6g}  should move {moves}")
    last = per_round[-1]
    print(f"perfbench: jobs of traced round {rounds[-1]['r']}"
          f" ({len(last)} jobs: kind, tasks, wall s, label)")
    for j in last:
        print(f"  {j['kind']:<8} {j['tasks']:>5} {j['wall_s']:>7.3f}"
              f"  {j['label'][:100]}")
    out = BUILD / "trace" / f"{name}-seed{seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({
        "workload": name, "seed": seed, "metrics": values, "rounds": rounds,
        "jobs_per_round": per_round, "bootstrap_jobs": boot_jobs,
    }, indent=1))
    return values


def smoke_check(res: dict, out: dict) -> int:
    """The smoke run's expectations: the first episode matches the
    oracle, the second one's injected failure is counted, and the
    result line carries every end-to-end metric."""
    want = {
        "attempted": res["attempted"] == 4,
        "failed": res["failed"] == 1 and not res["correct"],
        "oracle": not out["problems"] and out["episodes"] == 2,
        "metrics": all(m["value"] > 0 for m in res["metrics"].values()),
    }
    for k, ok in want.items():
        print(f"perfbench: smoke {k}: {'ok' if ok else 'FAIL'}",
              file=sys.stderr)
    return 0 if all(want.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
