"""Per-layer figures for a traced run, measured from outside the engine.

Three sources, none of which changes engine code:

- Spark's event log, enabled through ``PYSPARK_SUBMIT_ARGS`` before the
  JVM starts. Each job is attributed by its description (``store
  write: <table>/<part>``, set by ``SnapshotStore.write_parquet``) or
  its Python call site; a job with neither (a broadcast or an adaptive
  stage) inherits the label of its root SQL execution.
- Spans the benchmark records around its ``CrawlEngine.bootstrap`` /
  ``run_round`` calls and around the public ``SnapshotStore`` writers,
  which it wraps for the traced run only.
- A ``sitecustomize`` module put first on the Python workers' path
  (``workerhook/``) that counts the rows ``pyarrow`` row-group reads
  return: the Arrow corpus scan reads the corpus there, where Spark's
  task metrics do not see it.
"""

from __future__ import annotations

import functools
import json
import pathlib
import re
import threading
import time

HOOK_DIR = pathlib.Path(__file__).resolve().parent / "workerhook"

STORE_METHODS = ("write_parquet", "compact_seen", "compact_bloom", "commit")


def submit_args(event_dir: pathlib.Path | None) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the benchmark's JVM: no console
    progress bar; with ``event_dir``, an uncompressed event log."""
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_dir is not None:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
        ]
    return " ".join(args + ["pyspark-shell"])


class Spans:
    """Thread-safe in-memory span list, read when the run ends."""

    def __init__(self):
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, detail: str, t0: float, t1: float):
        with self._lock:
            self.items.append({"name": name, "detail": detail,
                               "t0": t0, "t1": t1})

    def wrap_store(self, store_cls):
        """Record a span around each public SnapshotStore writer."""
        for meth in STORE_METHODS:
            orig = getattr(store_cls, meth)

            def wrapped(*a, _orig=orig, _name=meth, **k):
                t0 = time.time()
                try:
                    return _orig(*a, **k)
                finally:
                    self.add(_name, _detail(_name, a), t0, time.time())

            setattr(store_cls, meth, functools.wraps(orig)(wrapped))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.items if s["name"] == name]


def _detail(name: str, args) -> str:
    """The table/part a write names, or the round of a compaction or
    commit."""
    if name == "write_parquet":
        return "/".join(str(p) for p in args[2:])
    return str(args[1] if name == "commit" else args[2])


_COMPACT_PART = re.compile(r"^(frontier|seen|bloom)/base-r([1-9]\d*)$")


def job_kind(label: str) -> str:
    """Layer of a job, from its label."""
    if label.startswith("Listing leaf files"):
        return "list"  # parallel partition discovery of a store read
    if label.startswith("store write: fetch_log"):
        return "fetch"
    if label.startswith("store write: "):
        return ("compact" if _COMPACT_PART.match(label[len("store write: "):])
                else "write")
    if label.startswith("collect at ") and label.split(":")[0].endswith(
            "engine.py"):
        return "dequeue"  # the schedule-metadata collect (_sched_metadata)
    if label.startswith("collect at ") and "concurrent/futures" in label:
        return "seen"  # the fused denied/fresh counts collect
    return "other"


def read_event_log(event_dir: pathlib.Path) -> dict[int, dict]:
    """Job ID → {label, t0, t1 (s), tasks, cpu_s, task_s, shuffle_b}."""
    files = [p for p in event_dir.iterdir()
             if p.is_file() and not p.name.startswith(".")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    root_label: dict[str, str] = {}
    job_root: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    e = json.loads(line)
                    j = jobs.get(stage_job.get(e["Stage ID"], -1))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j["tasks"] += 1
                    j["cpu_s"] += m["Executor CPU Time"] / 1e9
                    j["task_s"] += m["Executor Run Time"] / 1e3
                    j["shuffle_b"] += m["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"]
                elif line.startswith('{"Event":"SparkListenerJobStart"'):
                    e = json.loads(line)
                    p = e.get("Properties") or {}
                    label = (p.get("spark.job.description")
                             or p.get("callSite.short") or "")
                    root = p.get("spark.sql.execution.root.id")
                    jid = e["Job ID"]
                    jobs[jid] = {"label": label,
                                 "t0": e["Submission Time"] / 1e3,
                                 "t1": e["Submission Time"] / 1e3,
                                 "tasks": 0, "cpu_s": 0.0, "task_s": 0.0,
                                 "shuffle_b": 0}
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                    if root is not None:
                        job_root[jid] = root
                        if label:
                            root_label.setdefault(root, label)
                elif line.startswith('{"Event":"SparkListenerJobEnd"'):
                    e = json.loads(line)
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1e3
    for jid, j in jobs.items():
        if not j["label"]:
            j["label"] = root_label.get(job_root.get(jid), "")
        j["kind"] = job_kind(j["label"])
    return jobs


def covered_s(intervals: list[tuple[float, float]], lo: float,
              hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def read_hook_rows(hook_out: pathlib.Path) -> int:
    """Rows returned so far by pyarrow row-group reads in the workers."""
    total = 0
    for p in hook_out.glob("rows-*"):
        try:
            total += sum(int(x) for x in p.read_text().split())
        except (OSError, ValueError):
            continue  # a worker is mid-append; the next read gets it
    return total


def layer_metrics(jobs: dict[int, dict], spans: Spans,
                  rounds: list[dict]) -> tuple[dict, list[dict]]:
    """Per-round means of the per-layer figures over the timed rounds
    (``rounds``: {t0, t1, fetched, rows_read, ...}) and the job list
    of each round."""
    n = len(rounds)
    acc = {k: 0.0 for k in (
        "engine.jobs", "engine.tasks", "engine.idle_s", "dequeue.wall_s",
        "dequeue.shuffle_mb", "store.list_s", "fetch.wall_s", "fetch.cpu_s", "fetch.task_s",
        "seen.wall_s", "seen.shuffle_mb", "store.write_s", "store.compact_s",
        "store.commit_s")}
    per_round_jobs = []
    for rd in rounds:
        lo, hi = rd["t0"], rd["t1"]
        mine = sorted((j for j in jobs.values() if lo <= j["t0"] <= hi),
                      key=lambda j: j["t0"])
        per_round_jobs.append([
            {"label": j["label"], "kind": j["kind"], "tasks": j["tasks"],
             "wall_s": round(j["t1"] - j["t0"], 3)} for j in mine])
        acc["engine.jobs"] += len(mine)
        acc["engine.tasks"] += sum(j["tasks"] for j in mine)
        acc["engine.idle_s"] += (hi - lo) - covered_s(
            [(j["t0"], j["t1"]) for j in mine], lo, hi)
        acc["store.list_s"] += covered_s(
            [(j["t0"], j["t1"]) for j in mine if j["kind"] == "list"], lo, hi)
        for kind in ("dequeue", "fetch", "seen"):
            of = [j for j in mine if j["kind"] == kind]
            acc[f"{kind}.wall_s"] += covered_s(
                [(j["t0"], j["t1"]) for j in of], lo, hi)
            if kind != "fetch":
                acc[f"{kind}.shuffle_mb"] += sum(
                    j["shuffle_b"] for j in of) / 1e6
            else:
                acc["fetch.cpu_s"] += sum(j["cpu_s"] for j in of)
                acc["fetch.task_s"] += sum(j["task_s"] for j in of)

        def span_union(names, pred=lambda s: True):
            return covered_s(
                [(s["t0"], s["t1"]) for nm in names for s in spans.named(nm)
                 if lo <= s["t0"] <= hi and pred(s)], lo, hi)

        acc["store.write_s"] += span_union(
            ["write_parquet"],
            lambda s: not s["detail"].startswith("fetch_log")
            and not _COMPACT_PART.match(s["detail"]))
        acc["store.compact_s"] += span_union(
            ["compact_seen", "compact_bloom", "write_parquet"],
            lambda s: s["name"] != "write_parquet"
            or bool(_COMPACT_PART.match(s["detail"])))
        acc["store.commit_s"] += span_union(["commit"])
    out = {k: v / n for k, v in acc.items()}
    fetched = sum(rd["fetched"] for rd in rounds)
    out["fetch.rows_read_per_url"] = (
        sum(rd["rows_read"] for rd in rounds) / max(1, fetched))
    out["store.mb_per_url"] = (
        sum(rd["store_bytes"] for rd in rounds) / 1e6 / max(1, fetched))
    out["store.files_per_round"] = sum(rd["store_files"] for rd in rounds) / n
    return out, per_round_jobs
