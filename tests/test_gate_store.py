"""The crawl-round gate query keeps one engine store per process under
the fixture root; each run sweeps the stores of processes that have
exited and leaves live ones alone."""

import os
import subprocess
import sys

import __spark_entry__ as entry


def test_sweep_removes_only_dead_pid_stores(tmp_path):
    exited = subprocess.Popen([sys.executable, "-c", "pass"])
    exited.wait()
    dead = tmp_path / f"gate-crawl-store-{exited.pid}"
    live = tmp_path / f"gate-crawl-store-{os.getpid()}"
    for d in (dead, live):
        (d / "data").mkdir(parents=True)
    entry._sweep_dead_gate_stores(tmp_path)
    assert not dead.exists()
    assert live.exists()
