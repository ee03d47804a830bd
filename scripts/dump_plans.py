"""Dump .explain("formatted") for every declared query to
plans/<tag>/<query>_<suffix>.txt (judge-checkable plan evidence,
spark_optimization_guide §7.2).

    python scripts/dump_plans.py r08 before [query ...]
"""

from __future__ import annotations

import os
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r08"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    import __spark_entry__ as entry
    from ccrawler_spark.scheduler.cli import build_session

    spark = build_session(CPUS)
    out_dir = pathlib.Path(__file__).resolve().parents[1] / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        if name == "crawl_round_log":
            continue  # runs the real engine; plan evidence lives in BENCH/
        try:
            plan = fn(spark, SF_DIR)._sc._jvm.PythonSQLUtils.explainString(
                fn(spark, SF_DIR)._jdf.queryExecution(), "formatted"
            )
        except Exception:
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, SF_DIR).explain("formatted")
            plan = buf.getvalue()
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(name, "->", out_dir / f"{name}_{suffix}.txt")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
