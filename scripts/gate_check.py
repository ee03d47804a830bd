"""Local mirror of the driver's correctness gate: run every declared
query at the gate sf (default sf0.01) through Spark AND its DuckDB
oracle twin, compare row count, column names, and an order-insensitive
value hash. Exit 1 on any mismatch.

    python scripts/gate_check.py [query ...]
"""

from __future__ import annotations

import os
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

TABLES = [
    "orders", "customer", "nation", "events", "lineitem", "documents",
    "embeddings",
]


def _canon(v):
    # repr of a float is shortest-round-trip: equal repr ⇔ equal bits
    return repr(v)


def _hash_rows(cols, rows) -> tuple[int, str]:
    import hashlib

    lines = sorted(
        "|".join(_canon(v) for v in row) for row in rows
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(lines), h


def main() -> int:
    only = set(sys.argv[1:])

    import duckdb

    import __spark_entry__ as entry
    from ccrawler_spark.scheduler.cli import build_session

    spark = build_session(CPUS)
    qs = entry.queries()
    oracle = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracle:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
            rel = con.execute(oracle[name])
            ocols = [c.lower() for c in rel.description and
                     [d[0] for d in rel.description]]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            bad += 1
            continue
        sn, sh = _hash_rows(scols, srows)
        on, oh = _hash_rows(ocols, orows)
        ok = sn == on and sh == oh and scols == ocols
        status = "ok  " if ok else "FAIL"
        print(f"{status} {name}: spark {sn} rows, oracle {on} rows,"
              f" cols {'=' if scols == ocols else 'DIFF'},"
              f" hash {'=' if sh == oh else 'DIFF'}")
        if not ok:
            bad += 1
            if sh != oh and sn == on:
                ss = sorted("|".join(_canon(v) for v in r) for r in srows)
                oo = sorted("|".join(_canon(v) for v in r) for r in orows)
                diffs = [
                    (a, b) for a, b in zip(ss, oo) if a != b
                ][:3]
                for a, b in diffs:
                    print(f"    spark : {a}\n    oracle: {b}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
