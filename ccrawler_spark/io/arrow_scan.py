"""The corpus layout reader: a pyarrow scan behind ``mapInArrow`` that
reads only the corpus rows a schedule names from the fetch-path layout
(io/corpus_layout).

Why a set scan and not a pushed filter: Spark's parquet datasource
turns a pushed ``IN`` list that the session's parquet IN-filter
threshold lets through as exact values into a left-deep ``Or`` tree,
and the JVM overflows its stack evaluating it. Round 5 measured the
overflow at ~10k ids and capped the JVM reader at 4,096; a later probe
under the engine's own session overflowed from 1,500 ids up
(docs/SCALING.md, "One pruned corpus reader"), so the JVM reader was
removed. This reader tests set membership the obvious way — a sorted
list + bisect per row-group statistic, a hash-set ``is_in`` kernel per
value vector — with no expression recursion, and its sets are built in
the tasks, so no schedule size changes its plan.

Execution shape (all distributed; the driver plans the scan and lists,
collects and broadcasts nothing):

- **the schedule is the scan's input** — the schedule rows
  ``(host_bucket, host_key, image_id[, url])`` are range-partitioned
  on ``host_bucket``, so all rows of a bucket reach one task, and each
  task builds its key and id sets (and, for ``emit``, its image_id →
  urls map) from its own rows;
- **partition pruning** — each task lists the
  ``host_bucket=b/*.parquet`` files of its own buckets only, so an
  unscheduled bucket is never opened;
- **row-group skipping** — each task reads its files' FOOTERS and
  keeps a row group only if some scheduled host_key lands in its
  [min,max] and one of THAT host's scheduled image_ids lands in its id
  range (bisect over sorted lists, O(log n) per group);
- **exact residual filter** — admitted groups are read via
  ``read_row_groups`` and filtered with vectorized ``pc.is_in``
  (hash-set semijoin in Arrow C++), so the rows that reach the
  caller's ``emit`` are exactly the scheduled ones — at 100 TB the
  bytes moved track the schedule, not the touch fraction;
- **one crossing** — each file's filtered table goes through ``emit``
  inside the same Python task. The engine's fetch
  (scheduler/fetch.fetch_from_layout) decodes there, so the payload
  never returns to the JVM: the scan streams ``(url, caption, flags)``
  rows, not bytes. ``pruned_corpus_arrow`` emits the rows as read.

Scope note: the tasks list the layout with ``pathlib``, so the layout
root must be on a filesystem every executor mounts (local disks and
NFS/FUSE-mounted stores); there is no reader for an object store. A
pyarrow.dataset/fsspec listing would lift the constraint without
changing any semantics.

``pruned_corpus_arrow`` is identical to ``spark.read.parquet(layout)``
filtered to the scheduled (host, image_id) pairs — pinned by
tests/test_corpus_layout.py against the flat corpus and by the
``pruned_corpus_read`` gate query (DuckDB twin over the flat corpus).
"""

from __future__ import annotations

import pathlib
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

from ccrawler_spark.io.corpus_layout import (
    META_FILE, host_key_py, read_layout_meta,
)


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame of ``schema`` from an empty Arrow table: a local
    scan, where ``createDataFrame([], schema)`` runs a Python stage over
    empty partitions."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(schema).empty_table())


def _layout_meta(path: str) -> dict:
    meta = read_layout_meta(path)
    if meta is None:
        raise ValueError(
            f"corpus layout at {path} has no {META_FILE}: cannot compute "
            "host_key pushdown values without the bucket count it was "
            "written with"
        )
    if "data_schema" not in meta:
        raise ValueError(
            f"corpus layout at {path} has no data_schema in its "
            f"{META_FILE}: rewrite it with write_corpus_layout"
        )
    return meta


def pruned_corpus_arrow(
    spark: SparkSession, path: str, host_ids: dict,
) -> DataFrame:
    """The scheduled corpus rows as read (``scan_layout`` with no
    ``emit``) of ``host_ids`` (dict host → iterable of its scheduled
    image_ids): sound for the fetch join (pruning can only drop rows
    that cannot match any scheduled row), output schema identical to
    ``spark.read.parquet(path)`` (data columns + the ``host_bucket``
    partition column), in up to ``defaultParallelism`` tasks."""
    b = int(_layout_meta(path)["buckets"])
    keys, ids = [], []
    for h, v in host_ids.items():
        k = host_key_py(h, b)
        for i in v:
            keys.append(k)
            ids.append(i)
    sched = spark.createDataFrame(pa.table({
        # the bucket is the key's top 7 bits (corpus_layout.CLUSTER_KEYS)
        "host_bucket": pa.array([k >> 57 for k in keys], pa.int32()),
        "host_key": pa.array(keys, pa.int64()),
        "image_id": pa.array(ids, pa.string()),
    }))
    return scan_layout(sched, path, spark.sparkContext.defaultParallelism)


def scan_layout(
    sched: DataFrame,
    path: str,
    tasks: int,
    emit: Callable[[pa.Table, dict], Iterator[pa.RecordBatch]] | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Layout scan of the rows ``sched`` names (module docstring), in at
    most ``tasks`` tasks, every bucket's files in one task.

    ``sched`` holds ``(host_bucket, host_key, image_id)`` rows, plus
    ``url`` when there is an ``emit``. Each file's admitted,
    residual-filtered rows — the data columns plus ``host_bucket`` — go
    through ``emit(table, urls)`` in the scan's Python task, with
    ``urls`` the task's {image_id: [url, …]}, and the batches it
    yields, of ``schema``, are the output. Without ``emit`` the rows
    themselves are the output, with the schema of
    ``spark.read.parquet(path)``.

    Admission is HOST-SCOPED: a row group is kept only if some
    scheduled host's key lands in its [min,max] AND one of *that
    host's* ids lands in its id range. A global AND (host-set ∧ id-set)
    would admit a group whenever ANY of the K scheduled ids falls in
    its id range — at K ≈ 10⁴⁺ nearly every range does, so skipping
    decays to host-only touch (measured r6: 556 vs 286 groups on the
    sparse bench schedule). Scoping the id test to the ≤ per_host_k ids
    of the group's own hosts keeps the admission probability flat as K
    grows. Sound because a scheduled corpus row (h, i) can only sit in
    a group whose host_key range covers key(h), in a file of h's
    bucket, which the task holding h's rows lists. The residual filter
    is over the task's sets (host_key in its keys AND image_id in its
    ids)."""
    meta = _layout_meta(path)
    root = pathlib.Path(path)
    if schema is None:
        # layout-static schema from the metadata sidecar: no per-round
        # driver-side footer read (VERDICT r6 #4)
        base = StructType.fromJson(meta["data_schema"])
        schema = StructType(
            list(base.fields) + [StructField("host_bucket", IntegerType())]
        )

    def scan(batches):
        import bisect

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        rows = [b for b in batches if b.num_rows]
        if not rows:
            return
        s = pa.Table.from_batches(rows)
        ids = s.column("image_id").to_pylist()
        by_key: dict[int, list] = {}  # merges hash-colliding hosts
        for k, i in zip(s.column("host_key").to_pylist(), ids):
            by_key.setdefault(k, []).append(i)
        for v in by_key.values():
            v.sort()
        keys_l = sorted(by_key)
        key_arr = pa.array(keys_l, pa.int64())
        id_arr = pc.unique(s.column("image_id"))
        urls: dict[str, list[str]] = {}
        if emit is not None:
            for i, u in zip(ids, s.column("url").to_pylist()):
                urls.setdefault(i, []).append(u)

        def admits(srt, st):
            # absent stats cannot prove a skip — keep the group
            if st is None or st.min is None or st.max is None:
                return True
            lo = bisect.bisect_left(srt, st.min)
            return lo < len(srt) and srt[lo] <= st.max

        def admits_scoped(g):
            """host-scoped admission (docstring): some scheduled host
            key in the group's key range whose OWN ids intersect the
            group's id range."""
            st = g.column(cols["host_key"]).statistics
            sti = g.column(cols["image_id"]).statistics
            if st is None or st.min is None or st.max is None:
                return True  # can't scope without key stats
            lo = bisect.bisect_left(keys_l, st.min)
            hi = bisect.bisect_right(keys_l, st.max, lo)
            if lo == hi:
                return False  # no scheduled host in range
            if sti is None or sti.min is None or sti.max is None:
                return True
            return any(
                admits(by_key[k], sti) for k in keys_l[lo:hi]
            )

        for bk in sorted(set(s.column("host_bucket").to_pylist())):
            for fp in sorted((root / f"host_bucket={bk}").glob("*.parquet")):
                f = pq.ParquetFile(str(fp))
                md = f.metadata
                if md.num_row_groups == 0:
                    continue
                cols = {
                    md.row_group(0).column(i).path_in_schema: i
                    for i in range(md.row_group(0).num_columns)
                }
                groups = [
                    rg for rg in range(md.num_row_groups)
                    if admits_scoped(md.row_group(rg))
                ]
                if not groups:
                    continue
                t = f.read_row_groups(groups)
                t = t.filter(pc.and_(
                    pc.is_in(t.column("host_key"), value_set=key_arr),
                    pc.is_in(t.column("image_id"), value_set=id_arr),
                ))
                if t.num_rows == 0:
                    continue
                t = t.append_column(
                    "host_bucket",
                    pa.array(np.full(t.num_rows, bk, dtype=np.int32)),
                )
                yield from (t.to_batches() if emit is None
                            else emit(t, urls))

    return sched.repartitionByRange(max(1, tasks), "host_bucket").mapInArrow(
        scan, schema
    )
