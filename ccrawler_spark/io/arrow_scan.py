"""The pruned corpus reader: a pyarrow scan behind ``mapInArrow`` that
reads only the corpus rows a round schedules from the fetch-path layout
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
value vector — with no expression recursion, so its cap,
``ARROW_PUSHDOWN_CAP`` (128k), is set only by the broadcast size of
the key sets (a few MB).

Execution shape (all distributed, nothing driver-side but the file
list, which ships as an Arrow table — a local scan, no Python stage):

- **partition pruning** — the scheduled hosts' bucket-prefixed keys
  name their ``host_bucket=`` directories directly (top 7 bits), so
  only those directories' files enter the scan;
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
  inside the same Python task. The engine's fetch path
  (scheduler/fetch.fetch_from_layout) decodes there, so the payload
  never returns to the JVM: the scan streams ``(url, caption, flags)``
  rows, not bytes. ``pruned_corpus_arrow`` emits the rows as read.

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

# the set-based pushdown bound: above this the broadcast key set stops
# being "schedule metadata" (128k ids ≈ 2 MB pickled) and the engine
# reads the layout pruned to the scheduled buckets only. Physical
# planning only — results identical either way.
ARROW_PUSHDOWN_CAP = 131072


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame of ``schema`` from an empty Arrow table: a local
    scan, where ``createDataFrame([], schema)`` runs a Python stage over
    empty partitions."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(schema).empty_table())


def pruned_corpus_arrow(
    spark: SparkSession,
    path: str,
    host_ids: dict,
    track: list | None = None,
) -> DataFrame:
    """The scheduled corpus rows as read (``scan_layout`` with no
    ``emit``): sound for the fetch join (pruning can only drop rows that
    cannot match any scheduled row), output schema identical to
    ``spark.read.parquet(path)`` (data columns + the ``host_bucket``
    partition column), one task per file up to ``defaultParallelism``."""
    return scan_layout(spark, path, host_ids,
                       spark.sparkContext.defaultParallelism, track=track)


def scan_layout(
    spark: SparkSession,
    path: str,
    host_ids: dict,
    tasks: int,
    emit: Callable[[pa.Table], Iterator[pa.RecordBatch]] | None = None,
    schema: StructType | None = None,
    track: list | None = None,
) -> DataFrame:
    """Layout scan of the scheduled rows (module docstring), in at most
    ``tasks`` tasks and never more than one per file.

    Each file's admitted, residual-filtered rows — the data columns plus
    ``host_bucket`` — go through ``emit(table)`` in the scan's Python
    task, and the batches it yields, of ``schema``, are the output.
    Without ``emit`` the rows themselves are the output, with the schema
    of ``spark.read.parquet(path)``.

    ``host_ids`` (dict host → iterable of its scheduled image_ids; a
    dict keyed by image_id iterates as its ids) drives HOST-SCOPED id
    admission: a row group is kept only if some scheduled host's key
    lands in its [min,max] AND one of *that host's* ids lands in its id
    range. A global AND (host-set ∧ id-set) would admit a group
    whenever ANY of the K scheduled ids falls in its id range — at K ≈
    10⁴⁺ nearly every range does, so skipping decays to host-only touch
    (measured r6: 556 vs 286 groups on the sparse bench schedule).
    Scoping the id test to the ≤ per_host_k ids of the group's own
    hosts keeps the admission probability flat as K grows. Sound
    because a scheduled corpus row (h, i) can only sit in a group whose
    host_key range covers key(h) — so testing i against groups admitted
    via key(h) covers every row the fetch join could match. The
    residual filter is global (host_key in the key set AND image_id in
    the id set), like the fetch join on image_id it feeds.

    ``track``: optional list the key-set broadcast is appended to, so
    the caller can ``unpersist()`` it once the round's actions complete
    (ADVICE r6: at the 128k cap each round otherwise strands ~2 MB of
    broadcast blocks until GC + ContextCleaner get to the closure).
    ``unpersist`` (not ``destroy``) keeps the plan re-evaluable —
    Spark re-ships from the driver if a late branch re-executes.

    Scope note (ADVICE r6): the file list comes from a driver-side
    ``pathlib`` glob, so the layout root must be on a locally-mounted
    filesystem (local disks and NFS/FUSE-mounted stores); there is no
    fallback reader for an object store. A pyarrow.dataset/fsspec
    listing would lift the constraint without changing any semantics."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    meta = read_layout_meta(path)
    if meta is None:
        raise ValueError(
            f"corpus layout at {path} has no {META_FILE}: cannot compute "
            "host_key pushdown values without the bucket count it was "
            "written with"
        )
    b = int(meta["buckets"])
    ids_by_key: dict[int, list] = {}
    for h, v in host_ids.items():  # merge hash-colliding hosts
        ids_by_key.setdefault(host_key_py(h, b), []).extend(v)
    ids_by_key = {k: sorted(v) for k, v in ids_by_key.items()}
    keys = sorted(ids_by_key)
    ids_l = sorted({i for v in ids_by_key.values() for i in v})
    root = pathlib.Path(path)
    # bucket partition pruning, driver-side from the directory names —
    # the bucket IS the key's top 7 bits, so no separate bucket list
    sel = {k >> 57 for k in keys}
    paths, bks = [], []
    for bdir in sorted(root.glob("host_bucket=*")):
        bk = int(bdir.name.split("=", 1)[1])
        if bk not in sel:
            continue
        for pf in sorted(bdir.glob("*.parquet")):
            paths.append(str(pf))
            bks.append(bk)

    if schema is None:
        if meta.get("data_schema") is not None:
            # layout-static schema from the metadata sidecar: no
            # per-round driver-side footer read (VERDICT r6 #4)
            base = StructType.fromJson(meta["data_schema"])
        else:  # pre-r7 layout: fall back to one footer
            any_file = paths[0] if paths else next(
                iter(sorted(root.glob("host_bucket=*/*.parquet"))), None
            )
            if any_file is None:
                raise ValueError(
                    f"corpus layout at {path} has no parquet files"
                )
            base = from_arrow_schema(pq.read_schema(str(any_file)))
        schema = StructType(
            list(base.fields) + [StructField("host_bucket", IntegerType())]
        )
    if not paths:  # scheduled buckets have no files: statically empty
        return empty_frame(spark, schema)

    # ship the key sets once per executor (torrent broadcast), not once
    # per task closure — at the 128k cap they are ~2 MB pickled
    bc = spark.sparkContext.broadcast((keys, ids_l, ids_by_key))
    if track is not None:
        track.append(bc)

    def scan(batches):
        import bisect

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        keys_l, idsv, by_key = bc.value
        key_arr = pa.array(keys_l, pa.int64())
        id_arr = pa.array(idsv, pa.string())

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

        for batch in batches:
            fps = batch.column("path").to_pylist()
            fbks = batch.column("bucket").to_pylist()
            for fp, bk in zip(fps, fbks):
                f = pq.ParquetFile(fp)
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
                yield from (t.to_batches() if emit is None else emit(t))

    files = spark.createDataFrame(pa.table({
        "path": pa.array(paths, pa.string()),
        "bucket": pa.array(bks, pa.int32()),
    }))
    return files.repartition(max(1, min(len(paths), tasks))).mapInArrow(
        scan, schema
    )
