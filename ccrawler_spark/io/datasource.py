"""DataSourceV2-style Python data source for the snapshot frontier
(SURVEY.md §4.1, previously the one optional-open row).

``snapshot_frontier`` exposes a committed frontier snapshot as a Spark
table with the Iceberg-v2 merge-on-read applied AT THE READER, the way
a real Iceberg/DSv2 scan does it:

- **manifest-level file planning**: the scan reads the snapshot's
  manifest JSON and plans exactly the data files it references — no
  recursive directory discovery, no files from uncommitted rounds;
- **partition pruning via filter pushdown**: ``host_bucket`` equality /
  IN filters prune whole partitions driver-side (`pushFilters`), so a
  single-bucket query opens only that bucket's files;
- **task-local equality deletes**: each task reads one data file and
  applies the snapshot's (small-by-design) remove set locally with the
  same sequence rule as ``SnapshotStore.read_frontier_from`` — an
  equality-delete from round n hides a key only in data files written
  in rounds < n — so the add→remove→re-add recrawl lifecycle resolves
  identically, without any join or shuffle.

This is a compatibility/inspection surface (ad-hoc SQL over a crawl
store, external tools): the data path crosses Python (Arrow batches),
so the ENGINE keeps its native JVM composition (`read_frontier`); the
test pins both to byte-equality. The read path is fully vectorized
(pyarrow group_by/join/compute for the delete mask — no per-row
Python) and batches several files per input partition to amortize the
Python-worker round-trip; measured ~1.3× the native composition's wall
on the tiny 3-round store (was ~5× with one task per file). The same planning logic is what a JVM
DSv2/Iceberg implementation would run — manifest → file list → per-file
delete application — so the store layout is proven DSv2-ready.
"""

from __future__ import annotations

import functools
import json
import pathlib
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)
from pyspark.sql.types import IntegerType, StructField, StructType

MANIFEST_FMT = "manifest-{n:06d}.json"


@dataclass
class _FilePartition(InputPartition):
    # (file, host_bucket, ar) per data file; ar = data-file sequence
    # number (round it was written in). Several small files share one
    # input partition — a Python data source pays a worker round-trip
    # per partition, so one-task-per-file makes delta-chain stores
    # (many small files) dispatch-bound.
    files: tuple
    remove_specs: tuple  # ((dir_path, rr), ...) shared by all partitions


def _round_of(path: str) -> int:
    return int(str(path).rsplit("-r", 1)[1])


def _plan_files(root: str, n: int | None):
    """Manifest → (data files ⨯ bucket ⨯ sequence, remove specs)."""
    mdir = pathlib.Path(root) / "manifests"
    if n is None:
        ms = sorted(mdir.glob("manifest-*.json"))
        if not ms:
            raise ValueError(f"no committed snapshot under {root}")
        n = int(ms[-1].stem.split("-")[1])
    with open(mdir / MANIFEST_FMT.format(n=n)) as f:
        fr = json.load(f)["frontier"]
    files = []
    for dpath in [fr["base"], *fr["adds"]]:
        ar = _round_of(dpath)
        ddir = pathlib.Path(root) / "data" / dpath
        for bdir in sorted(ddir.glob("host_bucket=*")):
            bucket = int(bdir.name.split("=")[1])
            for pf in sorted(bdir.glob("*.parquet")):
                files.append((str(pf), bucket, ar))
    removes = tuple(
        (str(pathlib.Path(root) / "data" / p), _round_of(p))
        for p in fr["removes"]
    )
    return files, removes


@functools.lru_cache(maxsize=4)
def _load_removes(specs: tuple):
    """Aggregated remove set as an Arrow table (url_hash, url, _max_rr) —
    built with vectorized pyarrow group_by, no per-row Python. The
    lru_cache bound matters: workers are long-lived and distinct specs
    accumulate across snapshots/stores (one per manifest version read),
    so an unbounded per-spec cache would leak one materialized remove
    set per snapshot ever scanned. The remove chain itself is small by
    design (bounded by compact_threshold rounds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = []
    for dpath, rr in specs:
        for pf in sorted(pathlib.Path(dpath).glob("*.parquet")):
            t = pq.read_table(pf, columns=["url_hash", "url"])
            parts.append(
                t.append_column("_rr", pa.array([rr] * t.num_rows, pa.int64()))
            )
    if not parts:
        return pa.table({
            "url_hash": pa.array([], pa.int64()),
            "url": pa.array([], pa.string()),
            "_max_rr": pa.array([], pa.int64()),
        })
    allr = pa.concat_tables(parts)
    agg = allr.group_by(["url_hash", "url"]).aggregate([("_rr", "max")])
    return agg.rename_columns(["url_hash", "url", "_max_rr"])


class SnapshotFrontierReader(DataSourceReader):
    def __init__(self, root: str, snapshot: int | None):
        self.files, self.removes = _plan_files(root, snapshot)
        self.buckets: set[int] | None = None

    def pushFilters(self, filters: list[Filter]):
        """Handle host_bucket = v / IN (...) exactly (files are
        partitioned by bucket, so pruning is precise); everything else
        is returned for Spark to evaluate."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("host_bucket",):
                sel = {int(f.value)}
            elif isinstance(f, In) and f.attribute == ("host_bucket",):
                sel = {int(v) for v in f.value}
            else:
                yield f
                continue
            self.buckets = sel if self.buckets is None else (self.buckets & sel)

    # files per input partition: enough to amortize the per-partition
    # Python-worker round-trip, few enough to keep read parallelism for
    # medium stores (big stores have big files, so bytes dominate there)
    FILES_PER_PARTITION = 8

    def partitions(self):
        kept = [
            (f, b, ar)
            for (f, b, ar) in self.files
            if self.buckets is None or b in self.buckets
        ]
        step = self.FILES_PER_PARTITION
        return [
            _FilePartition(files=tuple(kept[i:i + step]),
                           remove_specs=self.removes)
            for i in range(0, len(kept), step)
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        removes = _load_removes(partition.remove_specs)
        for file, host_bucket, ar in partition.files:
            table = pq.read_table(file)
            # Spark's parquet writer defaults to INT96 timestamps, which
            # pyarrow surfaces as naive nanoseconds; Spark's Arrow ingest
            # only accepts microseconds. INT96 wall values are UTC
            # instants, so the naive→UTC cast is value-preserving.
            target = pa.schema([
                pa.field(f.name, pa.timestamp("us", tz="UTC"))
                if pa.types.is_timestamp(f.type) else f
                for f in table.schema
            ])
            table = table.cast(target)
            # sequence-aware equality delete, fully vectorized: a remove
            # from round rr hides the key only in files written before
            # rr. Left-join the (url_hash, url, _pos) keys against the
            # aggregated remove set, then drop positions whose latest
            # remove round exceeds this data file's sequence number.
            if removes.num_rows:
                n = table.num_rows
                keyed = pa.table({
                    "url_hash": table.column("url_hash"),
                    "url": table.column("url"),
                    "_pos": pa.array(np.arange(n), pa.int64()),
                })
                joined = keyed.join(
                    removes, keys=["url_hash", "url"], join_type="left outer"
                )
                bad = joined.filter(
                    pc.greater(pc.fill_null(joined["_max_rr"], -1), ar)
                )["_pos"]
                if len(bad):
                    mask = np.ones(n, dtype=bool)
                    mask[bad.to_numpy()] = False
                    table = table.filter(pa.array(mask))
            table = table.append_column(
                "host_bucket",
                pa.array(np.full(table.num_rows, host_bucket, dtype="int32")),
            )
            yield from table.to_batches()


class SnapshotFrontierDataSource(DataSource):
    """spark.read.format("snapshot_frontier")
            .option("path", <store root>)[.option("snapshot", n)].load()

    Requires ``spark.sql.python.filterPushdown.enabled=true`` (the
    reader implements ``pushFilters``; Spark refuses to run it with the
    pushdown machinery disabled)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_frontier"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("snapshot_frontier requires .option('path', root)")
        return root

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema
        import pyarrow.parquet as pq

        snap = self.options.get("snapshot")
        files, _ = _plan_files(self._root(), int(snap) if snap else None)
        if not files:
            raise ValueError("snapshot has no data files")
        base = from_arrow_schema(pq.read_schema(files[0][0]))
        return StructType(
            list(base.fields) + [StructField("host_bucket", IntegerType())]
        )

    def reader(self, schema: StructType) -> SnapshotFrontierReader:
        snap = self.options.get("snapshot")
        return SnapshotFrontierReader(
            self._root(), int(snap) if snap else None
        )
