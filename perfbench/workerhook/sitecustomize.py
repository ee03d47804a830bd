"""Loaded at start-up by the Python workers of a traced benchmark run,
whose PYTHONPATH starts with this directory: counts the rows that
``pyarrow`` row-group reads return, one line per read, in a file per
process under ``$CCRAWLER_BENCH_HOOK_OUT``. Untraced runs never put
this directory on any path."""

import os

_OUT = os.environ.get("CCRAWLER_BENCH_HOOK_OUT")

if _OUT:
    import pyarrow.parquet as _pq

    _read_row_groups = _pq.ParquetFile.read_row_groups

    def _counted(self, *args, **kwargs):
        table = _read_row_groups(self, *args, **kwargs)
        with open(os.path.join(_OUT, f"rows-{os.getpid()}"), "a") as f:
            f.write(f"{table.num_rows}\n")
        return table

    _pq.ParquetFile.read_row_groups = _counted
