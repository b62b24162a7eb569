"""Driver-side parquet I/O for the index's tables — no Spark job.

Spark pays a job for every ``spark.read.parquet`` schema inference and for
every small write. The index knows its own layout, so:

- :func:`read_df` opens a table directory with a schema *declared* from one
  file footer (plus the ``seg`` partition column of the per-segment tables),
  the schema Spark would infer, without the inference job;
- :func:`read_table` / :func:`write_table` read and write the small tables
  (``build_manifest``, ``field_stats``) on the driver with pyarrow;
- :func:`num_rows` sums row counts from footers, without reading data.

Files are resolved the way :class:`~lucene_spark.search.executor.
SegmentExecutor` resolves postings (``pyarrow.fs.FileSystem.from_uri``), and
a directory's data files are its ``*.parquet`` files below it, skipping the
``_``/``.``-prefixed names Spark writes beside them.
"""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

#: one row per segment: lineage + checkpoint/resume state
BUILD_MANIFEST_SCHEMA = pa.schema([
    ("segment", pa.int64()),
    ("fingerprint", pa.int64()),
    ("rows_in", pa.int64()),
    ("doc_offset", pa.int64()),
    ("terms", pa.int64()),
    ("blocks", pa.int64()),
    ("wall_ms", pa.int64()),
    ("status", pa.string()),
])

#: one row per field: the CollectionStatistics inputs
FIELD_STATS_SCHEMA = pa.schema([
    ("field", pa.string()),
    ("doc_count", pa.int64()),
    ("sum_ttf", pa.int64()),
    ("sum_df", pa.int64()),
])

#: the term dictionary (written by Spark; this is its schema)
TERM_STATS_SCHEMA = pa.schema([
    ("field", pa.string()),
    ("term", pa.string()),
    ("df", pa.int64()),
    ("ttf", pa.int64()),
    ("max_tf", pa.int32()),
])

_SEG_DIR = re.compile(r"/seg=(\d+)/")


def _resolve(path: str):
    from pyarrow import fs

    return fs.FileSystem.from_uri(
        path if "://" in path else os.path.abspath(path))


def parquet_files(path: str) -> list[str]:
    """Sorted data files under the directory ``path`` ([] when absent)."""
    from pyarrow import fs

    filesystem, root = _resolve(path)
    if filesystem.get_file_info(root).type != fs.FileType.Directory:
        return []
    out = []
    for info in filesystem.get_file_info(fs.FileSelector(root,
                                                         recursive=True)):
        rel = info.path[len(root):].strip("/").split("/")
        if (info.type == fs.FileType.File and info.path.endswith(".parquet")
                and not any(p.startswith(("_", ".")) for p in rel)):
            out.append(info.path)
    return sorted(out)


def _open(path: str):
    filesystem, p = _resolve(path)
    return pq.ParquetFile(p, filesystem=filesystem)


def segment_of(path: str) -> int | None:
    """The segment id of a file under a ``seg=N`` directory, else None."""
    m = _SEG_DIR.search(path)
    return int(m.group(1)) if m else None


def num_rows(files: list[str], stop_at: int | None = None) -> int:
    """Total rows in ``files`` from their footers; stops summing once the
    total reaches ``stop_at``."""
    total = 0
    for f in files:
        with _open(f) as pf:
            total += pf.metadata.num_rows
        if stop_at is not None and total >= stop_at:
            break
    return total


def read_df(spark, path: str, partition: str | None = None):
    """``spark.read.parquet(path)`` with the schema declared from the footer
    of its first file plus the int ``partition`` column — no inference job.
    A directory without files reads as Spark would."""
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import IntegerType, StructField

    files = parquet_files(path)
    if not files:
        return spark.read.parquet(path)
    with _open(files[0]) as pf:
        schema = from_arrow_schema(pf.schema_arrow)
    if partition:
        schema = schema.add(StructField(partition, IntegerType(), True))
    return spark.read.schema(schema).parquet(path)


def read_table(path: str, columns: list[str] | None = None) -> pa.Table:
    """A (small) table directory as one pyarrow Table, files in name order."""
    parts = []
    for f in parquet_files(path):
        with _open(f) as pf:
            parts.append(pf.read(columns=columns))
    if not parts:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pa.concat_tables(parts) if len(parts) > 1 else parts[0]


def write_table(rows: list[dict], schema: pa.Schema, path: str) -> None:
    """Replace the directory ``path`` with one file holding ``rows``.

    The compact form: no embedded Arrow schema and no column statistics
    (nothing prunes these tables; the defaults grow the index by ~0.3%)."""
    tbl = pa.Table.from_pylist(rows, schema=schema)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(tbl, f"{path}/part-0.parquet", store_schema=False,
                   write_statistics=False)
