"""Exact row counts from parquet file footers — O(files) metadata reads.

Lineage / manifest row accounting should cost metadata reads, not data
scans, and must be exact: accumulator-backed ``Observation`` metrics can
over-count under stage re-execution or speculative tasks, while the footers
of the files a commit actually kept are the ground truth (ADVICE r4 on
``GraphTable`` ``total_rows``).

Two paths:

- **local filesystem** (no scheme / ``file:``): ``os.walk`` + pyarrow footer
  reads — no per-file py4j round-trips, ~0.1 ms/file.
- **any other Hadoop-supported URI** (hdfs://, s3a://, ...): the Hadoop
  ``FileSystem`` API + parquet-mr ``ParquetFileReader`` through the
  driver's JVM (ADVICE r4 on ``StageCheckpointer``: the former ``os.listdir``
  implementation silently failed off the local filesystem).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Spark task output files: part-<task partition id>-<uuid>[-c<n>]....parquet.
# The partition id is the part number; one task may commit SEVERAL files
# (maxRecordsPerFile splits, dynamic-partition writes), all sharing it —
# callers aggregating "per partition" must sum per part number, not count
# one file per index (ADVICE r4: sorted file order diverges from partition
# ids exactly in that case).
_PART_RE = re.compile(r"part-(\d+)-")


def _is_local(path: str) -> bool:
    """True only when ``path`` is walkable with os.walk: scheme-less, or a
    file: URI with an EMPTY authority (``file:///p``, ``file:/p``).
    ``file://host/p`` names a remote authority — os.walk of the naive strip
    ('//host/p') would silently find nothing and record zero rows (review
    r5) — so it routes to the Hadoop FileSystem path like any other URI."""
    scheme = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", path)
    if scheme is None:
        return True
    if scheme.group(1) != "file":
        return False
    rest = path[len("file:"):]
    return not rest.startswith("//") or rest.startswith("///")


def _strip_scheme(path: str) -> str:
    if not path.startswith("file:"):
        return path
    rest = path[len("file:"):]
    return rest[2:] if rest.startswith("///") else rest


def parquet_file_rows(spark: SparkSession, directory: str) -> list[tuple[str, int]]:
    """``[(file path, row count)]`` for every data file under ``directory``
    (recursive), read from the parquet footers."""
    if _is_local(directory):
        import pyarrow.parquet as pq

        out = []
        for dirpath, _dirs, files in os.walk(_strip_scheme(directory)):
            for name in sorted(files):
                if not name.endswith(".parquet") or name.startswith(("_", ".")):
                    continue
                fpath = os.path.join(dirpath, name)
                out.append((fpath, pq.ParquetFile(fpath).metadata.num_rows))
        return out

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(directory)
    fs = root.getFileSystem(conf)
    out = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        status = it.next()
        p = status.getPath()
        name = p.getName()
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            out.append((p.toString(), int(reader.getRecordCount())))
        finally:
            reader.close()
    return out


def task_partition_id(file_path: str) -> int | None:
    """Spark task partition id parsed from the part-file name."""
    m = _PART_RE.search(os.path.basename(file_path))
    return int(m.group(1)) if m else None
