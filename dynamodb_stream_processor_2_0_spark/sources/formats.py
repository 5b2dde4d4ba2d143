"""Format-agnostic batch IO: one reader/writer surface over the file
formats the engine supports (parquet / json-lines / csv / orc).

Reference analog: the reference's only sources/sinks are service APIs
(DynamoDB stream in, SQS out — index.js:34-101, 570-611); a Spark
engine replaces them with storage formats. Parquet is the primary
(columnar, predicate pushdown, column pruning); JSON-lines is the
S3-envelope sink format (`to_json` bodies, one document per line);
CSV exists for interop ingest.

Scale notes: every reader takes an explicit schema — at 100 TB schema
inference is a full extra pass over the data (and for CSV/JSON is also
a correctness hazard). The writer partitions by columns so downstream
scans prune; `maxRecordsPerFile` bounds file sizes for object stores.

Scratch files: every staged copy of a source table (replay chunks, wire
renderings, format round-trips, bucketed tables) goes through
``staged``, which writes it once per process and key; every scratch
directory (staged copies, sink outputs, checkpoints) comes from
``staged_tmpdir`` and is deleted by one handler at interpreter exit.
No other package module creates or deletes temp directories.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

READ_FORMATS = ("parquet", "json", "csv", "orc")


def read_batch(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Read a batch DataFrame from ``path``.

    Schema is required for json/csv (no inference pass at scale);
    parquet/orc carry their own. CSV defaults: header on, standard
    quoting."""
    if fmt not in READ_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {READ_FORMATS}")
    reader = spark.read.format(fmt)
    if fmt in ("json", "csv"):
        if schema is None:
            raise ValueError(f"{fmt} requires an explicit schema (no inference at scale)")
        reader = reader.schema(schema)
        if fmt == "csv":
            reader = reader.option("header", options.pop("header", "true"))
    elif schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_batch(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Write ``df`` to ``path``. ``partition_by`` produces the
    hive-style directory layout that downstream scans partition-prune
    on."""
    writer = df.write.format(fmt).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


# Every dir staged_tmpdir made, deleted by ONE exit handler: nothing is
# deleted before it runs, so a Spark read of a memoized path never races
# a deletion, and long-lived drivers do not grow their atexit list.
# _STAGED maps (prefix, *key) to the copy ``staged`` wrote; the lock
# makes threads that build the same staging query wait for one write
# instead of racing two into one table name.
_STAGED_DIRS: list[str] = []
_STAGED: dict[tuple, str] = {}
_STAGED_LOCK = threading.RLock()


@atexit.register
def _cleanup_staged_dirs() -> None:
    for path in _STAGED_DIRS:
        shutil.rmtree(path, ignore_errors=True)
    _STAGED_DIRS.clear()
    _STAGED.clear()


def staged_tmpdir(prefix: str) -> str:
    """A fresh temp directory, deleted at interpreter exit.

    For per-call scratch (sink outputs, checkpoints) and as the home of
    every ``staged`` copy; the one exit handler deletes them all."""
    path = tempfile.mkdtemp(prefix=prefix)
    _STAGED_DIRS.append(path)
    return path


def staged(prefix: str, key: tuple, write: Callable[[str], object]) -> str:
    """Path of a staged copy, written once per process and key.

    The first call for ``(prefix, *key)`` makes a ``staged_tmpdir``
    and calls ``write(path)`` to fill it; later calls return that path.
    ``prefix`` names the staging kind and ``key`` must hold every
    argument that shapes the files (source dir, chunk or shard count).
    The source is keyed by path, so tables rewritten in place keep their
    old copy until exit. A failed ``write`` memoizes nothing; its
    directory is still deleted at exit."""
    k = (prefix, *key)
    with _STAGED_LOCK:
        if k not in _STAGED:
            path = staged_tmpdir(prefix)
            write(path)
            _STAGED[k] = path
        return _STAGED[k]
