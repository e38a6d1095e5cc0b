"""ODF ledger input reading (reference operators A1–A5).

The reference reads each input as one multi-file Parquet table with
schema inferred from footers (``src/engine.rs:231-248``), filters it to
the closed offset interval (``src/engine.rs:256-262``), synthesizes a
correctly-typed empty table when an input has no new data
(``src/engine.rs:213-221``, ``:263-265``), and registers the result as a
view under the input's ``query_alias`` (``src/engine.rs:267-271``).

Spark-first notes:

- :func:`read_parquet` gives Spark the schema up front. Without one,
  ``spark.read.parquet(*paths)`` runs a job just to read one footer,
  which on a small request takes about as long as the write. The helper
  reads that same footer on the driver and looks Spark's own answer for
  it up in a process-wide cache, so a request runs one job: its write.
  Multi-file reads, partition parallelism and row-group pruning are
  unchanged. :func:`read_ledger_schema` gives a whole ledger directory
  its schema the same way, for the streaming folds that must pin one.
- Schema evolution, a TODO in the reference (``src/engine.rs:235``),
  is the session's ``spark.sql.parquet.mergeSchema``: with it set,
  :func:`read_parquet` reads the union of all footers.
- The offset filter is an ordinary Catalyst predicate → pushed to the
  Parquet scan; with ledger files written in offset order, row-group
  min/max statistics prune whole files/row groups, which is exactly the
  incremental-read behavior the reference gets — but parallel, which
  matters when one "increment" is terabytes.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kamu_engine_datafusion_spark.plans.types import (
    InvalidQueryError,
    OffsetInterval,
    TransformRequestInput,
)

#: Footer schemas :func:`read_parquet` keeps; the least recently used
#: entry goes first.
SCHEMA_CACHE_MAX = 256

#: Session confs Spark's Parquet → Catalyst schema conversion reads.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
)

#: The footer key Spark writes its own schema under; when present,
#: Spark reads the schema from it instead of converting the Parquet one.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

#: Characters that make Hadoop expand a path as a glob.
_GLOB_CHARS = frozenset("{}[]*?\\")

_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _is_plain_file(path: str) -> bool:
    """A path Spark reads as exactly itself: an absolute path (a relative
    one resolves against the JVM's working directory) to a regular file,
    not a glob, not a hidden or summary file (``_metadata``) that
    listing treats apart."""
    return (
        os.path.isabs(path)
        and os.path.isfile(path)
        and not _GLOB_CHARS.intersection(path)
        and not os.path.basename(path).startswith(("_", "."))
    )


def read_parquet(spark: SparkSession, paths: list[str]) -> DataFrame:
    """A1: ``spark.read.parquet(*paths)`` with the schema given up
    front, so building the relation runs no Spark job.

    Reference: ``src/engine.rs:231-248`` (``ParquetReadOptions`` with no
    extension filter and no declared schema), which takes the first
    file's footer and leaves schema evolution as a TODO
    (``src/engine.rs:235``). A session with
    ``spark.sql.parquet.mergeSchema=true`` reads the union of all
    footers instead: a ledger whose later ticks added columns reads as
    the superset schema, early rows null-filled.

    Spark infers the schema of a multi-file read from one footer: the
    first leaf file by path string (``ParquetUtils.splitFiles``), paths
    normalized as Hadoop's ``Path`` does. This reads that footer with
    pyarrow on the driver and keys a process-wide cache on its physical
    schema text, the Spark schema stored in its key-value metadata, and
    the session confs that steer the conversion. A miss stores Spark's
    own ``read.parquet(file).schema``, so a hit returns what inference
    would have. Directories, globs, URIs, relative paths, hidden files,
    an unreadable footer and a session that merges schemas fall back to
    the plain read.
    """
    if (
        not paths
        or spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true"
        or not all(_is_plain_file(p) for p in paths)
    ):
        return spark.read.parquet(*paths)
    first = min(paths, key=os.path.normpath)
    try:
        with pq.ParquetFile(first) as f:
            physical = str(f.schema).split("\n", 1)[1]
            spark_schema = (f.metadata.metadata or {}).get(_SPARK_ROW_METADATA)
    except (OSError, pa.ArrowException):
        return spark.read.parquet(*paths)
    key = (physical, spark_schema, *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is None:
        schema = spark.read.parquet(first).schema
        with _schemas_lock:
            _schemas[key] = schema
            while len(_schemas) > SCHEMA_CACHE_MAX:
                _schemas.popitem(last=False)
    return spark.read.schema(schema).parquet(*paths)


def _listed_by_spark(name: str) -> bool:
    """Whether Spark's file index lists a directory entry: hidden
    (``_``/``.``) and in-flight copies are skipped, except partition
    directories (``_x=1``) and Parquet summary files."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(("_common_metadata", "_metadata"))


def read_ledger_schema(spark: SparkSession, ledger_dir: str) -> StructType:
    """A2: the schema ``spark.read.parquet(ledger_dir)`` infers, without
    the inference job.

    The reference reads the raw Parquet footer
    (``src/engine.rs:198-211``). Spark infers a directory's schema from
    its first listed leaf file by path, so :func:`read_parquet` over the
    directory's listed top-level ``*.parquet`` files reads that same
    footer on the driver. Anything Spark would list differently — a
    partition subdirectory, a summary file, a listed file of another
    kind — and a missing, relative, URI or glob directory get the plain
    read, which also raises, as ever, for a directory with nothing to
    infer from.
    """
    names = (
        os.listdir(ledger_dir)
        if os.path.isabs(ledger_dir)
        and os.path.isdir(ledger_dir)
        and not _GLOB_CHARS.intersection(ledger_dir)
        else []
    )
    files = [
        os.path.join(ledger_dir, n) for n in names if _listed_by_spark(n)
    ]
    if files and all(
        f.endswith(".parquet") and _is_plain_file(f) for f in files
    ):
        return read_parquet(spark, files).schema
    return spark.read.parquet(ledger_dir).schema


def empty_ledger(spark: SparkSession, schema_file: str) -> DataFrame:
    """A3: synthesize a correctly-typed zero-row table for an input that
    has no new data (``src/engine.rs:213-221``, ``:263-265``)."""
    return read_parquet(spark, [schema_file]).filter(F.lit(False))


def slice_offset_interval(
    df: DataFrame, offset_column: str, interval: OffsetInterval
) -> DataFrame:
    """A4: filter the ledger to the closed interval [start, end]
    (``src/engine.rs:256-262``). Catalyst pushes this to the Parquet scan
    (PushedFilters: GreaterThanOrEqual/LessThanOrEqual on offset)."""
    return df.filter(
        (F.col(offset_column) >= F.lit(interval.start))
        & (F.col(offset_column) <= F.lit(interval.end))
    )


def register_input(spark: SparkSession, inp: TransformRequestInput) -> DataFrame:
    """A1+A3+A4+A5: load one request input and register it as a temp view
    under its ``query_alias`` (``src/engine.rs:183-271``)."""
    if inp.data_paths:
        if inp.offset_interval is None:
            raise InvalidQueryError(
                f"input {inp.query_alias!r}: data_paths without an "
                "offset_interval"
            )
        df = read_parquet(spark, inp.data_paths)
        df = slice_offset_interval(df, inp.vocab.offset_column, inp.offset_interval)
    else:
        df = empty_ledger(spark, inp.schema_file)
    df.createOrReplaceTempView(inp.query_alias)
    return df
