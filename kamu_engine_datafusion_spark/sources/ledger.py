"""ODF ledger input reading (reference operators A1–A5).

The reference reads each input as one multi-file Parquet table with
schema inferred from footers (``src/engine.rs:231-248``), filters it to
the closed offset interval (``src/engine.rs:256-262``), synthesizes a
correctly-typed empty table when an input has no new data
(``src/engine.rs:213-221``, ``:263-265``), and registers the result as a
view under the input's ``query_alias`` (``src/engine.rs:267-271``).

Spark-first notes:

- ``spark.read.parquet(*paths)`` keeps schema inference, multi-file
  reads, partition parallelism, and Parquet row-group pruning.
- The offset filter is an ordinary Catalyst predicate → pushed to the
  Parquet scan; with ledger files written in offset order, row-group
  min/max statistics prune whole files/row groups, which is exactly the
  incremental-read behavior the reference gets — but parallel, which
  matters when one "increment" is terabytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.plans.types import (
    InvalidQueryError,
    OffsetInterval,
    TransformRequestInput,
)


def read_parquet_ledger(
    spark: SparkSession, paths: list[str], merge_schema: bool = False
) -> DataFrame:
    """A1: read N ledger part-files as one table, schema inferred.

    Reference: ``src/engine.rs:231-248`` (``ParquetReadOptions`` with no
    extension filter and no declared schema). The reference leaves
    schema evolution as an explicit TODO (``src/engine.rs:235``) and
    takes the first file's footer; beyond parity, ``merge_schema=True``
    unions the footers of ALL part files (a ledger whose later ticks
    added columns reads as the superset schema, early rows null-filled)
    — Spark's native parquet schema merging, one extra footer pass.
    """
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(*paths)
    return spark.read.parquet(*paths)


def read_ledger_schema(spark: SparkSession, schema_file: str):
    """A2: introspect the ledger schema from a schema file's footer.

    Reference reads the raw Parquet footer (``src/engine.rs:198-211``);
    a zero-row read gives Spark the same information.
    """
    return spark.read.parquet(schema_file).schema


def empty_ledger(spark: SparkSession, schema_file: str) -> DataFrame:
    """A3: synthesize a correctly-typed zero-row table for an input that
    has no new data (``src/engine.rs:213-221``, ``:263-265``)."""
    return spark.read.parquet(schema_file).filter(F.lit(False))


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
        df = read_parquet_ledger(spark, inp.data_paths)
        df = slice_offset_interval(df, inp.vocab.offset_column, inp.offset_interval)
    else:
        df = empty_ledger(spark, inp.schema_file)
    df.createOrReplaceTempView(inp.query_alias)
    return df
