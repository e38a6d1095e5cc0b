"""System-column injection (reference operators A13–A16).

Reference ``with_system_columns`` (``src/engine.rs:478-561``):

1. ``offset`` = ``row_number() OVER (PARTITION BY 1 ORDER BY NULL)``
   + (start_offset - 1), cast Int64 — deterministic there only because
   the whole engine runs single-partition (``target_partitions=1``).
2. ``op`` = literal ``Append(0)`` Int32 if the query didn't emit one.
3. ``system_time`` = constant ms-UTC literal from the request.
4. Final column order ``offset, op, system_time, event_time, <data…>``.

Spark-first design: the reference pays for deterministic offsets by
serializing the *entire* plan (``target_partitions=1``). Two offset
assigners:

- :func:`assign_offsets_serial` — parity mode: ``coalesce(1)``, then a
  zero-shuffle, zero-sort per-partition id. ``coalesce(1)`` is a
  NARROW dependency, so it does not stop at the query: Spark folds
  every operator back to the last exchange into the same single task.
  A query with no exchange (a filter/map) runs scan → project →
  offsets → write as ONE task; a query with an exchange (GROUP BY,
  shuffled join) computes the stages before its last exchange in
  parallel and only the final stage in one task. Right for ODF
  micro-batch outputs (the output must be a single file anyway, A17).
- :func:`assign_offsets_distributed` — scale mode: classic two-pass
  assignment (per-partition counts → driver-side cumulative bases →
  base + intra-partition index). No global sort, no single-partition
  bottleneck; offsets are dense, unique, and ledger-ordered by
  (partition, position). The registry's sampling and layer-A keys call
  it directly; the request path always writes one file, so it takes the
  serial assigner.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kamu_engine_datafusion_spark.operators.deferred import DeferredLedger
from kamu_engine_datafusion_spark.plans.types import OP_APPEND, DatasetVocabulary

#: monotonically_increasing_id packs the partition id in the upper 31
#: bits and a per-partition counter in the lower 33
#: (public Spark semantics of `monotonically_increasing_id`).
_MID_PARTITION_SHIFT = 33
_MID_INDEX_MASK = (1 << _MID_PARTITION_SHIFT) - 1

#: Above this many partitions the per-partition offset bases are carried
#: as a broadcast-joined table instead of a `create_map` literal, keeping
#: the plan size O(1) in partition count.
_BASE_MAP_LITERAL_MAX = 64

#: Unix epoch for exact integer millisecond arithmetic.
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

#: Persists of distributed offset/rank calls (this module and
#: ``sampling.grouped_rank``), released at the NEXT such call. The
#: returned DataFrames still read these blocks, so they are freed only
#: once the caller has moved on to the next pipeline — and by then each
#: block was fully materialized (memory+disk) by the builder's own eager
#: stats pass, so nothing recomputes. Releasing makes earlier results
#: single-use: see the HAZARD on :class:`DeferredLedger`.
OFFSET_LEDGER = DeferredLedger()


def assign_offsets_serial(
    df: DataFrame, offset_column: str, start_offset: int
) -> DataFrame:
    """A13 (parity mode): dense Int64 offsets ``start, start+1, …`` in
    result-row order on a single partition.

    ``coalesce(1)`` merges the upstream partitions in partition order
    without a shuffle — and, being narrow, pulls every operator back to
    the last exchange into the same single task.
    ``monotonically_increasing_id`` on one partition is exactly
    ``0..n-1`` in row order — equivalent to the reference's
    ``row_number() OVER (PARTITION BY 1 ORDER BY NULL)``
    (``src/engine.rs:495-518``) but with no window sort at all.
    """
    return df.coalesce(1).withColumn(
        offset_column,
        (F.monotonically_increasing_id() + F.lit(start_offset)).cast(T.LongType()),
    )


def assign_offsets_distributed(
    df: DataFrame,
    offset_column: str,
    start_offset: int,
    _release_prior: bool = True,
) -> DataFrame:
    """A13 (scale mode): dense Int64 offsets without a single-partition
    bottleneck.

    Two passes: (1) count rows per partition (a tiny job — one long per
    partition to the driver); (2) broadcast the cumulative base per
    partition and add the intra-partition index extracted from
    ``monotonically_increasing_id``. Cost: one extra pass over the
    (persisted) input, zero extra shuffles, zero sorts — survives a 100×
    scale-up where a global ``row_number`` would serialize terabytes
    through one task.

    The input is persisted (memory-and-disk) before the count pass:
    upstream stages like ``repartitionByRange`` re-sample boundaries on
    recompute, so the two passes MUST observe the same physical
    partitioning. The persist rides :data:`OFFSET_LEDGER` and is
    released at the NEXT distributed offset/rank call (or via
    ``OFFSET_LEDGER.release()``) — a long-lived engine stays flat
    instead of accumulating pinned blocks per call.
    ``_release_prior=False`` is for composite builders whose plan still
    references a prior call's persist (e.g. the distributed interleave:
    rank persist feeds the offset pass).

    Row order *within* a partition follows the persisted partition
    order. For a total order tied to data, ``repartitionByRange`` +
    ``sortWithinPartitions`` upstream first.
    """
    if _release_prior:
        OFFSET_LEDGER.release()
    mid = F.monotonically_increasing_id()
    with_mid = OFFSET_LEDGER.persist(df.withColumn("__odf_mid", mid))
    # Pass 1: per-partition counts (partition id lives in the mid's high bits,
    # so the count job and the final pass see identical partition ids even if
    # a recompute re-plans the scan).
    pid = F.shiftright(F.col("__odf_mid"), _MID_PARTITION_SHIFT).alias("__odf_pid")
    counts = (
        with_mid.select(pid)
        .groupBy("__odf_pid")
        .agg(F.count(F.lit(1)).alias("__odf_cnt"))
        .collect()
    )
    bases: dict[int, int] = {}
    acc = start_offset
    for row in sorted(counts, key=lambda r: r["__odf_pid"]):
        bases[row["__odf_pid"]] = acc
        acc += row["__odf_cnt"]
    if not bases:  # empty input: no partitions produced rows
        with_mid.unpersist()
        return df.withColumn(offset_column, F.lit(start_offset).cast(T.LongType()))
    # Pass 2: offset = base[pid] + index-within-partition. The per-partition
    # bases travel as DATA (a broadcast-joined two-column table), never as a
    # literal expression: a `create_map` literal is O(num_partitions) in the
    # *plan*, and at 100 TB / 128 MB splits (~800k partitions) a 1.6M-node
    # expression tree stalls Catalyst long before execution starts. A tiny
    # literal map is still cheapest for few partitions, so keep it below a
    # small threshold; above it, broadcast-join (zero shuffle on the fact
    # side, plan size O(1)).
    # The offset column must come out NOT NULL, like the serial path's, and
    # a partition without a base must fail rather than get a made-up one.
    idx = F.col("__odf_mid").bitwiseAND(F.lit(_MID_INDEX_MASK))
    if len(bases) <= _BASE_MAP_LITERAL_MAX:
        pid = F.shiftright(F.col("__odf_mid"), _MID_PARTITION_SHIFT)
        base_map = F.create_map(*[F.lit(x) for kv in bases.items() for x in kv])
        # A map lookup is nullable. raise_error fails the query on a
        # missing base; the literal after it is never reached and only
        # lets Spark type the coalesce NOT NULL.
        missing = F.raise_error(
            F.concat(F.lit("no offset base for partition "), pid.cast("string"))
        )
        base = F.coalesce(base_map[pid], missing, F.lit(0))
        return with_mid.withColumn(
            offset_column, (base + idx).cast(T.LongType())
        ).drop("__odf_mid")
    spark = with_mid.sparkSession
    # NOT NULL bases keep the inner join's offset non-null. The join
    # drops no row: the bases were counted from these same persisted rows.
    bases_df = spark.createDataFrame(
        [(int(p), int(b)) for p, b in bases.items()],
        "__odf_pid BIGINT NOT NULL, __odf_base BIGINT NOT NULL",
    )
    out_cols = [*df.columns, offset_column]
    return (
        with_mid.withColumn(
            "__odf_pid", F.shiftright(F.col("__odf_mid"), _MID_PARTITION_SHIFT)
        )
        .join(F.broadcast(bases_df), "__odf_pid")
        .withColumn(offset_column, (F.col("__odf_base") + idx).cast(T.LongType()))
        .select(*out_cols)
    )


def with_system_columns(
    df: DataFrame,
    vocab: DatasetVocabulary,
    system_time: datetime,
    start_offset: int,
) -> DataFrame:
    """A13–A16: append offset/op/system_time and normalize column order
    (``src/engine.rs:478-561``)."""
    # Data columns = everything except event_time and op, in original order
    # (offset/system_time cannot appear — validation rejected them).
    data_columns = [
        f.name
        for f in df.schema.fields
        if f.name not in (vocab.event_time_column, vocab.operation_type_column)
    ]

    # A13: offset
    df = assign_offsets_serial(df, vocab.offset_column, start_offset)

    # A14: default op = Append(0) Int32 (src/engine.rs:521-533)
    if vocab.operation_type_column not in [f.name for f in df.schema.fields]:
        df = df.withColumn(
            vocab.operation_type_column, F.lit(OP_APPEND).cast(T.IntegerType())
        )

    # A15: constant system_time, ms precision UTC (src/engine.rs:536-545).
    # Exact integer arithmetic — `int(ts.timestamp() * 1000)` goes through a
    # float and truncates ~0.5% of ms-precision timestamps 1ms low, which
    # would desync the ledger from the coordinator-recorded system_time
    # (the reference uses exact integer timestamp_millis()).
    if system_time.tzinfo is None:
        system_time = system_time.replace(tzinfo=timezone.utc)
    ms = (system_time - _EPOCH) // timedelta(milliseconds=1)
    df = df.withColumn(vocab.system_time_column, F.timestamp_millis(F.lit(ms)))

    # A16: column reorder (src/engine.rs:548-557)
    ordered = [
        vocab.offset_column,
        vocab.operation_type_column,
        vocab.system_time_column,
        vocab.event_time_column,
        *data_columns,
    ]
    return df.select(*ordered)
