"""Changelog → snapshot projection and time-bucket rollup.

ODF ledgers are retractable changelogs: every record carries an ``op``
(0=append, 1=retract, 2=correct-from, 3=correct-to — the vocabulary the
reference injects in ``src/engine.rs:521-533``). Consumers usually want
the CURRENT state — one live row per primary key — which is the
standard changelog-compaction / SCD-latest operator:

- for each key, take the record with the highest offset (ledger order
  is authoritative, ties impossible: offsets are unique);
- if that record is a retraction or the from-half of a correction, the
  key is dead and emits nothing;
- otherwise emit the record's data columns.

Scale shape: ONE shuffle on the primary key (uniform unless the key is
degenerate) + a per-key max — no sort beyond the per-key window, no
driver round-trips. At 100 TB the ledger scan prunes to the offset
interval first (A4), so snapshotting an increment touches the
increment.

``rollup_time_buckets`` is the hypertable-style downsampler: group an
event stream into fixed UTC time buckets per key and aggregate — one
shuffle, map-side partials, bucket count bounded by time-range/width
regardless of row count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators.deferred import DeferredLedger
from kamu_engine_datafusion_spark.plans.types import (
    OP_CORRECT_FROM,
    OP_RETRACT,
    DatasetVocabulary,
)


def latest_per_key(
    df: DataFrame, keys: list[str], offset_col: str
) -> DataFrame:
    """The record with the highest ``offset_col`` per ``keys``, dead
    records (retractions, correct-from halves) INCLUDED: the
    latest-per-key merge law that the batch snapshot, ledger compaction,
    the maintained snapshot fold and its registry replay share. Offsets
    are unique, so there are no ties."""
    w = Window.partitionBy(*keys).orderBy(F.col(offset_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def snapshot_of_ledger(
    ledger: DataFrame,
    primary_key: str | list[str],
    vocab: DatasetVocabulary | None = None,
) -> DataFrame:
    """Project a retractable ledger to its current state: the latest
    non-dead record per primary key, system columns dropped.
    """
    vocab = vocab or DatasetVocabulary()
    keys = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    off, op = vocab.offset_column, vocab.operation_type_column
    latest = latest_per_key(ledger, keys, off)
    live = latest.filter(~F.col(op).isin(OP_RETRACT, OP_CORRECT_FROM))
    drop_cols = [off, op, vocab.system_time_column]
    return live.drop(*drop_cols)


def snapshot_as_of(
    ledger: DataFrame,
    primary_key: str | list[str],
    as_of_offset: int,
    vocab: DatasetVocabulary | None = None,
) -> DataFrame:
    """Time travel: the dataset state as of ledger offset
    ``as_of_offset`` (inclusive) — the reproducible-read primitive an
    ODF consumer uses to pin an analysis to a ledger position.

    Just a composition: offset-slice (a pushed-down scan predicate, so
    row groups beyond the offset are pruned) then the snapshot
    projection. Cost ∝ ledger up to the offset, not full history
    replay: the projection is a single keyed shuffle.
    """
    vocab = vocab or DatasetVocabulary()
    sliced = ledger.filter(F.col(vocab.offset_column) <= as_of_offset)
    return snapshot_of_ledger(sliced, primary_key, vocab)


def rollup_time_buckets(
    events: DataFrame,
    time_col: str,
    bucket: str,
    group_cols: list[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Hypertable-style rollup: truncate ``time_col`` to ``bucket``
    (any ``date_trunc`` unit: 'hour', 'day', 'week', …), group by
    (bucket, *group_cols), apply ``aggs`` (name → aggregate Column).

    One shuffle on (bucket, group) — partial aggregation does the heavy
    lifting map-side, and the output cardinality is bounded by
    time-span/bucket × group cardinality, independent of input rows.
    """
    b = F.date_trunc(bucket, F.col(time_col)).alias("bucket_start")
    return events.groupBy(b, *group_cols).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )


def history_intervals(
    ledger: DataFrame,
    primary_key: str | list[str],
    vocab: DatasetVocabulary | None = None,
) -> DataFrame:
    """SCD2-style validity intervals from a retractable ledger: one row
    per ledger record with ``valid_from``/``valid_to`` event times and
    ``is_current`` — the between-join-able form of the dataset's full
    history (``FROM history WHERE ts >= valid_from AND (valid_to IS
    NULL OR ts < valid_to)`` reconstructs any point-in-time state).

    Semantics per key, in ledger (offset) order:
    - a record's validity starts at its own event time and ends at the
      next record's event time for the same key (``lead``), open-ended
      (null) for the latest record;
    - retractions and correct-from halves close the PRECEDING record's
      validity but are not themselves emitted (they carry no state);
    - ``is_current`` marks open-ended rows that are not dead;
    - ledger order is authoritative, so a RETROACTIVE record (later
      offset, earlier event time) would invert the preceding record's
      interval — ``valid_to`` is clamped to ``valid_from`` instead,
      yielding an empty interval (superseded immediately: the
      between-join can never match it), never an inverted one.

    Scale: one shuffle on the primary key; both windows (lead + latest)
    share the exchange. Same cost shape as the snapshot projection.
    """
    vocab = vocab or DatasetVocabulary()
    keys = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    off, op = vocab.offset_column, vocab.operation_type_column
    et = vocab.event_time_column
    w = Window.partitionBy(*keys).orderBy(F.col(off))
    with_next = ledger.withColumn("__next_et", F.lead(F.col(et)).over(w))
    live = with_next.filter(~F.col(op).isin(OP_RETRACT, OP_CORRECT_FROM))
    return (
        live.withColumn("valid_from", F.col(et))
        .withColumn(
            "valid_to",
            # explicit null guard: greatest() IGNORES nulls, which would
            # turn the open-ended (null) case into valid_to = valid_from
            F.when(
                F.col("__next_et").isNotNull(),
                F.greatest(F.col("__next_et"), F.col(et)),
            ),
        )
        .withColumn("is_current", F.col("__next_et").isNull())
        .drop("__next_et", op, vocab.system_time_column)
    )


#: The gap-filled frame returned by rollup_gapfill lazily reads the
#: persisted rollup, so the rollup is released at the NEXT gapfill call.
GAPFILL_LEDGER = DeferredLedger()


def rollup_gapfill(
    events: DataFrame,
    time_col: str,
    bucket: str,
    group_cols: list[str],
    aggs: dict[str, Column],
    fill: str = "null",
) -> DataFrame:
    """Gap-filled hypertable rollup (the ``time_bucket_gapfill``
    operator): :func:`rollup_time_buckets`, then every group is
    densified to the FULL bucket grid between the corpus-wide min and
    max bucket, so downstream window math (moving averages, deltas,
    charting) never sees missing rows.

    ``fill``: ``"null"`` (default) leaves gap rows null; ``"zero"``
    fills numeric aggregates with 0; ``"ffill"`` carries the previous
    present value forward per group (``last(..., ignorenulls)``).
    A ``gap_filled`` flag marks synthesized rows either way.

    Scale: the grid is group-cardinality × span/bucket rows —
    independent of input size — built from ONE tiny (min, max) agg
    collected to the driver and a per-group ``sequence`` explode; the
    rollup itself is the usual single partial-aggregated shuffle, and
    the densify join is keyed on (bucket, group) — uniform. ``ffill``
    adds one window over the (group)-keyed grid — bounded by grid
    size, not corpus size.
    """
    # the rollup feeds the bounds agg, the grid's group list, the
    # sentinel, and the densify join — persist + populate so the
    # aggregation shuffle runs once (the rollup is grid-sized: tiny)
    GAPFILL_LEDGER.release()
    rolled = GAPFILL_LEDGER.persist(
        rollup_time_buckets(events, time_col, bucket, group_cols, aggs)
    )
    bounds = rolled.agg(
        F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return rolled.withColumn("gap_filled", F.lit(False))
    step = F.expr(f"interval 1 {bucket}")
    grid = (
        rolled.select(*group_cols)
        .distinct()
        .crossJoin(
            F.broadcast(
                rolled.sparkSession.range(1).select(
                    F.explode(
                        F.sequence(
                            F.lit(bounds["lo"]), F.lit(bounds["hi"]), step
                        )
                    ).alias("bucket_start")
                )
            )
        )
    )
    agg_names = list(aggs.keys())
    # a rollup row exists iff the (bucket, group) key joined — flag on a
    # sentinel column, not on aggregate nullness (aggregates over the
    # present rows can legitimately be null)
    hit = rolled.select(
        "bucket_start", *group_cols, F.lit(True).alias("__present")
    )
    out = grid.join(hit, ["bucket_start", *group_cols], "left").join(
        rolled, ["bucket_start", *group_cols], "left"
    )
    filled = F.coalesce(F.col("__present"), F.lit(False))
    if fill == "zero":
        sel = [
            F.coalesce(F.col(n), F.lit(0)).alias(n) for n in agg_names
        ]
    elif fill == "ffill":
        w = (
            Window.partitionBy(*group_cols)
            .orderBy("bucket_start")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        sel = [
            F.last(F.col(n), ignorenulls=True).over(w).alias(n)
            for n in agg_names
        ]
    else:
        sel = [F.col(n) for n in agg_names]
    return out.select(
        "bucket_start",
        *group_cols,
        *sel,
        (~filled).alias("gap_filled"),
    )


def rolling_time_agg(
    events: DataFrame,
    time_col: str,
    value_col: str,
    window_seconds: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-event trailing time-window aggregates: for every row, the
    COUNT/SUM/AVG of ``value_col`` over the group's events in
    ``[t − window, t]`` (closed both ends) — the moving-average /
    rate-limiter primitive over an event stream with irregular
    timestamps (a ROWS frame can't express it; the frame is defined by
    TIME, not row position).

    One shuffle on the group key; the RANGE frame is evaluated by a
    single sort within each group partition — Spark keeps a sliding
    frame over the ordered run, so cost is O(n log n) per group, not
    O(n·w). Appends ``rolling_n``, ``rolling_sum``, ``rolling_avg``.
    """
    group_cols = group_cols or []
    secs = F.unix_micros(F.col(time_col).cast("timestamp")) / F.lit(1e6)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(secs.alias("__sec"))
        .rangeBetween(-window_seconds, 0)
    )
    return (
        events.withColumn("rolling_n", F.count(value_col).over(w).cast("long"))
        .withColumn("rolling_sum", F.sum(value_col).over(w))
        .withColumn("rolling_avg", F.avg(value_col).over(w))
    )


def compact_ledger(
    ledger: DataFrame,
    primary_key: str | list[str],
    horizon_offset: int,
    vocab: DatasetVocabulary | None = None,
) -> DataFrame:
    """Ledger compaction with a retention horizon — the maintenance
    operator that keeps an ever-growing retractable ledger readable:
    every record with ``offset <= horizon_offset`` collapses to the
    latest record per primary key (tombstones INCLUDED — a key whose
    last pre-horizon record is a retract must stay dead, or an older
    replica could resurrect it), while everything after the horizon is
    preserved verbatim so time travel (``snapshot_as_of``) keeps
    working for any ``as_of >= horizon_offset``.

    Invariant (pytest-pinned): for every ``t >= horizon_offset``,
    ``snapshot_as_of(compact_ledger(L, k, h), k, t)`` ==
    ``snapshot_as_of(L, k, t)`` — compaction is unobservable to any
    reader at or past the horizon.

    Scale: ONE keyed shuffle over the pre-horizon slice only (the
    offset predicate is pushed to the scan, so post-horizon row groups
    are read once and never shuffled); output size is |keys| +
    |post-horizon records|. Run periodically with the horizon at the
    oldest offset any consumer still needs, exactly like log-compacted
    topics / Delta VACUUM retention.
    """
    vocab = vocab or DatasetVocabulary()
    keys = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    off = vocab.offset_column
    old = ledger.filter(F.col(off) <= horizon_offset)
    recent = ledger.filter(F.col(off) > horizon_offset)
    return latest_per_key(old, keys, off).unionByName(recent)
