"""Changelog-aware aggregation: incremental materialized-view
maintenance over retractable ODF ledgers.

The reference engine passes retraction/correction rows through untouched
and explicitly leaves their interpretation to the user
(``/root/reference/README.md:20``; op vocabulary Append=0, Retract=1,
CorrectFrom=2, CorrectTo=3 injected at
``/root/reference/src/engine.rs:521-533``). This module gives that
interpretation for the aggregation case: maintain GROUP BY aggregates
over the changelog WITHOUT ever materializing the snapshot, using the
classic signed-weight formulation from incremental view maintenance
(each Append/CorrectTo row contributes +1, each Retract/CorrectFrom row
contributes −1 — a correction is a retraction of the old value plus an
append of the new one).

Why this shape at 100 TB:

- ONE partial-aggregated shuffle over the ledger — map-side combine
  collapses each partition to one row per group before the exchange,
  so the shuffle carries group-cardinality rows, not history rows. The
  snapshot-then-aggregate alternative pays a full per-key window sort
  (every history row through the exchange) before it can even start
  aggregating.
- The result is MERGEABLE: the aggregate of ledger slice A ∪ B is the
  element-wise sum of the aggregates of A and B (weights are linear).
  A coordinator processing offset intervals (A4) therefore maintains
  the view by aggregating ONLY the increment and adding it to the
  stored state — cost per tick ∝ increment, not history.

Maintainable aggregates are the linear ones: COUNT, SUM (and AVG as
SUM/COUNT downstream). MIN/MAX are not incrementally maintainable
under retraction (deleting the current min needs the runner-up) — for
those, project the snapshot (``operators/snapshot.py``) and aggregate
the live rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.plans.types import (
    OP_CORRECT_FROM,
    OP_RETRACT,
    DatasetVocabulary,
)


def op_weight(op_col: Column | str) -> Column:
    """Signed multiplicity of a changelog row: +1 for Append/CorrectTo,
    −1 for Retract/CorrectFrom."""
    c = F.col(op_col) if isinstance(op_col, str) else op_col
    return F.when(c.isin(OP_RETRACT, OP_CORRECT_FROM), F.lit(-1)).otherwise(
        F.lit(1)
    )


def changelog_agg(
    ledger: DataFrame,
    group_cols: list[str],
    sum_cols: dict[str, str] | None = None,
    vocab: DatasetVocabulary | None = None,
    keep_dead_groups: bool = False,
) -> DataFrame:
    """Current-state GROUP BY aggregates of a retractable ledger.

    Returns one row per group: ``group_cols``, ``n_live`` (signed row
    count = live record count), and for each ``alias → column`` in
    ``sum_cols`` the signed sum of that column over live records. Sums
    use exact integer micro-unit accumulation (DECIMAL(20,0)
    accumulator) so results are order-independent and engine-portable —
    the same discipline as ``queries/_util.dsum``, which matters more
    here because signed cancellation makes float drift visible.

    Groups whose every record has been retracted (``n_live`` = 0) are
    dropped unless ``keep_dead_groups`` — a fully-retracted group is
    not part of the current state, but keeping the zero row is what you
    want when MERGING increment aggregates into stored view state
    (the zero must cancel the stored counts).
    """
    vocab = vocab or DatasetVocabulary()
    w = op_weight(vocab.operation_type_column)
    aggs = [F.sum(w.cast("long")).alias("n_live")]
    for alias, col in (sum_cols or {}).items():
        micro = (
            (F.round(F.col(col) * 1e6).cast("long") * w)
            .cast("decimal(20,0)")
        )
        aggs.append(
            (F.sum(micro).cast("double") / F.lit(1e6)).alias(alias)
        )
    out = ledger.groupBy(*group_cols).agg(*aggs)
    if not keep_dead_groups:
        out = out.filter(F.col("n_live") != 0)
    return out


def merge_changelog_aggs(
    state: DataFrame, increment: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Fold an increment's :func:`changelog_agg` (computed with
    ``keep_dead_groups=True``) into stored view state: element-wise sum
    per group, groups that cancel to zero live rows dropped.

    This is the per-tick maintenance step: ``state`` is the stored
    (tiny, group-cardinality) view table, ``increment`` is the
    aggregate of the new offset interval only. Union + one re-aggregate
    over group-cardinality input — never touches ledger history.
    """
    val_cols = [c for c in state.columns if c not in group_cols]

    def _merge(c: str) -> Column:
        if c == "n_live":
            return F.sum(F.col(c)).alias(c)
        # re-derive the exact micro-unit integers before summing so
        # chained merges stay bit-identical to a full recompute (the
        # stored doubles are exact micro-unit multiples by construction)
        micro = F.round(F.col(c) * 1e6).cast("long").cast("decimal(20,0)")
        return (F.sum(micro).cast("double") / F.lit(1e6)).alias(c)

    merged = (
        state.unionByName(increment.select(*state.columns))
        .groupBy(*group_cols)
        .agg(*[_merge(c) for c in val_cols])
    )
    return merged.filter(F.col("n_live") != 0)


def sum_merge(
    state: DataFrame | None, inc: DataFrame, keys: list[str]
) -> DataFrame:
    """The additive merge law of the maintained counter folds: per
    ``keys``, every other column of the increment ``inc`` summed with
    the stored state as BIGINT; ``inc`` itself when there is no state
    yet. Meant for integer counters only — their sums are exact in any
    union order, so a fold over ticks equals the one-shot count (a
    floating-point sum would depend on the order)."""
    if state is None:
        return inc
    return (
        inc.unionByName(state)
        .groupBy(*keys)
        .agg(
            *[
                F.sum(c).cast("long").alias(c)
                for c in inc.columns
                if c not in keys
            ]
        )
    )


def cdc_to_ledger(
    df: DataFrame,
    op_col: str = "op",
    before_col: str = "before",
    after_col: str = "after",
    data_fields: list[str] | None = None,
) -> DataFrame:
    """Adapt a Debezium-style CDC stream (``op`` ∈ c/r/u/d with
    ``before``/``after`` row images) into ODF changelog rows — the
    ingest glue between upstream CDC connectors and this module's
    retraction-aware operators:

    - ``c``/``r`` (create/read-snapshot) → one Append(0) of ``after``
    - ``d`` (delete) → one Retract(1) of ``before``
    - ``u`` (update) → CorrectFrom(2) of ``before`` IMMEDIATELY
      followed by CorrectTo(3) of ``after`` (the ODF correction-pair
      contract, reference ``src/engine.rs:521-533`` op vocabulary)

    Returns one output row per emitted ledger record with ``__half``
    (0 = the from-half, 1 = the to-half) so a downstream offset
    assigner ordering by (source position, ``__half``) keeps the
    correction pair adjacent and in order. Pure in-row array build +
    explode — zero shuffles; unknown op codes are dropped (count them
    upstream with a ``dq_report`` accepted-values check).
    """
    if data_fields is None:
        data_fields = [
            f.name
            for f in df.schema[after_col].dataType.fields  # type: ignore[union-attr]
        ]

    def image(src_col: str, code: int, half: int):
        return F.struct(
            F.lit(code).cast("int").alias("__op"),
            F.lit(half).cast("int").alias("__half"),
            *[
                F.col(f"{src_col}.{f}").alias(f)
                for f in data_fields
            ],
        )

    op = F.col(op_col)
    recs = (
        F.when(op.isin("c", "r"), F.array(image(after_col, 0, 0)))
        .when(op == "d", F.array(image(before_col, 1, 0)))
        .when(
            op == "u",
            F.array(image(before_col, 2, 0), image(after_col, 3, 1)),
        )
        .otherwise(F.array())
    )
    keep = [c for c in df.columns if c not in (op_col, before_col, after_col)]
    return (
        df.select(*keep, F.explode(recs).alias("__r"))
        .select(
            *keep,
            F.col("__r.__op").alias("op"),
            F.col("__r.__half").alias("__half"),
            *[F.col(f"__r.{f}").alias(f) for f in data_fields],
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    primary_key: str | list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Derive an ODF changelog from TWO SNAPSHOT STATES of a keyed
    table — the inverse of ``snapshot_of_ledger`` and the automation of
    the manual `op`-propagation the reference leaves to its users
    (reference ``README.md:20``: retractions/corrections "must be
    handled manually"; op vocabulary ``src/engine.rs:521-533``):

    - key only in ``new``                         → Append(0) of new
    - key only in ``old``                         → Retract(1) of old
    - key in both, any compare column differing
      (null-safe)                                 → CorrectFrom(2) of
      old IMMEDIATELY followed by CorrectTo(3) of new
    - key in both, all compare columns equal      → nothing

    Returns one row per emitted record: the key columns, the compared
    columns, ``op``, and ``__half`` (0 = from-half, 1 = to-half) so a
    downstream offset assigner ordering by (key, ``__half``) keeps each
    correction pair adjacent — the same contract as
    :func:`cdc_to_ledger`. This is the standard way to CDC-ify sources
    that only offer periodic full dumps.

    Scale: ONE full-outer shuffle join on the key (both sides hashed
    once); the classification and pair fan-out are in-row. Feeding two
    100 TB snapshots is a key-partitioned join — bucketize both dumps
    on the key to make it co-located.
    """
    keys = [primary_key] if isinstance(primary_key, str) else list(primary_key)
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *[F.col(k) for k in keys],
            *[F.col(c).alias(f"__{tag}_{c}") for c in compare_cols],
            F.lit(1).alias(f"__in_{tag}"),
        )

    j = side(old, "o").join(side(new, "n"), keys, "full")
    changed = None
    for c in compare_cols:
        d = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        changed = d if changed is None else (changed | d)

    def image(tag: str, code: int, half: int):
        return F.struct(
            F.lit(code).cast("int").alias("__op"),
            F.lit(half).cast("int").alias("__half"),
            *[F.col(f"__{tag}_{c}").alias(c) for c in compare_cols],
        )

    in_o, in_n = F.col("__in_o").isNotNull(), F.col("__in_n").isNotNull()
    recs = (
        F.when(in_n & ~in_o, F.array(image("n", 0, 0)))
        .when(in_o & ~in_n, F.array(image("o", 1, 0)))
        .when(
            in_o & in_n & (changed if changed is not None else F.lit(False)),
            F.array(image("o", 2, 0), image("n", 3, 1)),
        )
        .otherwise(F.array())
    )
    return (
        j.select(*keys, F.explode(recs).alias("__r"))
        .select(
            F.col("__r.__op").alias("op"),
            F.col("__r.__half").alias("__half"),
            *keys,
            *[F.col(f"__r.{c}").alias(c) for c in compare_cols],
        )
    )
