"""Partitioning utilities for the 100 TB regime: skew-salted
aggregation and a key-skew profile.

AQE (enabled in ``session.py``) already splits skewed shuffle/join
partitions at runtime; these helpers cover the case AQE can't: a single
hot GROUP BY key (AQE can't split one key's hash bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators.deferred import DeferredLedger


def salted_count(
    df: DataFrame, key_cols: list[str], salt_buckets: int = 16
) -> DataFrame:
    """Skew-proof COUNT per key: two-stage aggregation with a random salt.

    Stage 1 groups on (key, salt) — a hot key's rows spread over
    ``salt_buckets`` reducers; stage 2 merges the per-salt partials.
    The salt is only a partitioning device, so any distributive
    aggregate (count/sum/min/max) composes the same way.
    """
    salt = (F.rand(seed=42) * salt_buckets).cast("int").alias("__salt")
    partial = (
        df.select(*key_cols, salt)
        .groupBy(*key_cols, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial_n"))
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("__partial_n").cast("long").alias("n")
    )


#: The profile returned by key_skew_profile lazily reads its persisted
#: count table, so the table is released at the NEXT call.
SKEW_LEDGER = DeferredLedger()


def key_skew_profile(
    df: DataFrame, key_cols: list[str], top_n: int = 20
) -> DataFrame:
    """Shuffle-skew diagnosis: the heaviest ``top_n`` keys with their
    row share — the input to every salting/broadcast decision in this
    module ("is there a hot key, and how hot?").

    Returns ``(rank, key, n, share)`` — ``key`` is the concatenated key
    tuple (unit-separator joined), ``share`` its fraction of all rows.
    A top key holding ≫ 1/shuffle-partitions of the table is the key
    AQE cannot split in a GROUP BY: salt it (:func:`salted_count`) or
    broadcast its join side.

    One partial-aggregated count per key; the count table is persisted
    (and released at the next call) because the grand total — which
    must include keys outside the top-n — and the TakeOrderedAndProject
    both read it. Never a full sort.
    """
    key = F.concat_ws(chr(31), *[F.col(c).cast("string") for c in key_cols])
    SKEW_LEDGER.release()
    counts = SKEW_LEDGER.persist(
        df.select(key.alias("__key"))
        .groupBy("__key")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    total = counts.agg(F.sum("__n").alias("__total"))
    top = counts.orderBy(F.col("__n").desc(), "__key").limit(top_n)
    from pyspark.sql import Window

    # BOUNDED-WINDOW CLASS: input is the limit(top_n) frame above —
    # metadata-sized by construction, never the corpus.
    ranked = top.crossJoin(F.broadcast(total)).select(
        F.row_number()
        .over(Window.orderBy(F.col("__n").desc(), "__key"))
        .cast("long")
        .alias("rank"),
        F.col("__key").alias("key"),
        F.col("__n").cast("long").alias("n"),
        (F.col("__n") / F.col("__total")).alias("share"),
    )
    return ranked
