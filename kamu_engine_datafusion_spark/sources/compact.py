"""Ledger compaction: rewrite many small part files into few large ones
while preserving the offset order and ledger semantics.

An ODF ledger accumulates one part file per coordinator tick
(micro-batch); after thousands of ticks the file count, not the data
volume, dominates scan planning cost. Compaction is pure maintenance —
the record stream (offsets, ops, times, data) is byte-identical before
and after.

Scale shape: one range-shuffle on the offset column (so output files
hold contiguous offset ranges and row-group pruning on offset keeps
working), then a parallel write sized by ``target_rows_per_file``.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.plans.types import DatasetVocabulary
from kamu_engine_datafusion_spark.sources.ledger import read_parquet


def compact_ledger(
    spark: SparkSession,
    ledger_dir: str,
    target_rows_per_file: int = 5_000_000,
    vocab: DatasetVocabulary | None = None,
) -> int:
    """Compact ``<ledger_dir>/*.parquet`` in place; returns the new file
    count. Output files hold contiguous, sorted offset ranges named
    ``part-<first_offset:012d>.<token>.parquet``, the token unique to
    this compaction.
    """
    vocab = vocab or DatasetVocabulary()
    off = vocab.offset_column
    files = sorted(glob.glob(os.path.join(ledger_dir, "*.parquet")))
    if not files:
        return 0
    df = read_parquet(spark, files)
    total = df.count()
    if total == 0:
        return len(files)
    n_out = max(1, math.ceil(total / target_rows_per_file))

    tmp_dir = tempfile.mkdtemp(prefix=".odf-compact-", dir=ledger_dir)
    out_tmp = os.path.join(tmp_dir, "out")
    (
        df.repartitionByRange(n_out, off)
        .sortWithinPartitions(off)
        .write.mode("overwrite")
        .parquet(out_tmp)
    )
    # rename parts by their first offset so lexical order == offset order
    import pyarrow.parquet as pq

    # A per-compaction token in the filename makes names unique across
    # compaction generations (re-compacting always yields a first part at
    # offset 0, which would otherwise collide with the previous
    # generation's). Lexical order still equals offset order: the
    # zero-padded offset prefix dominates the comparison.
    token = os.path.basename(tmp_dir).removeprefix(".odf-compact-")
    new_parts = sorted(glob.glob(os.path.join(out_tmp, "part-*.parquet")))
    renamed = []
    for p in new_parts:
        first = pq.read_table(p, columns=[off])[off][0].as_py()
        dst = os.path.join(tmp_dir, f"part-{first:012d}.{token}.parquet")
        shutil.move(p, dst)
        renamed.append(dst)
    # Crash-safe swap, not concurrency-safe (callers must not run compaction
    # concurrently with ingest — documented in SURVEY §4.3). Order matters:
    # (1) stage new parts INTO the ledger first — their offset-derived names
    #     cannot collide with coordinator-tick names, and a reader that lists
    #     mid-swap sees duplicated offsets (recoverable: dedup on offset)
    #     rather than an empty ledger;
    # (2) move old parts to a backup dir (single rename each);
    # (3) delete backups last — a crash anywhere leaves a ledger that still
    #     contains every record at least once, plus a backup to roll back to.
    final = []
    for p in renamed:
        dst = os.path.join(ledger_dir, os.path.basename(p))
        shutil.move(p, dst)
        final.append(dst)
    backup_dir = os.path.join(tmp_dir, "old")
    os.makedirs(backup_dir, exist_ok=True)
    for f in files:
        shutil.move(f, os.path.join(backup_dir, os.path.basename(f)))
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return len(final)


def zorder_value(
    df,
    cols: list[str],
    bits_per_col: int = 16,
):
    """Morton (Z-order) interleave of 2+ numeric columns as a LONG
    column expression: each column is min-max scaled to a
    ``bits_per_col``-bit integer over the FULL input (one tiny bounds
    aggregate, broadcast back), then the bit codes are interleaved so
    proximity in z-value approximates proximity in EVERY input column
    at once.

    Returns ``(df_with_bounds, zcol)`` — ``df_with_bounds`` is ``df``
    cross-joined with the broadcast bounds row, ``zcol`` the Column to
    sort/partition by. Pure codegen bit math (shiftleft/or over long
    slots), no UDFs. ``len(cols) * bits_per_col`` must fit in 63 bits.
    """
    if len(cols) * bits_per_col > 63:
        raise ValueError("z-value exceeds a long: reduce bits_per_col")
    bounds = df.agg(
        *[
            F.min(F.col(c).cast("double")).alias(f"__lo_{c}")
            for c in cols
        ],
        *[
            F.max(F.col(c).cast("double")).alias(f"__hi_{c}")
            for c in cols
        ],
    )
    out = df.crossJoin(F.broadcast(bounds))
    max_code = (1 << bits_per_col) - 1
    codes = []
    for c in cols:
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        scaled = F.when(hi == lo, F.lit(0)).otherwise(
            F.least(
                F.lit(max_code),
                F.floor(
                    (F.col(c).cast("double") - lo)
                    / (hi - lo)
                    * F.lit(max_code + 1)
                ),
            )
        ).cast("long")
        codes.append(F.coalesce(scaled, F.lit(0)))
    z = F.lit(0).cast("long")
    for bit in range(bits_per_col):
        for ci, code in enumerate(codes):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(code, bit).bitwiseAND(F.lit(1)),
                    bit * len(codes) + ci,
                )
            )
    return out, z
