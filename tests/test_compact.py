"""Ledger compaction: the record stream must be identical before and
after; file count shrinks; offset pruning still works."""

from __future__ import annotations

import glob
import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from kamu_engine_datafusion_spark.sources.compact import compact_ledger

UTC = timezone.utc


def _write_part(path: str, start: int, n: int) -> None:
    tbl = pa.table(
        {
            "offset": pa.array(range(start, start + n), pa.int64()),
            "op": pa.array([0] * n, pa.int32()),
            "system_time": pa.array(
                [datetime(2023, 1, 1, tzinfo=UTC)] * n, pa.timestamp("ms", "UTC")
            ),
            "event_time": pa.array(
                [datetime(2023, 1, 1, tzinfo=UTC)] * n, pa.timestamp("ms", "UTC")
            ),
            "v": pa.array([i * 10 for i in range(start, start + n)], pa.int64()),
        }
    )
    pq.write_table(tbl, path)


def test_compact_preserves_stream_and_shrinks_files(spark, tmp_path):
    ledger = tmp_path / "ledger"
    ledger.mkdir()
    for i in range(10):  # ten 50-row micro-batch parts
        _write_part(str(ledger / f"part-{i:05d}.parquet"), i * 50, 50)

    before = pq.read_table(sorted(glob.glob(str(ledger / "*.parquet")))).sort_by(
        "offset"
    )
    n_files = compact_ledger(spark, str(ledger), target_rows_per_file=200)
    files = sorted(glob.glob(str(ledger / "*.parquet")))
    assert len(files) == n_files == 3  # ceil(500/200)

    after = pq.read_table(files).sort_by("offset")
    assert after.equals(before.select(after.schema.names).cast(after.schema))

    # lexical file order == offset order (first offsets in names)
    firsts = [
        pq.read_table(f, columns=["offset"])["offset"][0].as_py() for f in files
    ]
    assert firsts == sorted(firsts)

    # offset pruning survives: each file holds a contiguous range
    for f in files:
        col = pq.read_table(f, columns=["offset"])["offset"].to_pylist()
        assert col == list(range(col[0], col[0] + len(col)))


def test_compact_empty_dir(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    assert compact_ledger(spark, str(d)) == 0


def test_recompaction_names_do_not_collide(spark, tmp_path):
    """Re-compacting an already-compacted ledger must not collide on the
    offset-derived part names (the first part is always offset 0); the
    per-compaction token keeps generations distinct."""
    ledger = tmp_path / "ledger"
    ledger.mkdir()
    for i in range(6):
        _write_part(str(ledger / f"part-{i:05d}.parquet"), i * 50, 50)
    before = pq.read_table(sorted(glob.glob(str(ledger / "*.parquet")))).sort_by(
        "offset"
    )
    assert compact_ledger(spark, str(ledger), target_rows_per_file=100) == 3
    assert compact_ledger(spark, str(ledger), target_rows_per_file=300) == 1
    files = sorted(glob.glob(str(ledger / "*.parquet")))
    assert len(files) == 1
    after = pq.read_table(files).sort_by("offset")
    assert after.equals(before.select(after.schema.names).cast(after.schema))
