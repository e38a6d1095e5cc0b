"""Coordinator-path edges: every failure is typed and loud, and nothing
a coordinator relies on is lost or half-advanced on the way."""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest

from kamu_engine_datafusion_spark import (
    InvalidQueryError,
    OffsetInterval,
    SqlQueryStep,
    TransformRequestInput,
)
from kamu_engine_datafusion_spark.session import tune_session
from kamu_engine_datafusion_spark.sources.ledger import register_input
from kamu_engine_datafusion_spark.sources.sink import write_parquet_single_file
from kamu_engine_datafusion_spark.streaming.incremental import (
    IncrementalRunner,
    LedgerInput,
)
from tests.conftest import write_cities_ledger

UTC = timezone.utc


def test_data_paths_without_offset_interval_is_invalid_query(spark, tmp_path):
    """The reference invariant (data_paths non-empty iff offset_interval
    is set) is a typed InvalidQueryError — at request construction and
    again in register_input — never an ``assert`` that ``-O`` strips."""
    ledger = write_cities_ledger(str(tmp_path / "cities.parquet"))
    with pytest.raises(InvalidQueryError, match="offset_interval"):
        TransformRequestInput(
            dataset_alias="foo",
            query_alias="foo",
            schema_file=ledger,
            data_paths=[ledger],
        )
    inp = TransformRequestInput(
        dataset_alias="foo",
        query_alias="foo",
        schema_file=ledger,
        data_paths=[ledger],
        offset_interval=OffsetInterval(0, 2),
    )
    inp.offset_interval = None
    with pytest.raises(InvalidQueryError, match="offset_interval"):
        register_input(spark.newSession(), inp)


def test_tick_waits_for_an_input_without_part_files(spark, tmp_path):
    """An input ledger with no part file yet has no schema to offer:
    the tick is a no-op (None) and no read position or output offset
    moves; once the file lands the next tick runs normally."""
    a_dir, b_dir = tmp_path / "a", tmp_path / "b"
    a_dir.mkdir()
    b_dir.mkdir()
    write_cities_ledger(str(a_dir / "part-00000.parquet"))
    runner = IncrementalRunner(
        spark=spark,
        transform=[
            SqlQueryStep(
                query="select event_time, city from a "
                "union all select event_time, city from b"
            )
        ],
        inputs=[
            LedgerInput(
                dataset_alias=q, query_alias=q, ledger_dir=str(tmp_path / q)
            )
            for q in ("a", "b")
        ],
        output_dir=str(tmp_path / "out"),
    )
    t = datetime(2023, 2, 1, tzinfo=UTC)
    assert runner.tick(t) is None
    assert [i.next_unread_offset for i in runner.inputs] == [0, 0]
    assert (runner.next_offset, runner.ticks) == (0, 0)

    write_cities_ledger(str(b_dir / "part-00000.parquet"))
    resp = runner.tick(t)
    oi = resp.new_offset_interval
    assert (oi.start, oi.end) == (0, 5)
    assert [i.next_unread_offset for i in runner.inputs] == [3, 3]


def test_single_file_write_keeps_old_file_when_rename_fails(
    spark, tmp_path, monkeypatch
):
    """A failure at the rename step must leave the previous file at
    ``path`` intact (never removed ahead of the move)."""
    path = str(tmp_path / "out.parquet")
    write_cities_ledger(path)
    before = open(path, "rb").read()

    def boom(*a, **k):
        raise OSError("injected rename failure")

    for mod, name in ((os, "replace"), (os, "rename"), (shutil, "move")):
        monkeypatch.setattr(mod, name, boom)
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(OSError, match="injected"):
        write_parquet_single_file(df, path)
    monkeypatch.undo()

    assert open(path, "rb").read() == before
    assert pq.ParquetFile(path).metadata.num_rows == 3
    assert write_parquet_single_file(df, path) == 1
    assert pq.read_table(path).column("x").to_pylist() == [1]
    assert not [f for f in os.listdir(tmp_path) if f.startswith(".odf-")]


def test_tune_session_propagates_a_refused_conf():
    class Conf:
        def set(self, k, v):
            raise RuntimeError(f"cannot modify {k}")

    class Session:
        conf = Conf()

    with pytest.raises(RuntimeError, match="cannot modify"):
        tune_session(Session())
