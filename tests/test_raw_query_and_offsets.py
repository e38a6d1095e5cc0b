"""Tests for the raw-query entry point (A21) and the scale-mode offset
assigner (two-pass distributed A13)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark import (
    RawQueryRequest,
    SqlQueryStep,
    execute_raw_query,
)
from kamu_engine_datafusion_spark.operators.system_columns import (
    assign_offsets_distributed,
)
from tests.conftest import write_cities_ledger


def test_execute_raw_query(spark, tmp_path):
    """A21 (reference ``src/engine.rs:56-125``): register `input`, run
    steps, no validation/system columns, return num_records."""
    ledger = write_cities_ledger(str(tmp_path / "in.parquet"))
    out_path = str(tmp_path / "out.parquet")
    resp = execute_raw_query(
        spark,
        RawQueryRequest(
            input_data_paths=[ledger],
            transform=[
                SqlQueryStep(
                    query="select city, population * 2 as pop2 from input "
                    "where population > 700000"
                )
            ],
            output_data_path=out_path,
        ),
    )
    assert resp.num_records == 2
    d = pq.read_table(out_path).to_pydict()
    assert sorted(d["city"]) == ["kyiv", "seattle"]


def test_raw_query_multi_step(spark, tmp_path):
    ledger = write_cities_ledger(str(tmp_path / "in.parquet"))
    out_path = str(tmp_path / "out.parquet")
    resp = execute_raw_query(
        spark,
        RawQueryRequest(
            input_data_paths=[ledger],
            transform=[
                SqlQueryStep(query="select * from input", alias="s1"),
                SqlQueryStep(query="select count(*) as n from s1"),
            ],
            output_data_path=out_path,
        ),
    )
    assert resp.num_records == 1
    assert pq.read_table(out_path).to_pydict()["n"] == [3]


def test_distributed_offsets_dense_unique(spark):
    """Offsets must be dense [start, start+n) regardless of partitioning."""
    df = spark.range(0, 10_000).repartition(16)
    out = assign_offsets_distributed(df, "offset", 100)
    rows = out.select("offset").collect()
    offsets = sorted(r["offset"] for r in rows)
    assert offsets == list(range(100, 10_100))


def test_distributed_offsets_follow_range_partition_order(spark):
    """With range partitioning + in-partition sort, offsets equal the
    global rank — the scale path for ledger-ordered output."""
    df = (
        spark.range(0, 5_000)
        .withColumn("key", F.col("id"))
        .repartitionByRange(8, "key")
        .sortWithinPartitions("key")
    )
    out = assign_offsets_distributed(df, "offset", 0)
    rows = out.select("offset", "key").collect()
    assert all(r["offset"] == r["key"] for r in rows)


def test_distributed_offsets_empty(spark):
    df = spark.range(0, 0)
    out = assign_offsets_distributed(df, "offset", 0)
    assert out.count() == 0


def test_distributed_offsets_plan_bounded_at_high_partition_count(spark):
    """At high partition counts the per-partition offset bases must travel
    as broadcast-joined data, not a `create_map` literal: a literal is
    O(partitions) in the PLAN, and ~800k partitions (100 TB / 128 MB
    splits) would stall Catalyst. 10k partitions here; the plan must stay
    constant-size and offsets dense."""
    df = spark.range(0, 10_000).repartition(10_000)
    out = assign_offsets_distributed(df, "offset", 0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # bounded: a create_map literal over 10k entries would be >200kB of plan
    assert len(plan) < 50_000, f"plan grew with partition count: {len(plan)} chars"
    offsets = sorted(r["offset"] for r in out.select("offset").collect())
    assert offsets == list(range(0, 10_000))
    assert "create_map" not in plan


def test_system_time_exact_integer_milliseconds(spark):
    """`int(ts.timestamp()*1000)` truncates ~0.5% of ms timestamps 1ms low
    (float round-trip); system_time must be exact integer ms."""
    from datetime import datetime, timezone

    from kamu_engine_datafusion_spark import DatasetVocabulary
    from kamu_engine_datafusion_spark.operators.system_columns import (
        with_system_columns,
    )

    st = datetime(2004, 9, 18, 13, 12, 28, 120_000, tzinfo=timezone.utc)
    assert int(st.timestamp() * 1000) == 1095513148119  # the float trap
    df = spark.range(0, 3).withColumn("event_time", F.current_timestamp())
    out = with_system_columns(df, DatasetVocabulary(), st, start_offset=0)
    got = out.select("system_time").first()["system_time"]
    assert got.replace(tzinfo=timezone.utc) == st


@pytest.mark.parametrize("base_map_max", [64, 0], ids=["map", "join"])
def test_distributed_offsets_are_not_nullable(spark, monkeypatch, base_map_max):
    """Both ways of carrying the per-partition bases (a literal map below
    the threshold, a broadcast join above it) give a NOT NULL offset, as
    the serial path does."""
    from kamu_engine_datafusion_spark.operators import system_columns

    monkeypatch.setattr(system_columns, "_BASE_MAP_LITERAL_MAX", base_map_max)
    out = assign_offsets_distributed(spark.range(0, 6, 1, 3), "offset", 10)
    assert not out.schema["offset"].nullable
