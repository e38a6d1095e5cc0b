"""Multi-input transforms: several ledgers registered under distinct
query aliases, joined in one SQL step; watermark = min across inputs
that carry one (reference A5/A19 interplay)."""

from __future__ import annotations

from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from kamu_engine_datafusion_spark import (
    DatasetVocabulary,
    OffsetInterval,
    SqlQueryStep,
    TransformRequest,
    TransformRequestInput,
    Watermark,
    execute_transform,
)
from tests.conftest import SYSTEM_TIME, write_cities_ledger

UTC = timezone.utc


def _write_population_goal_ledger(path: str) -> str:
    n = 2
    tbl = pa.table(
        {
            "offset": pa.array(range(n), pa.int64()),
            "op": pa.array([0] * n, pa.int32()),
            "system_time": pa.array(
                [datetime(2023, 1, 1, tzinfo=UTC)] * n, pa.timestamp("ms", "UTC")
            ),
            "event_time": pa.array(
                [datetime(2023, 1, 1, tzinfo=UTC)] * n, pa.timestamp("ms", "UTC")
            ),
            "city": pa.array(["vancouver", "kyiv"]),
            "goal": pa.array([700000, 3000000], pa.int64()),
        }
    )
    pq.write_table(tbl, path)
    return path


def test_two_input_join_transform(spark, tmp_path):
    cities = write_cities_ledger(str(tmp_path / "cities.parquet"))
    goals = _write_population_goal_ledger(str(tmp_path / "goals.parquet"))

    def make_input(alias, path, n, wm_event_time):
        return TransformRequestInput(
            dataset_alias=alias,
            query_alias=alias,
            schema_file=path,
            data_paths=[path],
            offset_interval=OffsetInterval(0, n - 1),
            explicit_watermarks=[Watermark(SYSTEM_TIME, wm_event_time)],
        )

    req = TransformRequest(
        dataset_alias="joined",
        system_time=SYSTEM_TIME,
        next_offset=0,
        vocab=DatasetVocabulary(),
        transform=[
            SqlQueryStep(
                query=(
                    "SELECT c.event_time, c.city, c.population, g.goal, "
                    "c.population >= g.goal AS reached "
                    "FROM cities c JOIN goals g ON c.city = g.city "
                    "ORDER BY c.city"
                )
            )
        ],
        inputs=[
            make_input("cities", cities, 3, datetime(2023, 1, 5, tzinfo=UTC)),
            make_input("goals", goals, 2, datetime(2023, 1, 3, tzinfo=UTC)),
        ],
        new_data_path=str(tmp_path / "out.parquet"),
    )
    resp = execute_transform(spark, req)
    d = pq.read_table(str(tmp_path / "out.parquet")).to_pydict()
    assert d["city"] == ["kyiv", "vancouver"]
    assert d["reached"] == [False, False]
    assert d["offset"] == [0, 1]
    assert resp.new_offset_interval == OffsetInterval(0, 1)
    # watermark = min over inputs' max event_time: goals' 2023-01-03
    assert resp.new_watermark == datetime(2023, 1, 3, tzinfo=UTC)


def test_one_input_live_one_schema_only(spark, tmp_path):
    """A mixed tick: input A has new rows, input B is schema-only — the
    join sees B as a correctly-typed empty table (reference A3)."""
    cities = write_cities_ledger(str(tmp_path / "cities.parquet"))
    goals = _write_population_goal_ledger(str(tmp_path / "goals.parquet"))
    req = TransformRequest(
        dataset_alias="joined",
        system_time=SYSTEM_TIME,
        next_offset=0,
        vocab=DatasetVocabulary(),
        transform=[
            SqlQueryStep(
                query=(
                    "SELECT c.event_time, c.city, c.population "
                    "FROM cities c LEFT JOIN goals g ON c.city = g.city "
                    "WHERE g.city IS NULL ORDER BY c.city"
                )
            )
        ],
        inputs=[
            TransformRequestInput(
                dataset_alias="cities",
                query_alias="cities",
                schema_file=cities,
                data_paths=[cities],
                offset_interval=OffsetInterval(0, 2),
            ),
            TransformRequestInput(
                dataset_alias="goals",
                query_alias="goals",
                schema_file=goals,
                data_paths=[],
                offset_interval=None,
            ),
        ],
        new_data_path=str(tmp_path / "out.parquet"),
    )
    resp = execute_transform(spark, req)
    d = pq.read_table(str(tmp_path / "out.parquet")).to_pydict()
    # goals is empty this tick -> every city is "unmatched"
    assert d["city"] == ["kyiv", "seattle", "vancouver"]
    assert resp.new_offset_interval == OffsetInterval(0, 2)


def test_ledger_schema_evolution_merge(spark, tmp_path):
    """Beyond parity (the reference's engine.rs:235 TODO): in a session
    with ``spark.sql.parquet.mergeSchema=true`` a ledger whose later
    part files added a column reads as the superset schema, early rows
    null-filled; the default session keeps the reference's first-footer
    behavior."""
    from kamu_engine_datafusion_spark.sources.ledger import read_parquet

    p1, p2 = str(tmp_path / "p1.parquet"), str(tmp_path / "p2.parquet")
    pq.write_table(
        pa.table({"offset": pa.array([0], pa.int64()), "city": ["a"]}), p1
    )
    pq.write_table(
        pa.table(
            {
                "offset": pa.array([1], pa.int64()),
                "city": ["b"],
                "population": pa.array([7], pa.int32()),
            }
        ),
        p2,
    )

    assert read_parquet(spark, [p1, p2]).columns == ["offset", "city"]
    session = spark.newSession()
    session.conf.set("spark.sql.parquet.mergeSchema", "true")
    merged = read_parquet(session, [p1, p2])
    assert set(merged.columns) == {"offset", "city", "population"}
    rows = {r["offset"]: r for r in merged.collect()}
    assert rows[0]["population"] is None and rows[1]["population"] == 7
