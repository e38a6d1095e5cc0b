"""Shared pytest fixtures: one local SparkSession + the canonical
`cities` ledger fixture (reference `tests/tests/test_transform.rs:51-125`)."""

from __future__ import annotations

import os
import sys
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kamu_engine_datafusion_spark.session import odf_session

UTC = timezone.utc
T0 = datetime(2023, 1, 1, tzinfo=UTC)  # event_time of all fixture rows
SYSTEM_TIME = datetime(2023, 2, 1, tzinfo=UTC)  # request system_time


@pytest.fixture(scope="session")
def spark():
    # Four task threads and four shuffle partitions: still multi-partition
    # everywhere (partition-invariance tests repartition explicitly), but
    # not oversubscribed on a 4-core host, where local[8] cost about a
    # fifth more wall time per small job.
    s = odf_session("odf-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def write_cities_ledger(
    path: str,
    rows: list[tuple] | None = None,
    ops: list[int] | None = None,
) -> str:
    """The canonical golden-test input (reference
    ``tests/tests/test_transform.rs:58-81`` schema, ``:206-233`` rows)."""
    if rows is None:
        rows = [
            ("vancouver", 675000),
            ("seattle", 733000),
            ("kyiv", 2884000),
        ]
    n = len(rows)
    if ops is None:
        ops = [0] * n
    tbl = pa.table(
        {
            "offset": pa.array(range(n), pa.int64()),
            "op": pa.array(ops, pa.int32()),
            "system_time": pa.array([datetime(2023, 1, 1, tzinfo=UTC)] * n,
                                    pa.timestamp("ms", "UTC")),
            "event_time": pa.array([T0] * n, pa.timestamp("ms", "UTC")),
            "city": pa.array([r[0] for r in rows]),
            "population": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, path)
    return path
