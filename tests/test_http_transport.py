"""HTTP/JSON transport façade: the two RPCs end-to-end over a socket,
including the error envelope."""

from __future__ import annotations

import json
import urllib.request

import pyarrow.parquet as pq
import pytest

from kamu_engine_datafusion_spark.transport.http_server import serve
from tests.conftest import write_cities_ledger


@pytest.fixture(scope="module")
def server(spark):
    s = serve(spark, port=28841)
    yield "http://127.0.0.1:28841"
    s.shutdown()


def _post(url: str, path: str, body: dict):
    req = urllib.request.Request(
        url + path,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_execute_transform_over_http(server, tmp_path):
    ledger = write_cities_ledger(str(tmp_path / "cities.parquet"))
    out = str(tmp_path / "out.parquet")
    status, resp = _post(
        server,
        "/execute_transform",
        {
            "dataset_alias": "bar",
            "system_time": "2023-02-01T00:00:00Z",
            "next_offset": 5,
            "transform": [
                {
                    "query": "select event_time, city, population + 1 "
                    "as population from foo"
                }
            ],
            "inputs": [
                {
                    "dataset_alias": "foo",
                    "query_alias": "foo",
                    "schema_file": ledger,
                    "data_paths": [ledger],
                    "offset_interval": {"start": 0, "end": 2},
                    "explicit_watermarks": [
                        {
                            "system_time": "2023-01-02T00:00:00Z",
                            "event_time": "2023-01-01T00:00:00Z",
                        }
                    ],
                }
            ],
            "new_data_path": out,
        },
    )
    assert status == 200
    assert resp["new_offset_interval"] == {"start": 5, "end": 7}
    assert resp["new_watermark"].startswith("2023-01-01")
    assert pq.ParquetFile(out).metadata.num_rows == 3


def test_raw_query_over_http(server, tmp_path):
    ledger = write_cities_ledger(str(tmp_path / "cities.parquet"))
    out = str(tmp_path / "raw.parquet")
    status, resp = _post(
        server,
        "/execute_raw_query",
        {
            "input_data_paths": [ledger],
            "transform": [{"query": "select city from input"}],
            "output_data_path": out,
        },
    )
    assert status == 200 and resp["num_records"] == 3


def test_raw_query_accepts_transform_sql_envelope(server, tmp_path):
    """The reference ``Transform::Sql`` envelope ``{"queries": [...]}``
    parses over HTTP exactly as it does over gRPC."""
    ledger = write_cities_ledger(str(tmp_path / "cities.parquet"))
    out = str(tmp_path / "raw.parquet")
    status, resp = _post(
        server,
        "/execute_raw_query",
        {
            "input_data_paths": [ledger],
            "transform": {
                "engine": "spark",
                "queries": [{"query": "select city from input"}],
            },
            "output_data_path": out,
        },
    )
    assert (status, resp) == (200, {"num_records": 3})
    assert pq.ParquetFile(out).metadata.num_rows == 3


def test_data_paths_without_offset_interval_maps_to_400(server, tmp_path):
    ledger = write_cities_ledger(str(tmp_path / "cities.parquet"))
    status, resp = _post(
        server,
        "/execute_transform",
        {
            "dataset_alias": "bar",
            "system_time": "2023-02-01T00:00:00Z",
            "next_offset": 0,
            "transform": [{"query": "select event_time, city from foo"}],
            "inputs": [
                {
                    "dataset_alias": "foo",
                    "query_alias": "foo",
                    "schema_file": ledger,
                    "data_paths": [ledger],
                }
            ],
            "new_data_path": str(tmp_path / "out.parquet"),
        },
    )
    assert status == 400
    assert resp["error"] == "invalid_query"
    assert "offset_interval" in resp["message"]


def test_invalid_query_maps_to_400(server, tmp_path):
    ledger = write_cities_ledger(str(tmp_path / "cities.parquet"))
    status, resp = _post(
        server,
        "/execute_raw_query",
        {
            "input_data_paths": [ledger],
            "transform": [{"query": "select nonsense_column from input"}],
            "output_data_path": str(tmp_path / "x.parquet"),
        },
    )
    assert status == 400
    assert resp["error"] == "invalid_query"


def test_internal_error_maps_to_500(server, tmp_path):
    status, resp = _post(
        server,
        "/execute_raw_query",
        {
            "input_data_paths": [str(tmp_path / "missing.parquet")],
            "transform": [{"query": "select 1"}],
            "output_data_path": str(tmp_path / "x.parquet"),
        },
    )
    assert status == 500
    assert resp["error"] == "internal" and resp["backtrace"]


def test_malformed_json_maps_to_400_envelope(server):
    """A syntactically-broken body must come back as the structured error
    envelope, not a dropped connection."""
    req = urllib.request.Request(
        server + "/execute_transform",
        data=b"{not json",
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            status, body = r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        status, body = e.code, json.loads(e.read())
    assert status == 400
    assert body["error"] == "invalid_query"


def test_missing_required_key_maps_to_400_envelope(server):
    status, body = _post(server, "/execute_transform", {"inputs": []})
    assert status == 400
    assert body["error"] == "invalid_query"
    assert "dataset_alias" in body["message"]
