"""HTTP/JSON transport façade (stdlib-only) over the Engine.

Endpoints (mirroring the reference's two RPCs, ``src/grpc.rs:74-182``):

- ``POST /execute_transform``  — TransformRequest JSON → response JSON
- ``POST /execute_raw_query``  — RawQueryRequest JSON → response JSON

Error envelope parity: InvalidQuery → 400 with ``{"error": "invalid_query",
"message"}``; anything else → 500 with ``{"error": "internal", "message",
"backtrace"}`` (reference ``src/grpc.rs:39-69``).

Timestamps travel as ISO-8601 strings; offsets/intervals as plain ints.
"""

from __future__ import annotations

import json
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from kamu_engine_datafusion_spark.plans.transform import Engine
from kamu_engine_datafusion_spark.plans.types import (
    DatasetVocabulary,
    InternalError,
    InvalidQueryError,
    OffsetInterval,
    RawQueryRequest,
    SqlQueryStep,
    TransformRequest,
    TransformRequestInput,
    Watermark,
)


def _ts(s: str) -> datetime:
    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def _steps(raw: list[dict]) -> list[SqlQueryStep]:
    return [SqlQueryStep(query=s["query"], alias=s.get("alias")) for s in raw]


def _transform_steps(raw) -> list[SqlQueryStep]:
    """Accept both wire shapes for ``transform``:

    - the reference's ``Transform::Sql`` envelope
      ``{engine, version, query, queries, temporal_tables}``
      (``tests/tests/test_transform.rs:246-253``) — the reference engine
      reads only ``queries`` (``src/engine.rs:139-140``, unwrap), with
      the coordinator having normalized a bare ``query`` into a
      single-step ``queries`` list; we accept either, like the DTO does;
    - the legacy flat list of ``{query, alias}`` steps.
    """
    if isinstance(raw, dict):
        queries = raw.get("queries")
        if queries is None:
            if raw.get("query") is None:
                raise KeyError("transform.queries")
            queries = [{"query": raw["query"], "alias": None}]
        return _steps(queries)
    return _steps(raw)


def classify_error(e: Exception) -> tuple[bool, str, str]:
    """The one error mapping both transports render (reference
    ``src/grpc.rs:39-69``): ``(invalid_query, message, backtrace)``.
    Contract violations and malformed requests (a missing key, a wrong
    type, undecodable JSON) are InvalidQuery; everything else is an
    InternalError, with the engine's backtrace when it has one."""
    if isinstance(e, InvalidQueryError):
        return True, str(e), ""
    if isinstance(e, InternalError):
        return False, str(e), e.backtrace or ""
    if isinstance(e, (KeyError, TypeError, ValueError)):
        return True, f"malformed request: {e!r}", ""
    return False, str(e), ""


def parse_raw_query_request(body: dict) -> RawQueryRequest:
    return RawQueryRequest(
        input_data_paths=body["input_data_paths"],
        transform=_transform_steps(body["transform"]),
        output_data_path=body["output_data_path"],
    )


def _vocab(raw: dict | None) -> DatasetVocabulary:
    return DatasetVocabulary(**raw) if raw else DatasetVocabulary()


def parse_transform_request(body: dict) -> TransformRequest:
    inputs = []
    # "query_inputs" is the reference field name
    # (tests/tests/test_transform.rs:254); "inputs" kept as an alias
    raw_inputs = body.get("query_inputs")
    if raw_inputs is None:
        raw_inputs = body["inputs"]
    for i in raw_inputs:
        oi = i.get("offset_interval")
        inputs.append(
            TransformRequestInput(
                dataset_id=i.get("dataset_id"),
                dataset_alias=i["dataset_alias"],
                query_alias=i["query_alias"],
                schema_file=i["schema_file"],
                data_paths=i.get("data_paths", []),
                offset_interval=OffsetInterval(oi["start"], oi["end"]) if oi else None,
                vocab=_vocab(i.get("vocab")),
                explicit_watermarks=[
                    Watermark(_ts(w["system_time"]), _ts(w["event_time"]))
                    for w in i.get("explicit_watermarks", [])
                ],
            )
        )
    return TransformRequest(
        dataset_id=body.get("dataset_id"),
        dataset_alias=body["dataset_alias"],
        system_time=_ts(body["system_time"]),
        next_offset=body["next_offset"],
        vocab=_vocab(body.get("vocab")),
        transform=_transform_steps(body["transform"]),
        inputs=inputs,
        new_data_path=body["new_data_path"],
        prev_checkpoint_path=body.get("prev_checkpoint_path"),
        new_checkpoint_path=body.get("new_checkpoint_path"),
    )


def transform_request_to_dict(req: TransformRequest) -> dict:
    """Wire-shape serializer — the inverse of
    :func:`parse_transform_request`, for a coordinator running in a
    DIFFERENT process than the engine: a :class:`TransformRequest`
    round-trips through this dict → flatbuffers/JSON → engine-side
    parse unchanged (pinned by the coordinator soak test)."""

    def _iso(dt: datetime) -> str:
        return dt.isoformat()

    return {
        "dataset_id": req.dataset_id,
        "dataset_alias": req.dataset_alias,
        "system_time": _iso(req.system_time),
        "next_offset": req.next_offset,
        "vocab": {
            "offset_column": req.vocab.offset_column,
            "operation_type_column": req.vocab.operation_type_column,
            "system_time_column": req.vocab.system_time_column,
            "event_time_column": req.vocab.event_time_column,
        },
        "transform": {
            "engine": "spark",
            "queries": [
                {"query": s.query, "alias": s.alias} for s in req.transform
            ],
        },
        "query_inputs": [
            {
                "dataset_id": i.dataset_id,
                "dataset_alias": i.dataset_alias,
                "query_alias": i.query_alias,
                "schema_file": i.schema_file,
                "data_paths": list(i.data_paths),
                "offset_interval": (
                    {
                        "start": i.offset_interval.start,
                        "end": i.offset_interval.end,
                    }
                    if i.offset_interval
                    else None
                ),
                "vocab": {
                    "offset_column": i.vocab.offset_column,
                    "operation_type_column": i.vocab.operation_type_column,
                    "system_time_column": i.vocab.system_time_column,
                    "event_time_column": i.vocab.event_time_column,
                },
                "explicit_watermarks": [
                    {
                        "system_time": _iso(w.system_time),
                        "event_time": _iso(w.event_time),
                    }
                    for w in i.explicit_watermarks
                ],
            }
            for i in req.inputs
        ],
        "prev_checkpoint_path": req.prev_checkpoint_path,
        "new_checkpoint_path": req.new_checkpoint_path,
        "new_data_path": req.new_data_path,
    }


def serve(spark: SparkSession, port: int = 2884) -> ThreadingHTTPServer:
    """Start the façade on a background thread; returns the server
    (call ``.shutdown()`` to stop). Port default mirrors the reference
    (``src/main.rs:20``)."""
    engine = Engine(spark)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _reply(self, code: int, payload: dict) -> None:
            data = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self):  # noqa: N802 (stdlib API name)
            # Body parsing stays inside the try: malformed JSON and missing
            # required keys must come back as the structured error envelope,
            # not a closed connection (reference src/grpc.rs:39-69 wraps the
            # whole call the same way).
            try:
                body = json.loads(
                    self.rfile.read(int(self.headers.get("Content-Length", 0)))
                )
                if self.path == "/execute_transform":
                    resp = engine.execute_transform(parse_transform_request(body))
                    oi = resp.new_offset_interval
                    self._reply(
                        200,
                        {
                            "new_offset_interval": (
                                {"start": oi.start, "end": oi.end} if oi else None
                            ),
                            "new_watermark": (
                                resp.new_watermark.isoformat()
                                if resp.new_watermark
                                else None
                            ),
                        },
                    )
                elif self.path == "/execute_raw_query":
                    resp = engine.execute_raw_query(
                        parse_raw_query_request(body)
                    )
                    self._reply(200, {"num_records": resp.num_records})
                else:
                    self._reply(404, {"error": "not_found"})
            except Exception as e:  # never drop the connection
                invalid, message, backtrace = classify_error(e)
                if invalid:
                    self._reply(
                        400, {"error": "invalid_query", "message": message}
                    )
                else:
                    self._reply(
                        500,
                        {
                            "error": "internal",
                            "message": message,
                            "backtrace": backtrace,
                        },
                    )

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
