"""gRPC transport for the ODF engine protocol — stdlib-only.

Serves the reference's two RPCs over real gRPC semantics on cleartext
HTTP/2 (prior knowledge), default port 2884
(``/root/reference/src/main.rs:20``):

- ``/engine.Engine/ExecuteRawQuery``   (unary → server streaming)
- ``/engine.Engine/ExecuteTransform``  (unary → server streaming)

Each gRPC message is the protobuf envelope the ODF protocol defines —
one length-delimited ``bytes flatbuffer = 1`` field — wrapping a
FlatBuffers payload (``src/grpc.rs:84-86,115-121``). Engine outcomes
map to the response UNION exactly like the reference
(``src/grpc.rs:95-110``): Success / InvalidQuery / InternalError all
travel as a normal response message with ``grpc-status: 0``; only
transport-level failures (bad route, undecodable request) surface as
non-zero gRPC status codes in the trailers.

No grpcio/grpclib/protobuf/flatbuffers package exists in this
environment and there is no network access to install one, so the
protocol stack is implemented from the public RFCs/specs:
``http2.py`` (RFC 9113 subset) + ``hpack.py`` (RFC 7541, validated
against the RFC's own test vectors) + ``odf_flatbuffers.py``.
"""

from __future__ import annotations

import struct

from pyspark.sql import SparkSession

from kamu_engine_datafusion_spark.plans.transform import Engine
from kamu_engine_datafusion_spark.transport import odf_flatbuffers as fb
from kamu_engine_datafusion_spark.transport.http2 import H2Server
from kamu_engine_datafusion_spark.transport.http_server import (
    classify_error,
    parse_raw_query_request,
    parse_transform_request,
)

GRPC_OK = "0"
GRPC_UNIMPLEMENTED = "12"
GRPC_INTERNAL = "13"


# -- protobuf envelope: message { bytes flatbuffer = 1; } -------------------


def proto_wrap(flatbuffer: bytes) -> bytes:
    out = bytearray([0x0A])  # field 1, wire type 2 (length-delimited)
    n = len(flatbuffer)
    while n >= 0x80:
        out.append(0x80 | (n & 0x7F))
        n >>= 7
    out.append(n)
    return bytes(out) + flatbuffer


def proto_unwrap(msg: bytes) -> bytes:
    if not msg or msg[0] != 0x0A:
        raise ValueError("expected protobuf field 1 (bytes)")
    n = 0
    shift = 0
    pos = 1
    while True:
        b = msg[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
    return msg[pos : pos + n]


# -- gRPC message framing: 1-byte compressed flag + u32 BE length -----------


def grpc_frame(msg: bytes) -> bytes:
    return b"\x00" + struct.pack("!I", len(msg)) + msg


def grpc_unframe(body: bytes) -> list[bytes]:
    msgs = []
    pos = 0
    while pos + 5 <= len(body):
        compressed = body[pos]
        if compressed:
            raise ValueError("compressed gRPC messages not supported")
        (n,) = struct.unpack_from("!I", body, pos + 1)
        msgs.append(body[pos + 5 : pos + 5 + n])
        pos += 5 + n
    return msgs


def _error_response(e: Exception) -> bytes:
    invalid, message, backtrace = classify_error(e)
    if invalid:
        return fb.encode_response(
            fb.UNION_INVALID_QUERY,
            "ResponseInvalidQuery",
            {"message": message},
        )
    return fb.encode_response(
        fb.UNION_INTERNAL_ERROR,
        "ResponseInternalError",
        {"message": message, "backtrace": backtrace},
    )


def serve_grpc(spark: SparkSession, port: int = 2884) -> H2Server:
    """Start the gRPC transport on a background thread; returns the
    server (call ``.shutdown()`` to stop)."""
    engine = Engine(spark)

    def run_transform(payload: bytes) -> bytes:
        body = fb.decode_transform_request(payload)
        try:
            resp = engine.execute_transform(parse_transform_request(body))
            oi = resp.new_offset_interval
            return fb.encode_response(
                fb.UNION_SUCCESS,
                "TransformResponseSuccess",
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
        except Exception as e:  # reference src/grpc.rs:39-69 error chain
            return _error_response(e)

    def run_raw_query(payload: bytes) -> bytes:
        body = fb.decode_raw_query_request(payload)
        try:
            resp = engine.execute_raw_query(parse_raw_query_request(body))
            return fb.encode_response(
                fb.UNION_SUCCESS,
                "RawQueryResponseSuccess",
                {"num_records": resp.num_records},
            )
        except Exception as e:
            return _error_response(e)

    def handler(headers: dict, body: bytes, respond) -> None:
        path = headers.get(":path", "")
        method = path.rsplit("/", 1)[-1]
        if method not in ("ExecuteTransform", "ExecuteRawQuery"):
            respond.send_headers(
                [
                    (":status", "200"),
                    ("content-type", "application/grpc"),
                    ("grpc-status", GRPC_UNIMPLEMENTED),
                    ("grpc-message", f"unknown method {path}"),
                ],
                end_stream=True,
            )
            return
        try:
            msgs = grpc_unframe(body)
            payload = proto_unwrap(msgs[0])
            out_fb = (
                run_transform(payload)
                if method == "ExecuteTransform"
                else run_raw_query(payload)
            )
        except Exception as e:
            respond.send_headers(
                [
                    (":status", "200"),
                    ("content-type", "application/grpc"),
                    ("grpc-status", GRPC_INTERNAL),
                    ("grpc-message", str(e)[:200]),
                ],
                end_stream=True,
            )
            return
        respond.send_headers(
            [(":status", "200"), ("content-type", "application/grpc")]
        )
        respond.send_data(grpc_frame(proto_wrap(out_fb)))
        respond.send_trailers([("grpc-status", GRPC_OK)])

    server = H2Server(("127.0.0.1", port), handler)
    return server.serve_background()
