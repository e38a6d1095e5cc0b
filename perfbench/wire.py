"""A closed-loop gRPC client for the engine's ``serve_grpc`` transport.

One HTTP/2 connection (prior knowledge, cleartext), one stream per call,
each call waiting for its trailers before the next is sent. Messages use
the ODF envelope: a protobuf ``bytes flatbuffer = 1`` field around the
FlatBuffers payload, framed as a gRPC length-prefixed message.
"""

from __future__ import annotations

import socket
from datetime import datetime

from kamu_engine_datafusion_spark.plans.types import OffsetInterval, TransformResponse
from kamu_engine_datafusion_spark.transport import odf_flatbuffers as fb
from kamu_engine_datafusion_spark.transport.grpc_server import (
    grpc_frame,
    grpc_unframe,
    proto_unwrap,
    proto_wrap,
)
from kamu_engine_datafusion_spark.transport.hpack import HpackDecoder, _write_int
from kamu_engine_datafusion_spark.transport.http2 import (
    F_DATA,
    F_GOAWAY,
    F_HEADERS,
    F_PING,
    F_RST_STREAM,
    F_SETTINGS,
    FLAG_ACK,
    FLAG_END_HEADERS,
    FLAG_END_STREAM,
    PREFACE,
    pack_frame,
)

TRANSFORM = "/engine.Engine/ExecuteTransform"
RAW_QUERY = "/engine.Engine/ExecuteRawQuery"


class RpcError(RuntimeError):
    """A call that did not end in a Success response union with
    ``grpc-status: 0``."""


def _literal_headers(path: str) -> bytes:
    """HPACK literal-without-indexing header block (no Huffman)."""
    out = bytearray()
    for name, value in (
        (":method", "POST"),
        (":scheme", "http"),
        (":path", path),
        (":authority", "127.0.0.1"),
        ("content-type", "application/grpc"),
        ("te", "trailers"),
    ):
        out.append(0x00)
        out += _write_int(len(name), 7, 0) + name.encode()
        out += _write_int(len(value), 7, 0) + value.encode()
    return bytes(out)


class GrpcClient:
    def __init__(self, port: int) -> None:
        # A request outliving the benchmark's own time limit is a failure.
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=170.0)
        self.decoder = HpackDecoder()
        self.stream_id = 1
        self.sock.sendall(PREFACE + pack_frame(F_SETTINGS, 0, 0, b""))

    def close(self) -> None:
        self.sock.close()

    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed the connection")
            buf += chunk
        return bytes(buf)

    def call(self, path: str, flatbuffer: bytes) -> bytes:
        """Send one unary request; return the response FlatBuffers
        payload, or raise :class:`RpcError` on a non-zero grpc-status."""
        sid = self.stream_id
        self.stream_id += 2
        self.sock.sendall(
            pack_frame(F_HEADERS, FLAG_END_HEADERS, sid, _literal_headers(path))
            + pack_frame(F_DATA, FLAG_END_STREAM, sid, grpc_frame(proto_wrap(flatbuffer)))
        )
        headers: dict[str, str] = {}
        body = bytearray()
        while True:
            head = self._recv_exact(9)
            length = int.from_bytes(head[:3], "big")
            ftype, flags = head[3], head[4]
            payload = self._recv_exact(length) if length else b""
            if ftype == F_SETTINGS and not flags & FLAG_ACK:
                self.sock.sendall(pack_frame(F_SETTINGS, FLAG_ACK, 0, b""))
            elif ftype == F_PING and not flags & FLAG_ACK:
                self.sock.sendall(pack_frame(F_PING, FLAG_ACK, 0, payload))
            elif ftype == F_HEADERS:
                headers.update(self.decoder.decode(payload))
            elif ftype == F_DATA:
                body += payload
            elif ftype in (F_GOAWAY, F_RST_STREAM):
                raise ConnectionError(f"stream {sid} reset (frame type {ftype})")
            if ftype in (F_HEADERS, F_DATA) and flags & FLAG_END_STREAM:
                break
        status = headers.get("grpc-status")
        if status != "0":
            raise RpcError(f"grpc-status {status}: {headers.get('grpc-message', '')}")
        msgs = grpc_unframe(bytes(body))
        if len(msgs) != 1:
            raise RpcError(f"expected one response message, got {len(msgs)}")
        return proto_unwrap(msgs[0])


def decode_success(payload: bytes, success_layout: str) -> dict:
    kind, resp = fb.decode_response(payload, success_layout)
    if kind != fb.UNION_SUCCESS:
        raise RpcError(f"response union {kind}: {resp.get('message', '')[:300]}")
    return resp


def to_transform_response(resp: dict) -> TransformResponse:
    oi = resp.get("new_offset_interval")
    wm = resp.get("new_watermark")
    return TransformResponse(
        new_offset_interval=OffsetInterval(oi["start"], oi["end"]) if oi else None,
        new_watermark=datetime.fromisoformat(wm.replace("Z", "+00:00")) if wm else None,
    )


def execute_transform(client: GrpcClient, body: dict) -> TransformResponse:
    payload = client.call(TRANSFORM, fb.encode_transform_request(body))
    return to_transform_response(decode_success(payload, "TransformResponseSuccess"))


def execute_raw_query(client: GrpcClient, body: dict) -> int:
    payload = client.call(RAW_QUERY, fb.encode_raw_query_request(body))
    return decode_success(payload, "RawQueryResponseSuccess")["num_records"]
