"""ODF engine protocol DTOs (plain Python dataclasses).

These mirror the Open Data Fabric engine-protocol messages the reference
consumes over gRPC/FlatBuffers (reference request construction visible at
``tests/tests/test_transform.rs:239-274``; vocabulary at
``tests/tests/test_regressions.rs:127-132``). We are a library-first
build, so the transport is a Python call; the DTO shapes are the contract.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime


class ExecuteTransformError(Exception):
    """Base class for structured engine errors (reference: EngineError)."""


class InvalidQueryError(ExecuteTransformError):
    """The SQL failed to parse/analyze or violated the output contract.

    Reference maps DataFusion plan errors and contract violations to
    ``ExecuteTransformError::InvalidQuery`` (``src/engine.rs:287-296``,
    ``src/engine.rs:375-473``) rather than crashing.
    """


class InternalError(ExecuteTransformError):
    """Any non-contract engine failure, carrying the formatted backtrace.

    Reference maps every error that is not an InvalidQuery to
    ``InternalError{message, backtrace}`` with the full source chain at
    the transport boundary (``src/grpc.rs:39-69``).
    """

    def __init__(self, message: str, backtrace: str = ""):
        super().__init__(message)
        self.backtrace = backtrace


@dataclass(frozen=True)
class DatasetVocabulary:
    """Per-dataset names of the four system columns.

    Defaults match the reference defaults used throughout its tests
    (``tests/tests/test_transform.rs:58-81``).
    """

    offset_column: str = "offset"
    operation_type_column: str = "op"
    system_time_column: str = "system_time"
    event_time_column: str = "event_time"


#: ODF changelog operation codes (enum values visible in the reference's
#: golden output, ``tests/tests/test_transform.rs:802-812``).
OP_APPEND = 0
OP_RETRACT = 1
OP_CORRECT_FROM = 2
OP_CORRECT_TO = 3


@dataclass(frozen=True)
class OffsetInterval:
    """Closed interval [start, end] of ledger offsets (``src/engine.rs:256-262``)."""

    start: int
    end: int


@dataclass(frozen=True)
class Watermark:
    """Explicit watermark metadata attached to an input
    (``tests/tests/test_transform.rs:443-452``)."""

    system_time: datetime
    event_time: datetime


@dataclass(frozen=True)
class SqlQueryStep:
    """One step of a multi-step transform; ``alias=None`` marks the final
    step whose result becomes the output (``src/engine.rs:276-308``)."""

    query: str
    alias: str | None = None


@dataclass
class TransformRequestInput:
    """One input ledger dataset slice.

    Invariant from the reference (``src/engine.rs:193-196``): ``data_paths``
    is non-empty iff ``offset_interval`` is Some; an input with no new data
    is schema-only (``schema_file`` + empty ``data_paths``).
    """

    dataset_alias: str
    query_alias: str
    schema_file: str
    data_paths: list[str] = field(default_factory=list)
    offset_interval: OffsetInterval | None = None
    vocab: DatasetVocabulary = field(default_factory=DatasetVocabulary)
    explicit_watermarks: list[Watermark] = field(default_factory=list)
    #: Stable dataset identity (DID string). The reference carries it for
    #: tracing only (``src/engine.rs:186``); held, not interpreted.
    dataset_id: str | None = None

    def __post_init__(self) -> None:
        if (len(self.data_paths) > 0) != (self.offset_interval is not None):
            raise InvalidQueryError(
                f"input {self.query_alias!r}: data_paths must be non-empty "
                "iff offset_interval is set (reference invariant, "
                "src/engine.rs:193-196)"
            )


@dataclass
class TransformRequest:
    """ExecuteTransform request (reference ``src/engine.rs:127-136``)."""

    dataset_alias: str
    system_time: datetime
    next_offset: int
    vocab: DatasetVocabulary
    transform: list[SqlQueryStep]
    inputs: list[TransformRequestInput]
    new_data_path: str
    prev_checkpoint_path: str | None = None
    new_checkpoint_path: str | None = None
    #: Stable dataset identity (DID string); reference tracing-only.
    dataset_id: str | None = None


@dataclass
class TransformResponse:
    """ExecuteTransform success response (``src/engine.rs:173-183``)."""

    new_offset_interval: OffsetInterval | None
    new_watermark: datetime | None


@dataclass
class RawQueryRequest:
    """ExecuteRawQuery request (``src/engine.rs:56-62``)."""

    input_data_paths: list[str]
    transform: list[SqlQueryStep]
    output_data_path: str


@dataclass
class RawQueryResponse:
    """ExecuteRawQuery success response (``src/engine.rs:124``)."""

    num_records: int
