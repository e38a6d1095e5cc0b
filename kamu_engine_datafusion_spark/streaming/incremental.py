"""Incremental (micro-batch) transform driver.

The reference engine is deliberately batch: *the coordinator* drives
incremental processing by sending each transform request the slice of
every input ledger that is new (``offset_interval``) plus watermark
metadata, and records where the output ledger ended (``src/engine.rs``
A4/A19/A20; SURVEY.md §2 "Streaming-only surface: none").

This module reproduces that coordinator loop as a library so the engine
can be driven end-to-end without kamu-cli: :class:`IncrementalRunner`
tracks per-input read positions and the output's next offset, and each
``tick()`` executes one transform over exactly the unread slices.

At scale each tick is an independent Spark job over the new data only —
the offset-interval predicate prunes old row groups at the scan (tested
in tests/test_plans.py), so a tick's cost is proportional to the
increment, not the ledger.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from kamu_engine_datafusion_spark.plans.transform import execute_transform
from kamu_engine_datafusion_spark.plans.types import (
    DatasetVocabulary,
    OffsetInterval,
    SqlQueryStep,
    TransformRequest,
    TransformRequestInput,
    TransformResponse,
    Watermark,
)


@dataclass
class LedgerInput:
    """One input ledger directory: ``<dir>/*.parquet`` part files plus the
    runner's read position."""

    dataset_alias: str
    query_alias: str
    ledger_dir: str
    vocab: DatasetVocabulary = field(default_factory=DatasetVocabulary)
    next_unread_offset: int = 0
    watermarks: list[Watermark] = field(default_factory=list)

    def part_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.ledger_dir, "*.parquet")))

    def max_offset(self) -> int | None:
        """Highest offset present on disk (ledger files are offset-dense,
        so row counts give it without reading data pages)."""
        total = sum(pq.ParquetFile(p).metadata.num_rows for p in self.part_files())
        return total - 1 if total > 0 else None


@dataclass
class IncrementalRunner:
    """Drives a multi-input SQL transform incrementally, one micro-batch
    per :meth:`tick`, maintaining exactly the state the ODF coordinator
    keeps between requests."""

    spark: SparkSession
    transform: list[SqlQueryStep]
    inputs: list[LedgerInput]
    output_dir: str
    dataset_alias: str = "output"
    vocab: DatasetVocabulary = field(default_factory=DatasetVocabulary)
    next_offset: int = 0
    last_watermark: datetime | None = None
    ticks: int = 0
    #: How a tick's TransformRequest is executed. Default: in-process
    #: ``execute_transform``. A remote coordinator swaps in a transport
    #: shim with the same signature (e.g. gRPC via
    #: ``transport.http_server.transform_request_to_dict`` + the
    #: flatbuffers codec) — the runner's state machine is
    #: transport-agnostic, exactly like the reference coordinator vs
    #: ``src/grpc.rs``.
    executor: Callable[[SparkSession, TransformRequest], TransformResponse] | None = (
        None
    )

    def tick(self, system_time: datetime) -> TransformResponse | None:
        """Run one micro-batch over each input's unread slice. Returns the
        response, or None when no input has new data or some input has
        no part file yet (there is no schema file to offer for it)."""
        req_inputs = []
        any_new = False
        for inp in self.inputs:
            files = inp.part_files()
            if not files:
                return None
            top = inp.max_offset()
            if top is not None and top >= inp.next_unread_offset:
                any_new = True
                req_inputs.append(
                    TransformRequestInput(
                        dataset_alias=inp.dataset_alias,
                        query_alias=inp.query_alias,
                        schema_file=files[0],
                        data_paths=files,
                        offset_interval=OffsetInterval(inp.next_unread_offset, top),
                        vocab=inp.vocab,
                        explicit_watermarks=list(inp.watermarks),
                    )
                )
            else:
                req_inputs.append(
                    TransformRequestInput(
                        dataset_alias=inp.dataset_alias,
                        query_alias=inp.query_alias,
                        schema_file=files[0],
                        data_paths=[],
                        offset_interval=None,
                        vocab=inp.vocab,
                        explicit_watermarks=list(inp.watermarks),
                    )
                )
        if not any_new:
            return None

        os.makedirs(self.output_dir, exist_ok=True)
        out_path = os.path.join(self.output_dir, f"part-{self.ticks:05d}.parquet")
        run = self.executor or execute_transform
        resp = run(
            self.spark,
            TransformRequest(
                dataset_alias=self.dataset_alias,
                system_time=system_time,
                next_offset=self.next_offset,
                vocab=self.vocab,
                transform=self.transform,
                inputs=req_inputs,
                new_data_path=out_path,
            ),
        )
        # advance coordinator state exactly as the protocol implies
        for inp, req_inp in zip(self.inputs, req_inputs):
            if req_inp.offset_interval is not None:
                inp.next_unread_offset = req_inp.offset_interval.end + 1
        if resp.new_offset_interval is not None:
            self.next_offset = resp.new_offset_interval.end + 1
        else:
            os.remove(out_path)  # empty batch: no ledger slice added
        if resp.new_watermark is not None:
            self.last_watermark = resp.new_watermark
        self.ticks += 1
        return resp
