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

A tick's request and bookkeeping scale with the increment, not the
ledger. Each :class:`LedgerInput` reads every part file's footer once
and caches the file's offset span (min/max of the offset column's
statistics, keyed on path, size and mtime so a rewritten file is read
again). A tick lists the directory once and sends only the files whose
span reaches the unread interval, so the engine neither lists, plans
nor opens the consumed history; a file without usable statistics is
always sent. Sending every part file would make each tick pay for the
whole history (past 32 paths Spark even lists them in a parallel job)
only for the offset predicate to discard it. The selection is a
superset: the engine's offset-interval predicate (A4) still decides
which rows are read.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime
from typing import NamedTuple

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


class PartSpan(NamedTuple):
    """What one part file's footer says about its offsets."""

    #: ``(size, mtime_ns)`` of the file the span was read from.
    stamp: tuple[int, int]
    rows: int
    #: First and last offset, or None when a non-empty row group has no
    #: min/max statistics for the offset column.
    offsets: tuple[int, int] | None

    def reaches(self, start: int, end: int) -> bool:
        """Whether the file may hold an offset in ``[start, end]``."""
        if self.rows == 0:
            return False
        return self.offsets is None or (
            self.offsets[0] <= end and self.offsets[1] >= start
        )


def _read_part_span(
    path: str, offset_column: str, stamp: tuple[int, int]
) -> PartSpan:
    """One footer read: the offset span over the file's row groups."""
    with pq.ParquetFile(path) as f:
        md = f.metadata
    lo = hi = None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        cols = [rg.column(j) for j in range(rg.num_columns)]
        stats = next(
            (c.statistics for c in cols if c.path_in_schema == offset_column), None
        )
        if stats is None or not stats.has_min_max:
            return PartSpan(stamp, md.num_rows, None)
        lo = stats.min if lo is None else min(lo, stats.min)
        hi = stats.max if hi is None else max(hi, stats.max)
    return PartSpan(stamp, md.num_rows, None if lo is None else (lo, hi))


@dataclass
class LedgerInput:
    """One input ledger directory: ``<dir>/*.parquet`` part files plus the
    runner's read position and a cache of each part file's offset span."""

    dataset_alias: str
    query_alias: str
    ledger_dir: str
    vocab: DatasetVocabulary = field(default_factory=DatasetVocabulary)
    next_unread_offset: int = 0
    watermarks: list[Watermark] = field(default_factory=list)
    _spans: dict[str, PartSpan] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def part_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.ledger_dir, "*.parquet")))

    def spans(self, files: list[str]) -> list[PartSpan]:
        """The span of each listed file, reading only footers not yet
        cached for the file's current size and mtime; entries for files
        no longer listed are dropped."""
        spans = {}
        for p in files:
            st = os.stat(p)
            stamp = (st.st_size, st.st_mtime_ns)
            cached = self._spans.get(p)
            if cached is None or cached.stamp != stamp:
                cached = _read_part_span(p, self.vocab.offset_column, stamp)
            spans[p] = cached
        self._spans = spans
        return [spans[p] for p in files]

    def max_offset(self) -> int | None:
        """Highest offset present on disk, from the cached footer spans:
        the largest offset-statistics maximum, so no data page is read
        and no unchanged footer is read twice. If some file has no
        statistics, the dense-ledger rule (total row count minus one)
        also bounds it. On an offset-dense ledger both give the same
        number."""
        return _top_offset(self.spans(self.part_files()))


def _top_offset(spans: list[PartSpan]) -> int | None:
    """The highest offset the spans hold (see ``LedgerInput.max_offset``)."""
    tops = [s.offsets[1] for s in spans if s.rows and s.offsets is not None]
    if any(s.rows and s.offsets is None for s in spans):
        tops.append(sum(s.rows for s in spans) - 1)
    return max(tops, default=None)


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
            spans = inp.spans(files)
            top = _top_offset(spans)
            if top is not None and top >= inp.next_unread_offset:
                any_new = True
                interval = OffsetInterval(inp.next_unread_offset, top)
                paths = [
                    p
                    for p, s in zip(files, spans)
                    if s.reaches(interval.start, interval.end)
                ]
            else:
                interval, paths = None, []
            req_inputs.append(
                TransformRequestInput(
                    dataset_alias=inp.dataset_alias,
                    query_alias=inp.query_alias,
                    schema_file=files[0],
                    data_paths=paths,
                    offset_interval=interval,
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
