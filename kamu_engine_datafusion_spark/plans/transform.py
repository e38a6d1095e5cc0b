"""The ODF transform lifecycle (reference operators A6, A7, A19–A21).

Re-implements both engine entry points of the reference
(``src/engine.rs:127`` ``execute_transform``; ``src/engine.rs:56``
``execute_raw_query``) on Spark:

coordinator request
  → per-request session namespace (reference: fresh ``SessionContext``,
    ``src/engine.rs:34-54``) — ``spark.newSession()`` shares the JVM/
    SparkContext but isolates temp views & runtime conf
  → register each input as a temp view, offset-sliced          (A1–A5)
  → run each SQL step, registering its result as a view;
    the last (alias-less) step becomes ``__output__``          (A6–A7)
  → normalize timestamps / op column                           (A8–A9)
  → validate output contract                                   (A10–A12)
  → inject system columns                                      (A13–A16)
  → single snappy Parquet file + row count                     (A17–A18)
  → watermark propagation + offset-interval accounting         (A19–A20)

Everything up to the sink is lazy plan construction — Catalyst sees the
whole chain (input filters fold into the Parquet scan, views inline into
one optimized plan) and nothing executes until the write, exactly like
DataFusion's lazy DataFrames in the reference (SURVEY.md §3).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession

from kamu_engine_datafusion_spark.operators.normalize import normalize_raw_result
from kamu_engine_datafusion_spark.operators.system_columns import with_system_columns
from kamu_engine_datafusion_spark.operators.validate import validate_raw_result
from kamu_engine_datafusion_spark.plans.types import (
    DatasetVocabulary,
    InvalidQueryError,
    OffsetInterval,
    RawQueryRequest,
    RawQueryResponse,
    SqlQueryStep,
    TransformRequest,
    TransformResponse,
)
from kamu_engine_datafusion_spark.session import tune_session
from kamu_engine_datafusion_spark.sources.ledger import read_parquet, register_input
from kamu_engine_datafusion_spark.sources.sink import write_parquet_single_file

#: Name the final (alias-less) step's view is registered under
#: (reference ``OUTPUT_VIEW_NAME``, ``src/engine.rs:28``).
OUTPUT_VIEW_NAME = "__output__"


def register_view_for_step(spark: SparkSession, name: str, query: str) -> None:
    """A6+A7: parse/analyze one SQL step and register it as a named view.

    Spark analyzes eagerly on ``spark.sql`` — parse + resolution errors
    surface here and map to the reference's structured ``InvalidQuery``
    (``src/engine.rs:287-296``), never a crash.
    """
    try:
        step_df = spark.sql(query)
    except (ParseException, AnalysisException) as e:
        raise InvalidQueryError(str(e)) from e
    step_df.createOrReplaceTempView(name)


def run_transform_steps(
    spark: SparkSession, steps: list[SqlQueryStep]
) -> DataFrame:
    """A6: run a multi-step SQL transform; each aliased step becomes a view
    visible to later steps; the final step becomes ``__output__``
    (``src/engine.rs:139-150``)."""
    for step in steps:
        register_view_for_step(spark, step.alias or OUTPUT_VIEW_NAME, step.query)
    return spark.table(OUTPUT_VIEW_NAME)


def compute_new_watermark(request: TransformRequest) -> datetime | None:
    """A19: output watermark = min over inputs *that carry watermarks* of
    each input's max explicit watermark event_time; None when no input
    has any (``src/engine.rs:310-324``). Driver-side metadata arithmetic,
    deliberately not a Spark job."""
    per_input = [
        max(w.event_time for w in inp.explicit_watermarks)
        for inp in request.inputs
        if inp.explicit_watermarks
    ]
    return min(per_input) if per_input else None


def execute_transform(
    spark: SparkSession, request: TransformRequest
) -> TransformResponse:
    """Entry point 1 (reference ``src/engine.rs:127-183``).

    Raises :class:`InvalidQueryError` for bad SQL or contract violations;
    any other exception is an internal error (reference maps those to
    ``InternalError`` at the transport layer, ``src/grpc.rs:39-69``).
    """
    session = tune_session(spark.newSession())

    for inp in request.inputs:
        register_input(session, inp)

    df = run_transform_steps(session, request.transform)
    df = normalize_raw_result(df, request.vocab)
    validate_raw_result(df, request.vocab)
    df = with_system_columns(
        df, request.vocab, request.system_time, request.next_offset
    )

    num_rows = write_parquet_single_file(df, request.new_data_path)

    new_offset_interval = (
        OffsetInterval(
            start=request.next_offset, end=request.next_offset + num_rows - 1
        )
        if num_rows != 0
        else None
    )
    return TransformResponse(
        new_offset_interval=new_offset_interval,
        new_watermark=compute_new_watermark(request),
    )


#: Name the raw-query input table is registered under
#: (reference ``INPUT_VIEW_NAME``, ``src/engine.rs:29``).
INPUT_VIEW_NAME = "input"


def execute_raw_query(
    spark: SparkSession, request: RawQueryRequest
) -> RawQueryResponse:
    """Entry point 2 (A21, reference ``src/engine.rs:56-125``): same
    pipeline minus validation and system columns — register inputs as
    table ``input``, run steps, normalize timestamps (default vocab),
    write a single Parquet file, return the record count."""
    session = tune_session(spark.newSession())

    df = read_parquet(session, request.input_data_paths)
    df.createOrReplaceTempView(INPUT_VIEW_NAME)

    out = run_transform_steps(session, request.transform)
    out = normalize_raw_result(out, DatasetVocabulary())

    num_records = write_parquet_single_file(out, request.output_data_path)
    return RawQueryResponse(num_records=num_records)


class Engine:
    """Library-first façade matching the reference's ``Engine`` struct
    (``src/engine.rs:25``): stateless, one SparkSession shared across
    requests with per-request view namespaces. The reference fronts this
    with gRPC/FlatBuffers (A22, ``src/grpc.rs``) — transport, not
    capability; a thin gRPC façade can wrap this class unchanged.

    Error envelope parity (``src/grpc.rs:39-69``): contract violations
    surface as :class:`InvalidQueryError`; anything else is wrapped into
    :class:`InternalError` carrying the formatted backtrace.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    @staticmethod
    def _envelope(fn, *args):
        import traceback

        from kamu_engine_datafusion_spark.plans.types import InternalError

        try:
            return fn(*args)
        except InvalidQueryError:
            raise
        except Exception as e:
            raise InternalError(str(e), traceback.format_exc()) from e

    def execute_transform(self, request: TransformRequest) -> TransformResponse:
        return self._envelope(execute_transform, self.spark, request)

    def execute_raw_query(self, request: RawQueryRequest) -> RawQueryResponse:
        return self._envelope(execute_raw_query, self.spark, request)
