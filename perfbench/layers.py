"""The traced run: per-layer timings taken from the benchmark's side.

Nothing inside the engine is instrumented. Each layer is timed around a
call into its module's public functions, replaying exactly the sequence
``plans.transform.execute_transform`` runs:

    session.new           tune_session(spark.newSession())
    sources.ledger        register_input per input
    plans.transform       run_transform_steps (parse + analysis)
    operators.normalize   normalize_raw_result + validate_raw_result
    operators.system_columns  with_system_columns (plan only)
    sources.sink          write_parquet_single_file (all execution)

The execution split runs the same plan into progressively more of the
pipeline: the normalized user plan into Spark's ``noop`` sink, then the
``with_system_columns`` plan into ``noop``, then the real single-file
write. Their differences price offset assignment and the Parquet write.
"""

from __future__ import annotations

import time
from statistics import median
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kamu_engine_datafusion_spark import queries
from kamu_engine_datafusion_spark.operators.normalize import normalize_raw_result
from kamu_engine_datafusion_spark.operators.system_columns import with_system_columns
from kamu_engine_datafusion_spark.operators.validate import validate_raw_result
from kamu_engine_datafusion_spark.plans.transform import Engine, run_transform_steps
from kamu_engine_datafusion_spark.plans.types import TransformRequest
from kamu_engine_datafusion_spark.session import tune_session
from kamu_engine_datafusion_spark.sources.ledger import register_input
from kamu_engine_datafusion_spark.sources.sink import write_parquet_single_file
from kamu_engine_datafusion_spark.transport import odf_flatbuffers as fb
from kamu_engine_datafusion_spark.transport.http_server import (
    parse_transform_request,
    transform_request_to_dict,
)

from perfbench import checks, wire
from perfbench.measure import SparkCounts

#: The registry keys timed layer by layer: TPC-H join and distinct
#: aggregates, exact/MinHash dedup, the maintained SemDeDup, Bloom and
#: hybrid-retrieval folds, and the text repetition kernels.
REGISTRY_KEYS = (
    "b10_tpch_q5alike",
    "b17_count_distinct",
    "xdedup_exact",
    "xdedup_minhash_survivors",
    "xsemdedup_incremental",
    "xbloom_decontaminate_maintained",
    "xhybrid_maintained",
    "xtext_repetition_report",
)
REGISTRY_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "documents", "embeddings",
)


def _timed(fn: Callable[[], object]) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def replay_transform(spark: SparkSession, req: TransformRequest) -> dict[str, float]:
    """One traced request: the engine's transform sequence, layer by
    layer. Returns seconds per layer plus ``total``."""
    out: dict[str, float] = {}
    t_all = time.perf_counter()
    out["session.new_s"], session = _timed(lambda: tune_session(spark.newSession()))
    out["sources.register_input_s"], _ = _timed(
        lambda: [register_input(session, inp) for inp in req.inputs]
    )
    out["plans.run_steps_s"], df = _timed(lambda: run_transform_steps(session, req.transform))

    def normalize_validate():
        d = normalize_raw_result(df, req.vocab)
        validate_raw_result(d, req.vocab)
        return d

    out["operators.normalize_validate_s"], norm = _timed(normalize_validate)
    out["operators.system_columns_plan_s"], with_sys = _timed(
        lambda: with_system_columns(norm, req.vocab, req.system_time, req.next_offset)
    )
    out["sources.sink_write_s"], _ = _timed(
        lambda: write_parquet_single_file(with_sys, req.new_data_path)
    )
    out["total"] = time.perf_counter() - t_all
    out["plans.compute_noop_s"], _ = _timed(lambda: _noop(norm))
    out["operators.offsets_noop_s"], _ = _timed(lambda: _noop(with_sys))
    return out


def transport_layer(req: TransformRequest) -> dict[str, float]:
    """Codec costs of one request: encode on the client, decode plus
    request parsing on the server, and a Success response both ways."""
    body = transform_request_to_dict(req)
    payload = fb.encode_transform_request(body)
    resp = {"new_offset_interval": {"start": 0, "end": 1}, "new_watermark": None}
    enc, dec, codec = [], [], []
    for _ in range(20):
        enc.append(_timed(lambda: fb.encode_transform_request(transform_request_to_dict(req)))[0])
        dec.append(_timed(lambda: parse_transform_request(fb.decode_transform_request(payload)))[0])
        codec.append(_timed(lambda: fb.decode_response(
            fb.encode_response(fb.UNION_SUCCESS, "TransformResponseSuccess", resp),
            "TransformResponseSuccess",
        ))[0])
    return {
        "transport.request_encode_us": median(enc) * 1e6,
        "transport.request_decode_us": median(dec) * 1e6,
        "transport.response_codec_us": median(codec) * 1e6,
        "transport.request_bytes": float(len(payload)),
    }


def trace_request(
    spark: SparkSession,
    client: wire.GrpcClient,
    req: TransformRequest,
    check: Callable[[TransformRequest, object], list[str]],
    outcome,
) -> dict[str, float]:
    """Per-layer metrics for one representative request, run three times
    each three ways: over gRPC, in-process through
    ``Engine.execute_transform``, and as the traced replay. The order
    rotates each round, so each way runs first once. Every output
    written is checked."""
    engine = Engine(spark)
    counter = SparkCounts(spark)
    body = transform_request_to_dict(req)
    rpc, inproc, replays, counts = [], [], [], []

    def run_rpc():
        before = counter.snapshot()
        t, resp = _timed(lambda: wire.execute_transform(client, body))
        counts.append(counter.since(before))
        rpc.append(t)
        outcome.check("traced rpc", lambda: check(req, resp))

    def run_inproc():
        t, resp = _timed(lambda: engine.execute_transform(req))
        inproc.append(t)
        outcome.check("in-process transform", lambda: check(req, resp))

    def run_replay():
        replays.append(replay_transform(spark, req))
        outcome.check("traced replay", lambda: check(req, None))

    ways = [run_rpc, run_inproc, run_replay]
    for r in range(len(ways)):
        for way in ways[r:] + ways[:r]:
            outcome.attempted += 1
            way()
    if any(c != counts[0] for c in counts):
        outcome.fail("spark counts", f"not repeatable across identical requests: {counts}")
    out = {k: median([r[k] for r in replays]) for k in replays[0] if k != "total"}
    out.update(transport_layer(req))
    out["transport.rpc_overhead_s"] = median(rpc) - median(inproc)
    out["trace.overhead_s"] = median([r["total"] for r in replays]) - median(inproc)
    out.update({f"spark.{k}": float(v) for k, v in counts[0].items()})
    out["sources.input_files"] = float(sum(len(i.data_paths) for i in req.inputs))
    return out


def registry_sweep(spark: SparkSession, corpus_dir: str, outcome) -> dict[str, float]:
    """The eight keys on the generated corpus: one cold pass that also
    collects each result for the oracle check, then two warm passes
    into the ``noop`` sink. Reports each key's warm median and
    the tasks of its last warm run."""
    reg, oracles = queries.registry(), queries.oracles()
    con = checks.corpus_connection(corpus_dir, REGISTRY_TABLES)
    counter = SparkCounts(spark)
    times: dict[str, list[float]] = {k: [] for k in REGISTRY_KEYS}
    tasks: dict[str, int] = {}
    for key in REGISTRY_KEYS:
        outcome.attempted += 1
        try:
            df = reg[key](spark, corpus_dir)
            rows = [tuple(r) for r in df.collect()]
            outcome.check(f"registry {key}", lambda: checks.check_key_result(
                con, oracles[key], [f.name for f in df.schema.fields],
                [f.dataType.simpleString() for f in df.schema.fields], rows,
            ))
        except Exception as e:
            outcome.fail(f"registry {key}", repr(e))
    for _ in range(2):
        for key in REGISTRY_KEYS:
            outcome.attempted += 1
            before = counter.snapshot()
            try:
                t, _ = _timed(lambda: _noop(reg[key](spark, corpus_dir)))
            except Exception as e:
                outcome.fail(f"registry {key}", repr(e))
                continue
            times[key].append(t)
            tasks[key] = counter.since(before)["tasks"]
    con.close()
    out = {}
    for key in REGISTRY_KEYS:
        out[f"registry.{key}_s"] = median(times[key]) if times[key] else -1.0
        out[f"registry.{key}_tasks"] = float(tasks.get(key, -1))
    return out


def bookkeeping_s(inputs) -> float:
    """The incremental runner's per-tick view of its inputs: list part
    files and read every footer for the highest offset."""
    t0 = time.perf_counter()
    for inp in inputs:
        inp.part_files()
        inp.max_offset()
    return time.perf_counter() - t0
