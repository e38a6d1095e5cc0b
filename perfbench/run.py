"""Coordinator-view benchmark of the ODF engine.

    python3 perfbench/run.py --workload odf-bulk --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` and removed afterwards. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the lines before it name every metric with its unit and sample count.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that reports the per-layer metrics (see layers.py).
"""

from __future__ import annotations

import time

_PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("odf-bulk", "odf-ticks")
DRIVER_MEM = "3g"
#: Scale of the corpus the registry keys run on in the traced run
#: (the correctness harness's sf0.01 size).
REGISTRY_SF = 0.01
#: odf-bulk: the run keeps going until at least this many transforms
#: were timed, so each fifth of the run has a sample.
MIN_TRANSFORMS = 5
WARMUP_ROUNDS = 4


def pin_environment(work: str) -> None:
    """Settings that would otherwise come from the host: cores from the
    CPU affinity mask (what ``nproc`` prints), an explicit driver heap,
    and Spark's local directories inside the work directory.

    The heap starts at its maximum size, so the JVM's resident set does
    not depend on when the collector chose to grow the heap: without
    it, peak RSS varied by a quarter between identical runs."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Xms{DRIVER_MEM} pyspark-shell"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def report(name: str, value: float, unit: str, n: int | str) -> None:
    print(f"{name:34s} {value:14.6f} {unit:6s} (n={n})", flush=True)


class ServedEngine:
    """The served engine: one SparkSession, ``serve_grpc`` on an
    ephemeral port, and the single closed-loop client connection."""

    def __init__(self) -> None:
        from kamu_engine_datafusion_spark.session import odf_session
        from kamu_engine_datafusion_spark.transport.grpc_server import serve_grpc

        from perfbench import wire

        self.spark = odf_session("perfbench")
        self.server = serve_grpc(self.spark, port=0)
        self.client = wire.GrpcClient(self.server.server_address[1])

    def close(self) -> None:
        self.client.close()
        self.server.shutdown()
        self.server.server_close()
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        # The JVM exits when its stdin closes; wait for it.
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run_bulk(args, work: str, gen_s: list[float]) -> dict:
    from perfbench import measure, workloads, wire

    t = time.perf_counter()
    bulk = workloads.Bulk(work, args.seed)
    gen_s.append(time.perf_counter() - t)
    outcome = workloads.Outcome()
    eng = ServedEngine()
    try:
        # Warm-up: rounds of both request kinds. The JIT is still
        # compiling through the first rounds (they run ~20% slower).
        for i in range(WARMUP_ROUNDS):
            outcome.attempted += 2
            bulk.run_transform(eng.client, i)
            bulk.run_raw(eng.client, i)
        setup_s = time.perf_counter() - _PROCESS_T0 - sum(gen_s)

        if args.trace:
            metrics = trace_odf(
                eng, work, args, outcome, bulk.transform_request(WARMUP_ROUNDS),
                bulk.expected_sql, [bulk.ledger_input()],
            )
        else:
            transform_s, raw_s = [], []
            i, t_end = WARMUP_ROUNDS, time.perf_counter() + args.seconds
            while time.perf_counter() < t_end or i < WARMUP_ROUNDS + MIN_TRANSFORMS:
                for kind, samples, call in (
                    ("transform", transform_s, lambda: bulk.run_transform(eng.client, i)),
                    ("raw query", raw_s, lambda: bulk.run_raw(eng.client, i)),
                ):
                    outcome.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        call()
                    except (wire.RpcError, OSError) as e:
                        outcome.fail(f"{kind} {i}", repr(e))
                        continue
                    samples.append(time.perf_counter() - t0)
                i += 1
            metrics = end_to_end(setup_s, transform_s, workloads.BULK_ROWS,
                                 measure.peak_rss_mb(eng.spark))
            report("raw_query_p50_s", statistics.median(raw_s), "s", len(raw_s))
    finally:
        eng.close()
    bulk.check(outcome)
    return result(outcome, metrics, args.trace)


def run_ticks(args, work: str, gen_s: list[float]) -> dict:
    from perfbench import measure, workloads

    n_ticks = max(10, 2 * args.seconds)
    t = time.perf_counter()
    warm = workloads.Ticks(work, args.seed + 1, workloads.WARMUP_TICKS, name="warmup",
                           history_parts=1)
    ticks = workloads.Ticks(work, args.seed, n_ticks)
    gen_s.append(time.perf_counter() - t)
    outcome = workloads.Outcome()
    eng = ServedEngine()
    try:
        warm.run(eng.spark, eng.client, outcome)
        setup_s = time.perf_counter() - _PROCESS_T0 - sum(gen_s)
        ticks.run(eng.spark, eng.client, outcome)
        if args.trace:
            metrics = trace_odf(
                eng, work, args, outcome, ticks.replay_request(work),
                ticks.replay_expected_sql, [ticks.input_a, ticks.input_b],
            )
        else:
            metrics = end_to_end(setup_s, ticks.tick_s,
                                 ticks.rows_per_tick(), measure.peak_rss_mb(eng.spark))
            rpc = [r.rpc_s for r in ticks.records]
            report("transform_p50_s", statistics.median(rpc), "s", len(rpc))
    finally:
        eng.close()
    warm.check(outcome)
    ticks.check(outcome)
    return result(outcome, metrics, args.trace)


def end_to_end(setup_s: float, cycle_s: list[float], rows_per_cycle: float,
               peak_rss_mb: float) -> dict[str, float]:
    from perfbench import measure

    p50 = statistics.median(cycle_s)
    metrics = {
        "setup_s": setup_s,
        "cycle_p50_s": p50,
        "rows_per_s": rows_per_cycle / p50,
        "peak_rss_mb": peak_rss_mb,
    }
    report("setup_s", setup_s, "s", 1)
    report("cycle_p50_s", p50, "s", len(cycle_s))
    tail = measure.tail(cycle_s)
    if tail:
        report(f"cycle_tail_s (p{tail[1]:.0f})", tail[0], "s", len(cycle_s))
    else:
        print(f"cycle_tail_s: needs 11 samples, have {len(cycle_s)}", flush=True)
    report("rows_per_s", metrics["rows_per_s"], "1/s", len(cycle_s))
    report("growth_ratio", measure.growth_ratio(cycle_s), "ratio", len(cycle_s))
    report("peak_rss_mb", peak_rss_mb, "MB", 1)
    return metrics


def trace_odf(eng: ServedEngine, work: str, args, outcome, req, expected_sql, inputs) -> dict:
    """Per-layer metrics: the ODF layers on one representative request
    of the workload, the incremental runner's bookkeeping over the
    workload's inputs, the registry keys, and the host calibration."""
    import duckdb

    from perfbench import checks, datagen, layers, measure

    con = duckdb.connect()
    con.execute(f"CREATE TABLE expected AS {expected_sql()}")

    def check(r, resp):
        n = datagen.parquet_rows(r.new_data_path)
        if resp is None:  # the replay returns no response; take the rows written
            interval = (r.next_offset, r.next_offset + n - 1) if n else None
        else:
            oi = resp.new_offset_interval
            interval = (oi.start, oi.end) if oi else None
        return checks.check_transform_output(
            con, r.new_data_path, next_offset=r.next_offset,
            system_time_ms=datagen.millis(r.system_time), interval=interval,
            expected_sql="SELECT * FROM expected",
        )

    metrics = layers.trace_request(eng.spark, eng.client, req, check, outcome)
    metrics["sources.output_bytes_per_row"] = (
        os.path.getsize(req.new_data_path) / max(1, datagen.parquet_rows(req.new_data_path))
    )
    metrics["streaming.bookkeeping_s"] = statistics.median(
        [layers.bookkeeping_s(inputs) for _ in range(5)]
    )
    metrics["host.calibration_s"] = measure.calibration_s(eng.spark)
    corpus = os.path.join(work, "corpus")
    datagen.write_corpus(corpus, args.seed, REGISTRY_SF)
    metrics.update(layers.registry_sweep(eng.spark, corpus, outcome))
    con.close()
    for name in sorted(metrics):
        report(name, metrics[name], "", "")
    return metrics


def result(outcome, metrics: dict[str, float], trace: int) -> dict:
    """The result line: exactly the metrics BENCHMARK.json declares for
    this kind of run, with its units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    report("error_rate", outcome.failed / max(1, outcome.attempted), "ratio", outcome.attempted)
    return {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kamu_engine_datafusion_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    try:
        run = run_bulk if args.workload == "odf-bulk" else run_ticks
        out = run(args, work, [])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
