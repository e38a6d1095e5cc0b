"""The benchmark's workloads, driven through the engine's public entry
points: ``serve_grpc`` with the ODF FlatBuffers codec, and
``IncrementalRunner`` with a gRPC executor.

Load comes from one client connection in a closed loop: the next request
is sent only after the previous response arrived. Outputs are kept on
disk and checked after the timed loop, so checking never overlaps a
timed request.
"""

from __future__ import annotations

import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import duckdb
import numpy as np

from kamu_engine_datafusion_spark.plans.types import (
    DatasetVocabulary,
    OffsetInterval,
    SqlQueryStep,
    TransformRequest,
    TransformRequestInput,
    TransformResponse,
)
from kamu_engine_datafusion_spark.streaming.incremental import (
    IncrementalRunner,
    LedgerInput,
)
from kamu_engine_datafusion_spark.transport.http_server import (
    parse_transform_request,
    transform_request_to_dict,
)

from perfbench import checks, datagen, wire

UTC = timezone.utc

#: odf-bulk: a filter/map with a sha2 projection over the whole ledger.
BULK_SQL = (
    "SELECT event_time, l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice * (1 - l_discount) AS disc_price, "
    "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge, "
    "l_returnflag, l_linestatus, "
    "{hash}(concat_ws('|', CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING), "
    "l_returnflag, l_linestatus){hash_arg}) AS row_hash "
    "FROM lineitem WHERE l_quantity < 40"
)
BULK_SPARK_SQL = BULK_SQL.format(hash="sha2", hash_arg=", 256")
BULK_DUCKDB_SQL = BULK_SQL.format(hash="sha256", hash_arg="")

#: odf-bulk: the raw query over the same files (3 result rows).
RAW_SQL = (
    "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty, "
    "max(l_extendedprice) AS max_price FROM input GROUP BY l_returnflag"
)

#: odf-ticks: a UNION ALL filter/map over both input ledgers.
TICKS_SQL = (
    "SELECT event_time, 'a' AS src, l_orderkey AS k, "
    "l_quantity * l_extendedprice AS v, upper(l_returnflag) AS flag "
    "FROM a WHERE l_discount < 0.08 "
    "UNION ALL "
    "SELECT event_time, 'b' AS src, l_orderkey AS k, "
    "l_quantity * l_extendedprice AS v, lower(l_linestatus) AS flag "
    "FROM b WHERE l_discount >= 0.02"
)

BULK_ROWS = 600_000
BULK_PARTS = 8
TICK_ROWS_A = 5_000
TICK_ROWS_B = 2_000
#: odf-ticks: ledger A already holds this many consumed part files, so
#: it passes Spark's 32-path parallel-listing threshold on the ninth
#: tick: the first fifth of a 30-tick run is below it, the rest above.
TICK_HISTORY_PARTS = 24
WARMUP_TICKS = 8

SYSTEM_TIME_BASE = datetime(2024, 3, 1, tzinfo=UTC)


@dataclass
class Outcome:
    """Operation accounting shared by every workload."""

    attempted: int = 0
    failed: int = 0

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"FAILED {what}: {detail[:500]}", file=sys.stderr, flush=True)

    def check(self, what: str, run_check: Callable[[], list[str]]) -> None:
        """Run one output check; an exception (say, an unreadable output
        file) fails the check like a reported problem does."""
        try:
            problems = run_check()
        except Exception as e:
            problems = [repr(e)]
        if problems:
            self.fail(what, "; ".join(problems))


def system_time_for(i: int) -> datetime:
    """Distinct request system times with a millisecond component."""
    return SYSTEM_TIME_BASE + timedelta(seconds=i, milliseconds=(i * 37) % 1000)


# -- odf-bulk -----------------------------------------------------------------


class Bulk:
    """One large ledger; requests alternate ExecuteTransform and
    ExecuteRawQuery over all of it."""

    def __init__(self, work: str, seed: int) -> None:
        self.ledger_dir = os.path.join(work, "bulk-ledger")
        self.out_dir = os.path.join(work, "bulk-out")
        rng = np.random.default_rng([seed, 2])
        self.paths = datagen.write_ledger_parts(
            self.ledger_dir,
            datagen.lineitem(rng, BULK_ROWS, n_orders=BULK_ROWS // 4),
            BULK_PARTS,
        )
        self.next_offset_base = int(rng.integers(0, 1_000_000))
        os.makedirs(self.out_dir, exist_ok=True)
        self.transforms: list[tuple[TransformRequest, TransformResponse]] = []
        self.raw_paths: list[str] = []

    def transform_request(self, i: int) -> TransformRequest:
        return TransformRequest(
            dataset_alias="bulk-out",
            system_time=system_time_for(i),
            next_offset=self.next_offset_base + i * BULK_ROWS,
            vocab=DatasetVocabulary(),
            transform=[SqlQueryStep(query=BULK_SPARK_SQL)],
            inputs=[
                TransformRequestInput(
                    dataset_alias="lineitem",
                    query_alias="lineitem",
                    schema_file=self.paths[0],
                    data_paths=list(self.paths),
                    offset_interval=OffsetInterval(0, BULK_ROWS - 1),
                )
            ],
            new_data_path=os.path.join(self.out_dir, f"transform-{i:04d}.parquet"),
        )

    def run_raw(self, client: wire.GrpcClient, i: int) -> int:
        path = os.path.join(self.out_dir, f"raw-{i:04d}.parquet")
        n = wire.execute_raw_query(client, {
            "input_data_paths": list(self.paths),
            "transform": {"engine": "spark", "queries": [{"query": RAW_SQL}]},
            "output_data_path": path,
        })
        self.raw_paths.append(path)
        return n

    def ledger_input(self) -> LedgerInput:
        return LedgerInput("lineitem", "lineitem", self.ledger_dir)

    def expected_sql(self) -> str:
        """DuckDB oracle of the transform's data columns."""
        return checks.with_inputs(
            {"lineitem": checks.ledger_slice_sql(self.paths, self.paths[0], (0, BULK_ROWS - 1))},
            BULK_DUCKDB_SQL,
        )

    def run_transform(self, client: wire.GrpcClient, i: int) -> TransformResponse:
        req = self.transform_request(i)
        resp = wire.execute_transform(client, transform_request_to_dict(req))
        self.transforms.append((req, resp))
        return resp

    def check(self, outcome: Outcome) -> None:
        con = duckdb.connect()
        con.execute(f"CREATE TABLE expected AS {self.expected_sql()}")
        for req, resp in self.transforms:
            oi = resp.new_offset_interval
            outcome.check(
                os.path.basename(req.new_data_path),
                lambda: checks.check_transform_output(
                    con,
                    req.new_data_path,
                    next_offset=req.next_offset,
                    system_time_ms=datagen.millis(req.system_time),
                    interval=(oi.start, oi.end) if oi else None,
                    expected_sql="SELECT * FROM expected",
                ),
            )
        raw_expected = RAW_SQL.replace(
            "FROM input", f"FROM read_parquet({checks.sql_list(self.paths)})"
        )
        for path in self.raw_paths:
            outcome.check(os.path.basename(path),
                          lambda: checks.check_rows(con, path, raw_expected))
        con.close()


# -- odf-ticks ----------------------------------------------------------------


@dataclass
class TickRecord:
    tick: int
    body: dict
    rpc_s: float


@dataclass
class Fed:
    """One batch fed to a ledger: staged file, its place in the ledger,
    and the closed offset interval it holds."""

    staged: str
    path: str
    interval: tuple[int, int]


class Ticks:
    """Two input ledgers fed between ticks of an IncrementalRunner whose
    executor ships each TransformRequest over gRPC.

    Every output is checked against what the benchmark itself fed, not
    against the requests the runner built: tick ``k`` must send one
    request carrying exactly the batches fed before it, its output must
    equal the oracle over those batches, and all outputs together must
    equal the oracle over every fed row."""

    def __init__(self, work: str, seed: int, n_ticks: int, name: str = "ticks",
                 history_parts: int = TICK_HISTORY_PARTS) -> None:
        rng = np.random.default_rng([seed, 3])
        self.dir_a = os.path.join(work, f"{name}-a")
        self.dir_b = os.path.join(work, f"{name}-b")
        self.out_dir = os.path.join(work, f"{name}-out")
        stage = os.path.join(work, f"{name}-staged")
        self.n_ticks = n_ticks

        def batch(n: int):
            return datagen.lineitem(rng, n, n_orders=150_000)

        def staged(subdir: str, ledger_dir: str, n: int, offset: int, part: int) -> Fed:
            (p,) = datagen.write_ledger_parts(
                os.path.join(stage, subdir), batch(n), 1, start_offset=offset,
                first_part=part,
            )
            return Fed(p, os.path.join(ledger_dir, os.path.basename(p)),
                       (offset, offset + n - 1))

        # consumed history of ledger A
        datagen.write_ledger_parts(
            self.dir_a, batch(TICK_ROWS_A * history_parts), history_parts
        )
        consumed_a = TICK_ROWS_A * history_parts
        # per tick: the batch fed to each ledger, or None
        self.fed: list[dict[str, Fed | None]] = []
        for k in range(n_ticks):
            a = staged("a", self.dir_a, TICK_ROWS_A, consumed_a + TICK_ROWS_A * k,
                       history_parts + k)
            b = None
            if k % 4 == 0:  # B's first batch lands before the first tick
                b = staged("b", self.dir_b, TICK_ROWS_B, TICK_ROWS_B * (k // 4), k // 4)
            self.fed.append({"a": a, "b": b})
        os.makedirs(self.dir_b, exist_ok=True)
        self.input_a = LedgerInput("a", "a", self.dir_a, next_unread_offset=consumed_a)
        self.input_b = LedgerInput("b", "b", self.dir_b)
        self.records: list[TickRecord] = []
        self.responses: dict[int, TransformResponse] = {}
        self.tick_s: list[float] = []
        self._tick = -1

    def runner(self, spark, client: wire.GrpcClient) -> IncrementalRunner:
        def executor(_spark, req: TransformRequest):
            body = transform_request_to_dict(req)
            t0 = time.perf_counter()
            try:
                return wire.execute_transform(client, body)
            finally:
                self.records.append(TickRecord(self._tick, body, time.perf_counter() - t0))

        return IncrementalRunner(
            spark=spark,
            transform=[SqlQueryStep(query=TICKS_SQL)],
            inputs=[self.input_a, self.input_b],
            output_dir=self.out_dir,
            executor=executor,
        )

    def feed(self, k: int) -> None:
        for f in self.fed[k].values():
            if f is not None:
                os.makedirs(os.path.dirname(f.path), exist_ok=True)
                os.replace(f.staged, f.path)

    def run(self, spark, client: wire.GrpcClient, outcome: Outcome) -> None:
        runner = self.runner(spark, client)
        for k in range(self.n_ticks):
            self.feed(k)
            self._tick = k
            outcome.attempted += 1
            t0 = time.perf_counter()
            try:
                resp = runner.tick(system_time_for(k))
            except Exception as e:  # a failed tick is counted, the loop goes on
                outcome.fail(f"tick {k}", repr(e))
                continue
            if resp is None:  # ledger A was fed, so there was input to send
                outcome.fail(f"tick {k}", "no request sent although ledger a was fed")
                continue
            self.tick_s.append(time.perf_counter() - t0)
            self.responses[k] = resp

    def fed_intervals(self, k: int) -> dict[str, tuple[int, int] | None]:
        return {alias: f.interval if f else None for alias, f in self.fed[k].items()}

    def fed_sql(self, ticks) -> str:
        """DuckDB oracle of the data columns over the batches fed before
        the given ticks, read from the ledger files the benchmark wrote."""
        inputs = {}
        for alias in ("a", "b"):
            fed = [self.fed[k][alias] for k in ticks if self.fed[k][alias]]
            schema_file = self.fed[0][alias].path  # both ledgers are fed before tick 0
            interval = (fed[0].interval[0], fed[-1].interval[1]) if fed else None
            inputs[alias] = checks.ledger_slice_sql([f.path for f in fed], schema_file, interval)
        return checks.with_inputs(inputs, TICKS_SQL)

    def replay_request(self, work: str) -> TransformRequest:
        """The last tick's request again, written elsewhere: a request
        in the ledgers' final state (past the listing threshold)."""
        req = parse_transform_request(self.records[-1].body)
        req.new_data_path = os.path.join(work, "ticks-replay.parquet")
        return req

    def replay_expected_sql(self) -> str:
        return self.fed_sql([self.records[-1].tick])

    def rows_per_tick(self) -> float:
        """Mean input rows per tick (A every tick, B every fourth)."""
        n = len(self.fed)
        return (n * TICK_ROWS_A + len(range(0, n, 4)) * TICK_ROWS_B) / n

    def check(self, outcome: Outcome) -> None:
        con = duckdb.connect()
        written = []
        for k in range(self.n_ticks):
            if k not in self.responses:
                continue  # the tick already failed in run()
            recs = [r for r in self.records if r.tick == k]
            if len(recs) != 1:
                outcome.fail(f"tick {k}", f"sent {len(recs)} requests, expected 1")
                continue
            body = recs[0].body
            outcome.check(f"tick {k} request",
                          lambda: checks.check_tick_request(body, self.fed_intervals(k)))
            oi = self.responses[k].new_offset_interval
            outcome.check(
                f"tick {k} output",
                lambda: checks.check_transform_output(
                    con,
                    body["new_data_path"],
                    next_offset=body["next_offset"],
                    system_time_ms=datagen.millis(system_time_for(k)),
                    interval=(oi.start, oi.end) if oi else None,
                    expected_sql=self.fed_sql([k]),
                ),
            )
            written.append(body["new_data_path"])
        on_disk = sorted(
            os.path.join(self.out_dir, f) for f in os.listdir(self.out_dir)
        ) if os.path.isdir(self.out_dir) else []
        if on_disk != written:
            outcome.fail("output ledger", f"{len(on_disk)} files on disk, {len(written)} ticks wrote")
        outcome.check("output ledger", lambda: checks.check_output_ledger(on_disk))
        outcome.check("all ticks", lambda: checks.check_data(
            con, on_disk, self.fed_sql(range(self.n_ticks))))
        con.close()
