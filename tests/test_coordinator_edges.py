"""Coordinator-path edges: every failure is typed and loud, and nothing
a coordinator relies on is lost or half-advanced on the way."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark import (
    DatasetVocabulary,
    InvalidQueryError,
    OffsetInterval,
    RawQueryRequest,
    SqlQueryStep,
    TransformRequest,
    TransformRequestInput,
    execute_raw_query,
    execute_transform,
)
from kamu_engine_datafusion_spark.session import default_driver_memory, tune_session
from kamu_engine_datafusion_spark.sources.compact import compact_ledger
from kamu_engine_datafusion_spark.sources.ledger import (
    read_ledger_schema,
    read_parquet,
    register_input,
)
from kamu_engine_datafusion_spark.sources.sink import write_parquet_single_file
from kamu_engine_datafusion_spark.streaming.incremental import (
    IncrementalRunner,
    LedgerInput,
)
from kamu_engine_datafusion_spark.transport.grpc_server import serve_grpc
from tests.conftest import write_cities_ledger
from tests.test_coordinator_soak import _wire_executor

UTC = timezone.utc


def test_data_paths_without_offset_interval_is_invalid_query(spark, tmp_path):
    """The reference invariant (data_paths non-empty iff offset_interval
    is set) is a typed InvalidQueryError — at request construction and
    again in register_input — never an ``assert`` that ``-O`` strips."""
    ledger = write_cities_ledger(str(tmp_path / "cities.parquet"))
    with pytest.raises(InvalidQueryError, match="offset_interval"):
        TransformRequestInput(
            dataset_alias="foo",
            query_alias="foo",
            schema_file=ledger,
            data_paths=[ledger],
        )
    inp = TransformRequestInput(
        dataset_alias="foo",
        query_alias="foo",
        schema_file=ledger,
        data_paths=[ledger],
        offset_interval=OffsetInterval(0, 2),
    )
    inp.offset_interval = None
    with pytest.raises(InvalidQueryError, match="offset_interval"):
        register_input(spark.newSession(), inp)


def test_tick_waits_for_an_input_without_part_files(spark, tmp_path):
    """An input ledger with no part file yet has no schema to offer:
    the tick is a no-op (None) and no read position or output offset
    moves; once the file lands the next tick runs normally."""
    a_dir, b_dir = tmp_path / "a", tmp_path / "b"
    a_dir.mkdir()
    b_dir.mkdir()
    write_cities_ledger(str(a_dir / "part-00000.parquet"))
    runner = IncrementalRunner(
        spark=spark,
        transform=[
            SqlQueryStep(
                query="select event_time, city from a "
                "union all select event_time, city from b"
            )
        ],
        inputs=[
            LedgerInput(
                dataset_alias=q, query_alias=q, ledger_dir=str(tmp_path / q)
            )
            for q in ("a", "b")
        ],
        output_dir=str(tmp_path / "out"),
    )
    t = datetime(2023, 2, 1, tzinfo=UTC)
    assert runner.tick(t) is None
    assert [i.next_unread_offset for i in runner.inputs] == [0, 0]
    assert (runner.next_offset, runner.ticks) == (0, 0)

    write_cities_ledger(str(b_dir / "part-00000.parquet"))
    resp = runner.tick(t)
    oi = resp.new_offset_interval
    assert (oi.start, oi.end) == (0, 5)
    assert [i.next_unread_offset for i in runner.inputs] == [3, 3]


def test_single_file_write_keeps_old_file_when_rename_fails(
    spark, tmp_path, monkeypatch
):
    """A failure at the rename step must leave the previous file at
    ``path`` intact (never removed ahead of the move)."""
    path = str(tmp_path / "out.parquet")
    write_cities_ledger(path)
    before = open(path, "rb").read()

    def boom(*a, **k):
        raise OSError("injected rename failure")

    for mod, name in ((os, "replace"), (os, "rename"), (shutil, "move")):
        monkeypatch.setattr(mod, name, boom)
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(OSError, match="injected"):
        write_parquet_single_file(df, path)
    monkeypatch.undo()

    assert open(path, "rb").read() == before
    assert pq.ParquetFile(path).metadata.num_rows == 3
    assert write_parquet_single_file(df, path) == 1
    assert pq.read_table(path).column("x").to_pylist() == [1]
    assert not [f for f in os.listdir(tmp_path) if f.startswith(".odf-")]


def test_tune_session_propagates_a_refused_conf():
    class Conf:
        def set(self, k, v):
            raise RuntimeError(f"cannot modify {k}")

    class Session:
        conf = Conf()

    with pytest.raises(RuntimeError, match="cannot modify"):
        tune_session(Session())


def test_default_driver_memory_is_a_share_of_the_host_capped_at_48g():
    assert default_driver_memory(16 << 30) == "9830m"
    assert default_driver_memory(1 << 40) == "49152m"
    assert default_driver_memory(80 << 30) == "49152m"


# -- incremental ticks: the request and the bookkeeping cost the increment ----

SRC_SQL = "select event_time, city, population from src"


def _part(ledger_dir, name: str, start: int, n: int, statistics: bool = True) -> str:
    """One offset-dense part file; ``population`` carries the input
    offset so an output row names the input row it came from."""
    os.makedirs(ledger_dir, exist_ok=True)
    tbl = pa.table(
        {
            "offset": pa.array(range(start, start + n), pa.int64()),
            "op": pa.array([0] * n, pa.int32()),
            "system_time": pa.array(
                [datetime(2023, 1, 1, tzinfo=UTC)] * n, pa.timestamp("ms", "UTC")
            ),
            "event_time": pa.array(
                [datetime(2023, 1, 1, tzinfo=UTC)] * n, pa.timestamp("ms", "UTC")
            ),
            "city": pa.array([f"c{o}" for o in range(start, start + n)]),
            "population": pa.array(range(start, start + n), pa.int64()),
        }
    )
    path = os.path.join(str(ledger_dir), name)
    pq.write_table(tbl, path, write_statistics=statistics)
    return path


def _src_runner(spark, tmp_path, next_unread_offset: int):
    """A one-input runner whose executor records each request."""
    requests: list[TransformRequest] = []

    def run(spark, req):
        requests.append(req)
        return execute_transform(spark, req)

    inp = LedgerInput("src", "src", str(tmp_path / "src"),
                      next_unread_offset=next_unread_offset)
    runner = IncrementalRunner(
        spark=spark,
        transform=[SqlQueryStep(query=SRC_SQL)],
        inputs=[inp],
        output_dir=str(tmp_path / "out"),
        executor=run,
    )
    return runner, inp, requests


def _tick_rows(runner, requests, first: int, last: int) -> list[str]:
    """Run one tick; check that its output holds exactly input offsets
    ``first..last`` under dense output offsets from the runner's
    ``next_offset``; return the data paths the request named."""
    next_offset = runner.next_offset
    resp = runner.tick(datetime(2023, 2, 1, tzinfo=UTC))
    (inp,) = requests[-1].inputs
    assert inp.offset_interval == OffsetInterval(first, last)
    n = last - first + 1
    assert resp.new_offset_interval == OffsetInterval(next_offset, next_offset + n - 1)
    out = pq.read_table(requests[-1].new_data_path).to_pydict()
    assert sorted(out["offset"]) == list(range(next_offset, next_offset + n))
    assert sorted(out["population"]) == list(range(first, last + 1))
    return [os.path.basename(p) for p in inp.data_paths]


def test_tick_sends_only_unread_files_and_reads_each_footer_once(
    spark, tmp_path, monkeypatch
):
    """A tick over a ledger with consumed history names only the files
    holding unread offsets, and a later tick opens only the footer of
    the file fed since: the consumed history is neither sent nor re-read."""
    src = tmp_path / "src"
    for k in range(6):
        _part(src, f"part-{k:05d}.parquet", 3 * k, 3)
    runner, inp, requests = _src_runner(spark, tmp_path, next_unread_offset=18)

    _part(src, "part-00006.parquet", 18, 3)
    assert _tick_rows(runner, requests, 18, 20) == ["part-00006.parquet"]

    new = _part(src, "part-00007.parquet", 21, 3)
    opened: dict[str, list[str]] = {}  # calling module -> paths opened
    real = pq.ParquetFile

    def counting(path, *a, **k):
        caller = sys._getframe(1).f_globals["__name__"]
        opened.setdefault(caller, []).append(str(path))
        return real(path, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    assert _tick_rows(runner, requests, 21, 23) == ["part-00007.parquet"]
    monkeypatch.undo()
    assert opened.pop(IncrementalRunner.__module__) == [new]
    # The engine reads one schema footer per input, of a file the
    # request names; nothing else opens a ledger file.
    (sent,) = requests[-1].inputs
    engine = opened.pop(read_parquet.__module__, [])
    assert len(engine) <= 1 and set(engine) <= {*sent.data_paths, sent.schema_file}
    assert not [p for ps in opened.values() for p in ps if p.startswith(str(src))]
    assert inp.max_offset() == 23


def test_ledger_input_rereads_a_rewritten_part_file(tmp_path, monkeypatch):
    """The span cache is keyed on (path, size, mtime): a file rewritten
    in place is read again, an unchanged one is not."""
    src = tmp_path / "src"
    _part(src, "part-00000.parquet", 0, 3)
    last = _part(src, "part-00001.parquet", 3, 3)
    inp = LedgerInput("src", "src", str(src))
    assert inp.max_offset() == 5

    opened: list[str] = []
    real = pq.ParquetFile
    monkeypatch.setattr(
        pq, "ParquetFile", lambda p, *a, **k: opened.append(p) or real(p, *a, **k)
    )
    assert inp.max_offset() == 5
    assert opened == []
    _part(src, "part-00001.parquet", 3, 6)
    assert inp.max_offset() == 8
    assert opened == [last]


def test_tick_spans_survive_compaction_between_ticks(spark, tmp_path):
    """``compact_ledger`` between two ticks renames the history to
    ``part-<first offset>.<token>.parquet``, which does not sort with
    tick names: spans come from the footers, so the next tick still
    sends exactly the files holding unread offsets, the compacted
    ones included, and the span cache drops the vanished names."""
    src = tmp_path / "src"
    for k in range(4):
        _part(src, f"part-{k:05d}.parquet", 3 * k, 3)
    runner, inp, requests = _src_runner(spark, tmp_path, next_unread_offset=12)
    assert inp.max_offset() == 11
    _part(src, "part-00004.parquet", 12, 3)
    assert compact_ledger(spark, str(src), target_rows_per_file=5) == 3

    files = inp.part_files()
    holding_unread = [
        os.path.basename(p) for p in files
        if max(pq.read_table(p, columns=["offset"]).column(0).to_pylist()) >= 12
    ]
    sent = _tick_rows(runner, requests, 12, 14)
    assert sent == holding_unread and len(sent) < len(files)
    assert sorted(inp._spans) == files

    _part(src, "part-00005.parquet", 15, 3)
    assert _tick_rows(runner, requests, 15, 17) == ["part-00005.parquet"]
    assert sorted(inp._spans) == inp.part_files()


def test_tick_skips_a_zero_row_part_file(spark, tmp_path):
    src = tmp_path / "src"
    _part(src, "part-00000.parquet", 0, 3)
    _part(src, "part-00001.parquet", 3, 0)
    _part(src, "part-00002.parquet", 3, 3)
    runner, inp, requests = _src_runner(spark, tmp_path, next_unread_offset=0)
    assert inp.max_offset() == 5
    assert _tick_rows(runner, requests, 0, 5) == [
        "part-00000.parquet", "part-00002.parquet"
    ]


def test_tick_always_sends_a_part_file_without_statistics(spark, tmp_path):
    """A file whose footer has no offset statistics has no known span:
    it is sent with every tick, and the engine's offset filter keeps
    the output to the unread rows. The highest offset still comes out
    right when the newest file is the one without statistics."""
    src = tmp_path / "src"
    _part(src, "part-00000.parquet", 0, 3)
    _part(src, "part-00001.parquet", 3, 3, statistics=False)
    _part(src, "part-00002.parquet", 6, 3)
    runner, inp, requests = _src_runner(spark, tmp_path, next_unread_offset=6)
    assert inp.max_offset() == 8
    assert _tick_rows(runner, requests, 6, 8) == [
        "part-00001.parquet", "part-00002.parquet"
    ]

    _part(src, "part-00003.parquet", 9, 3, statistics=False)
    assert inp.max_offset() == 11
    assert _tick_rows(runner, requests, 9, 11) == [
        "part-00001.parquet", "part-00003.parquet"
    ]


def test_concurrent_transforms_on_one_context_stay_isolated(spark, tmp_path):
    """Two ExecuteTransform RPCs in flight at once, on separate
    connections to one served SparkContext, with the same query alias
    over different ledgers: each output holds only its own rows, with
    dense offsets from its own ``next_offset``."""
    cases = [(0, 0, 40), (1000, 500, 60)]  # (next_offset, first input offset, rows)
    reqs = []
    for k, (next_offset, first, n) in enumerate(cases):
        ledger = _part(tmp_path / f"in{k}", "part-00000.parquet", first, n)
        reqs.append(TransformRequest(
            dataset_alias="output",
            system_time=datetime(2023, 2, 1, tzinfo=UTC),
            next_offset=next_offset,
            vocab=DatasetVocabulary(),
            transform=[SqlQueryStep(query=SRC_SQL)],
            inputs=[TransformRequestInput(
                dataset_alias=f"in{k}",
                query_alias="src",
                schema_file=ledger,
                data_paths=[ledger],
                offset_interval=OffsetInterval(first, first + n - 1),
            )],
            new_data_path=str(tmp_path / f"out{k}.parquet"),
        ))
    server = serve_grpc(spark, port=0)
    run = _wire_executor({"port": server.server_address[1]})
    both_sent = threading.Barrier(len(reqs))

    def call(req):
        both_sent.wait()
        return run(spark, req)

    try:
        with ThreadPoolExecutor(len(reqs)) as pool:
            resps = list(pool.map(call, reqs))
    finally:
        server.shutdown()
    for (next_offset, first, n), req, resp in zip(cases, reqs, resps):
        assert resp.new_offset_interval == OffsetInterval(
            next_offset, next_offset + n - 1
        )
        out = pq.read_table(req.new_data_path).to_pydict()
        assert sorted(out["offset"]) == list(range(next_offset, next_offset + n))
        assert sorted(out["population"]) == list(range(first, first + n))


# -- one Spark job per request: schemas come from a cached footer lookup ------


def _spark_jobs(spark, action) -> int:
    """The number of Spark jobs started while ``action`` ran, from a diff
    of the status tracker's job ids. Job events reach the tracker on an
    asynchronous listener bus: read until every new job has finished
    and two reads agree."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    action()
    deadline = time.monotonic() + 10
    last = None
    while True:
        new = set(tracker.getJobIdsForGroup(None)) - before
        infos = [tracker.getJobInfo(j) for j in new]
        if new == last and all(
            i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos
        ):
            return len(new)
        assert time.monotonic() < deadline, f"Spark status did not settle: {new}"
        last = new
        time.sleep(0.05)


def test_transform_and_raw_query_each_run_one_spark_job(spark, tmp_path):
    """With the schema cache warm, a transform over one input with data
    and one without runs exactly one Spark job, its write, and so does a
    raw query: no input's schema costs a schema-inference job."""
    a = write_cities_ledger(str(tmp_path / "a.parquet"))
    b = write_cities_ledger(str(tmp_path / "b.parquet"))

    def transform(k: int):
        return execute_transform(spark, TransformRequest(
            dataset_alias="out",
            system_time=datetime(2023, 2, 1, tzinfo=UTC),
            next_offset=0,
            vocab=DatasetVocabulary(),
            transform=[SqlQueryStep(
                query="select event_time, city from a "
                "union all select event_time, city from b"
            )],
            inputs=[
                TransformRequestInput("a", "a", schema_file=a, data_paths=[a],
                                      offset_interval=OffsetInterval(0, 2)),
                TransformRequestInput("b", "b", schema_file=b),
            ],
            new_data_path=str(tmp_path / f"transform{k}.parquet"),
        ))

    def raw_query(k: int):
        return execute_raw_query(spark, RawQueryRequest(
            input_data_paths=[a],
            transform=[SqlQueryStep(query="select city from input")],
            output_data_path=str(tmp_path / f"raw{k}.parquet"),
        ))

    transform(0)
    raw_query(0)
    assert _spark_jobs(spark, lambda: transform(1)) == 1
    assert _spark_jobs(spark, lambda: raw_query(1)) == 1
    assert pq.read_table(tmp_path / "transform1.parquet").num_rows == 3
    assert pq.read_table(tmp_path / "raw1.parquet").num_rows == 3


def _typed_columns() -> dict[str, pa.Array]:
    """One column per Parquet → Spark conversion worth telling apart."""
    ts = [datetime(2023, 1, 1, tzinfo=UTC), None]
    return {
        "int8": pa.array([1, None], pa.int8()),
        "int16": pa.array([1, None], pa.int16()),
        "int32": pa.array([1, None], pa.int32()),
        "int64": pa.array([1, None], pa.int64()),
        "uint32": pa.array([1, None], pa.uint32()),
        "uint64": pa.array([1, None], pa.uint64()),
        "float": pa.array([1.5, None], pa.float32()),
        "double": pa.array([1.5, None], pa.float64()),
        "decimal": pa.array([None, None], pa.decimal128(12, 3)),
        "string": pa.array(["x", None]),
        "binary": pa.array([b"x", None]),
        "bool": pa.array([True, None]),
        "date": pa.array([datetime(2023, 1, 1).date(), None], pa.date32()),
        **{
            f"ts_{unit}_{'utc' if tz else 'naive'}": pa.array(
                [t if tz else t and t.replace(tzinfo=None) for t in ts],
                pa.timestamp(unit, tz),
            )
            for unit in ("ms", "us", "ns")
            for tz in ("UTC", None)
        },
        "list": pa.array([[1, 2], None], pa.list_(pa.int64())),
        "struct": pa.array([{"f": 1}, None], pa.struct([("f", pa.int64())])),
        "map": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
    }


def test_read_parquet_schema_matches_spark_inference(spark, tmp_path):
    """``read_parquet`` gives exactly the schema ``spark.read.parquet``
    infers. Every file names its one column ``c``, so a cache key that
    missed a type distinction would hand one file another's schema; the
    two Spark-written files have the same Parquet schema and differ only
    in the Spark schema stored in their footers."""
    cases = []
    for name, arr in _typed_columns().items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"c": arr}), path)
        cases.append([path])
    df = spark.createDataFrame([("x",)], "c string")
    for name, metadata in (("spark_plain", {}), ("spark_commented", {"k": "v"})):
        spark_written = str(tmp_path / name)
        df.select(F.col("c").alias("c", metadata=metadata)).coalesce(1).write.parquet(
            spark_written
        )
        (part,) = glob.glob(os.path.join(spark_written, "*.parquet"))
        cases.append([part])
    # Spark infers from the first path in lexical order of the normalized
    # path, not in argument order: "sub/../a" is "a", before "b".
    for name, col in (("b", "second"), ("a", "first")):
        pq.write_table(pa.table({col: [1]}), str(tmp_path / f"{name}.parquet"))
    (tmp_path / "sub").mkdir()
    cases.append([str(tmp_path / "b.parquet"), str(tmp_path / "sub/../a.parquet")])
    cases.append([str(tmp_path / f"{n}.parquet") for n in ("b", "a")])
    cases.append([spark_written])  # a directory: the plain read

    for paths in cases:
        assert read_parquet(spark, paths).schema == spark.read.parquet(*paths).schema, paths
    assert read_parquet(spark, [part]).schema["c"].metadata == {"k": "v"}
    assert read_parquet(spark, cases[-2]).columns == ["first"]
    assert read_parquet(spark, cases[-3]).columns == ["first"]

    # A session that converts differently must not get the cached answer.
    def schema_or_error(read):
        try:
            return read().schema
        except Exception as e:  # noqa: BLE001 - the error is the answer
            return type(e)

    other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    ns = [str(tmp_path / "ts_ns_utc.parquet")]
    assert (
        schema_or_error(lambda: read_parquet(other, ns))
        == schema_or_error(lambda: other.read.parquet(*ns))
        != schema_or_error(lambda: read_parquet(spark, ns))
    )


def test_ledger_dir_schema_matches_spark_inference(spark, tmp_path):
    """``read_ledger_schema`` gives a ledger directory the schema
    ``spark.read.parquet(dir)`` infers: the streaming sink's marker dir,
    ``_SUCCESS`` and checksum files are not data, the first data file by
    path decides whatever order the files come in, and a partition
    subdirectory gets Spark's own answer."""
    ledger = tmp_path / "ledger"
    (ledger / "_stream_commits").mkdir(parents=True)
    (ledger / "_stream_commits" / "0.json").write_text("{}")
    (ledger / "_SUCCESS").write_text("")
    for name, col in (("part-1", "second"), ("part-0", "first")):
        pq.write_table(pa.table({col: [1]}), str(ledger / f"{name}.parquet"))
        (ledger / f".{name}.parquet.crc").write_bytes(b"crc")
    files = [str(ledger / f"part-{k}.parquet") for k in (1, 0)]

    want = spark.read.parquet(str(ledger)).schema
    assert read_ledger_schema(spark, str(ledger)) == want
    assert read_parquet(spark, files).schema == want
    assert want.names == ["first"]

    partitioned = tmp_path / "partitioned"
    (partitioned / "x=1").mkdir(parents=True)
    pq.write_table(pa.table({"c": [1]}), str(partitioned / "x=1" / "p.pq"))
    got = read_ledger_schema(spark, str(partitioned))
    assert got == spark.read.parquet(str(partitioned)).schema
    assert got.names == ["c", "x"]


def test_ledger_dir_schema_runs_no_job_when_warm(spark, tmp_path):
    """Once the footer's schema is cached, a ledger directory's schema
    costs no Spark job; Spark's own directory inference costs one on
    every call."""
    ledger = str(tmp_path / "ledger")
    os.makedirs(ledger)
    pq.write_table(pa.table({"n": [1]}), os.path.join(ledger, "p.parquet"))
    read_ledger_schema(spark, ledger)
    assert _spark_jobs(spark, lambda: read_ledger_schema(spark, ledger)) == 0
    assert _spark_jobs(spark, lambda: spark.read.parquet(ledger).schema) >= 1


def test_fold_over_empty_ledger_dir_without_schema_raises(spark, tmp_path):
    """With no data file to read a schema from, starting a fold without
    ``schema=`` raises Spark's inference error, before any query starts."""
    from pyspark.errors import AnalysisException

    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_group_counts,
    )

    ledger = tmp_path / "ledger"
    (ledger / "_stream_commits").mkdir(parents=True)
    (ledger / "_SUCCESS").write_text("")
    active = len(spark.streams.active)
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        maintained_group_counts(
            str(ledger), str(tmp_path / "state"), str(tmp_path / "ck"),
            ["k"], spark=spark,
        )
    assert len(spark.streams.active) == active


class _NamingSpark:
    """Just enough of a SparkSession for ``read_parquet``: every conf at
    ``false``, and a read whose schema is the name of the file read."""

    class conf:  # noqa: N801 - mirrors SparkSession.conf
        @staticmethod
        def get(key):
            return "false"

    @property
    def read(self):
        return self

    def parquet(self, *paths):
        return type("Inferred", (), {"schema": os.path.basename(paths[0])})

    def schema(self, schema):
        return type("Reader", (), {"parquet": staticmethod(lambda *paths: schema)})


def test_schema_cache_under_thread_contention(tmp_path, monkeypatch):
    """Concurrent requests share the schema cache: with eviction forced
    on nearly every call and a tiny switch interval, each read still
    gets its own file's schema and the cache stays within its bound."""
    from kamu_engine_datafusion_spark.sources import ledger

    paths = []
    for k in range(6):
        path = str(tmp_path / f"f{k}.parquet")
        pq.write_table(pa.table({f"c{k}": [k]}), path)
        paths.append(path)
    monkeypatch.setattr(ledger, "SCHEMA_CACHE_MAX", 3)
    monkeypatch.setattr(ledger, "_schemas", type(ledger._schemas)())
    fake = _NamingSpark()

    def reads(seed: int) -> int:
        wrong = 0
        for i in range(150):
            path = paths[(seed * 7 + i * 5) % len(paths)]
            wrong += read_parquet(fake, [path]) != os.path.basename(path)
        return wrong

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(reads, seed) for seed in range(8)]
            assert [f.result(timeout=60) for f in futures] == [0] * 8
    finally:
        sys.setswitchinterval(interval)
    assert len(ledger._schemas) <= 3
