"""The benchmark's own tests: each output check passes on a correct
output and fails on a corrupted one. No Spark needed.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timezone

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, datagen  # noqa: E402

SQL = "SELECT event_time, l_orderkey, l_quantity * 2 AS q2 FROM src WHERE l_quantity < 40"
NEXT_OFFSET = 1000
SYSTEM_TIME = datetime(2024, 3, 1, 0, 0, 7, 123000, tzinfo=timezone.utc)
SYSTEM_MS = datagen.millis(SYSTEM_TIME)


@pytest.fixture()
def ledger(tmp_path):
    rng = np.random.default_rng(7)
    paths = datagen.write_ledger_parts(
        str(tmp_path / "ledger"), datagen.lineitem(rng, 300, n_orders=50), 3
    )
    return paths


def _expected_sql(paths):
    return checks.with_inputs(
        {"src": checks.ledger_slice_sql(paths, paths[0], (0, 299))}, SQL
    )


def _write_output(path, data: pa.Table, offsets, system_ms, op=None, dictionary=True):
    n = data.num_rows
    table = pa.Table.from_arrays(
        [
            pa.array(offsets, pa.int64()),
            pa.array(np.zeros(n, np.int32) if op is None else op, pa.int32()),
            pa.array(system_ms, pa.timestamp("ms", "UTC")),
            *data.columns,
        ],
        schema=pa.schema(
            [
                pa.field("offset", pa.int64(), nullable=False),
                pa.field("op", pa.int32()),
                pa.field("system_time", pa.timestamp("ms", "UTC"), nullable=False),
                *data.schema,
            ]
        ),
    )
    pq.write_table(table, path, use_dictionary=dictionary)


@pytest.fixture()
def case(tmp_path, ledger):
    """A correct output (rows shuffled: order is not part of the
    contract) plus everything needed to check it."""
    con = duckdb.connect()
    expected = _expected_sql(ledger)
    data = con.sql(expected).arrow()
    data = data.set_column(0, "event_time", data.column(0).cast(pa.timestamp("ms", "UTC")))
    data = data.take(pa.array(np.random.default_rng(3).permutation(data.num_rows)))
    n = data.num_rows
    out = str(tmp_path / "out.parquet")

    def write(offsets=None, system_ms=None, op=None, rows=None, dictionary=True):
        d = data if rows is None else rows
        _write_output(
            out, d,
            np.arange(NEXT_OFFSET, NEXT_OFFSET + d.num_rows) if offsets is None else offsets,
            np.full(d.num_rows, SYSTEM_MS) if system_ms is None else system_ms,
            op, dictionary,
        )
        return out

    def check(interval=(NEXT_OFFSET, NEXT_OFFSET + n - 1)):
        return checks.check_transform_output(
            con, out, next_offset=NEXT_OFFSET, system_time_ms=SYSTEM_MS,
            interval=interval, expected_sql=expected,
        )

    return data, write, check


def test_correct_output_passes_in_any_row_order(case):
    data, write, check = case
    write()
    assert check() == []


def test_dropped_row_fails(case):
    data, write, check = case
    write(rows=data.slice(1))
    assert check()


def test_duplicated_offset_fails(case):
    data, write, check = case
    offsets = np.arange(NEXT_OFFSET, NEXT_OFFSET + data.num_rows)
    offsets[1] = offsets[0]
    write(offsets=offsets)
    assert check()


def test_shifted_offsets_fail(case):
    data, write, check = case
    write(offsets=np.arange(NEXT_OFFSET + 1, NEXT_OFFSET + 1 + data.num_rows))
    assert check()


def test_interval_disagreeing_with_rows_fails(case):
    data, write, check = case
    write()
    assert check(interval=(NEXT_OFFSET, NEXT_OFFSET + data.num_rows))


def test_wrong_system_time_fails(case):
    data, write, check = case
    ms = np.full(data.num_rows, SYSTEM_MS)
    ms[5] += 1
    write(system_ms=ms)
    assert check()


def test_non_append_op_fails(case):
    data, write, check = case
    op = np.zeros(data.num_rows, np.int32)
    op[2] = 1
    write(op=op)
    assert check()


def test_changed_value_fails(case):
    data, write, check = case
    q2 = data.column("q2").to_numpy().copy()
    q2[3] += 0.5
    write(rows=data.set_column(2, "q2", pa.array(q2)))
    assert check()


def test_missing_dictionary_encoding_fails(case):
    data, write, check = case
    write(dictionary=False)
    assert any("dictionary" in p for p in check())


def _ledger_file(path, offsets):
    pq.write_table(pa.table({"offset": pa.array(offsets, pa.int64())}), path)
    return path


def test_output_ledger_offsets_continue_across_ticks(tmp_path):
    a = _ledger_file(str(tmp_path / "0.parquet"), [2, 0, 1])
    b = _ledger_file(str(tmp_path / "1.parquet"), [3, 4])
    assert checks.check_output_ledger([a, b]) == []
    gap = _ledger_file(str(tmp_path / "2.parquet"), [6, 5, 7])
    assert checks.check_output_ledger([a, gap])
    dup = _ledger_file(str(tmp_path / "3.parquet"), [3, 3])
    assert checks.check_output_ledger([a, dup])
    assert checks.check_output_ledger([b, a])  # out of tick order


def _tick_body(a, b):
    """The input part of a tick's request: each alias with its interval."""
    def interval(iv):
        return {"start": iv[0], "end": iv[1]} if iv else None
    return {"query_inputs": [
        {"query_alias": "a", "offset_interval": interval(a)},
        {"query_alias": "b", "offset_interval": interval(b)},
    ]}


def test_tick_request_carries_exactly_the_fed_batches():
    fed = {"a": (120_000, 124_999), "b": None}
    assert checks.check_tick_request(_tick_body((120_000, 124_999), None), fed) == []
    # a skipped tick: the runner sent nothing although a batch was fed
    assert checks.check_tick_request(None, fed)
    # a slice consumed twice: the previous tick's interval sent again
    assert checks.check_tick_request(_tick_body((115_000, 119_999), None), fed)
    # a slice cut short, or an empty ledger given an interval
    assert checks.check_tick_request(_tick_body((120_000, 124_998), None), fed)
    assert checks.check_tick_request(_tick_body((120_000, 124_999), (0, 1999)), fed)


@pytest.fixture()
def tick_outputs(tmp_path, ledger):
    """One correct output per ledger part file, as if each part had been
    fed to its own tick, plus the oracle over all of them."""
    con = duckdb.connect()
    outs, start = [], 0
    for k, part in enumerate(ledger):
        n_in = pq.read_metadata(part).num_rows
        rel = checks.with_inputs(
            {"src": checks.ledger_slice_sql([part], part, (start, start + n_in - 1))}, SQL
        )
        data = con.sql(rel).arrow()
        data = data.set_column(0, "event_time", data.column(0).cast(pa.timestamp("ms", "UTC")))
        out = str(tmp_path / f"tick-{k}.parquet")
        _write_output(out, data, np.arange(data.num_rows), np.full(data.num_rows, SYSTEM_MS))
        outs.append(out)
        start += n_in
    return con, outs, _expected_sql(ledger)


def test_all_tick_outputs_together_equal_the_oracle(tick_outputs):
    con, outs, expected = tick_outputs
    assert checks.check_data(con, outs, expected) == []


def test_skipped_tick_fails_the_union_check(tick_outputs):
    con, outs, expected = tick_outputs
    assert checks.check_data(con, outs[:1] + outs[2:], expected)


def test_double_consumed_slice_fails_the_union_check(tick_outputs):
    con, outs, expected = tick_outputs
    assert checks.check_data(con, [outs[0], outs[0], outs[2]], expected)


def test_empty_output_ledger_fails():
    assert checks.check_output_ledger([])


ORACLE = "SELECT 1::BIGINT AS k, 'x' AS v, 0.5::DOUBLE AS f UNION ALL SELECT 2, 'y', 1.5"


@pytest.mark.parametrize(
    "columns, types, rows, ok",
    [
        (["k", "v", "f"], ["bigint", "string", "double"], [(2, "y", 1.5), (1, "x", 0.5)], True),
        (["k", "v", "f"], ["int", "string", "double"], [(1, "x", 0.5), (2, "y", 1.5)], True),
        (["k", "v", "f"], ["bigint", "string", "double"], [(1, "x", 0.5), (2, "z", 1.5)], False),
        (["k", "v", "f"], ["bigint", "string", "double"], [(1, "x", 0.5), (2, "y", 1.6)], False),
        (["k", "v", "f"], ["bigint", "string", "double"], [(1, "x", 0.5)], False),
        (["k", "v", "f"], ["bigint", "bigint", "double"], [(1, "x", 0.5), (2, "y", 1.5)], False),
        (["k", "w", "f"], ["bigint", "string", "double"], [(1, "x", 0.5), (2, "y", 1.5)], False),
    ],
)
def test_registry_key_check(columns, types, rows, ok):
    con = duckdb.connect()
    assert (checks.check_key_result(con, ORACLE, columns, types, rows) == []) is ok


def test_registry_key_check_rejects_hugeint_oracle():
    con = duckdb.connect()
    oracle = "SELECT sum(x) AS s FROM (SELECT 1::BIGINT AS x)"
    assert checks.check_key_result(con, oracle, ["s"], ["bigint"], [(1,)])
