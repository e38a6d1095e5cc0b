"""Output checks, written to the ODF engine contract and nothing more.

Every check returns a list of problems; an empty list is a pass. The
oracle is DuckDB running the same SQL over the same input files — no
Spark on the checking side.

What the transform contract promises (and so what is checked):

- the output's data columns, as a multiset, equal the SQL's result;
- offsets are dense from the request's ``next_offset`` and agree with
  the response's ``new_offset_interval``;
- ``op`` is Append (0) and ``system_time`` is the request's value in ms;
- the system columns have the ODF types, ``offset`` and ``system_time``
  are non-null, and ``op`` / ``system_time`` are dictionary-encoded.

Row order is NOT checked: offsets come from ``row_number`` with no
ORDER BY, so no row order relative to the input is promised.
"""

from __future__ import annotations

import functools
import importlib.util
import os
from collections.abc import Sequence

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SYSTEM_COLUMNS = [
    ("offset", pa.int64(), False),
    ("op", pa.int32(), True),
    ("system_time", pa.timestamp("ms", "UTC"), False),
    ("event_time", pa.timestamp("ms", "UTC"), True),
]
_DICTIONARY_ENCODED = ("op", "system_time")


def sql_list(paths: Sequence[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def ledger_slice_sql(data_paths: Sequence[str], schema_file: str,
                     interval: tuple[int, int] | None) -> str:
    """DuckDB relation for one request input: the ledger files filtered
    to the closed offset interval, or a zero-row relation of the schema
    file's type when the input has no new data."""
    if not data_paths or interval is None:
        return f"SELECT * FROM read_parquet({sql_list([schema_file])}) WHERE false"
    lo, hi = interval
    return (
        f'SELECT * FROM read_parquet({sql_list(data_paths)}) '
        f'WHERE "offset" BETWEEN {lo} AND {hi}'
    )


def with_inputs(inputs: dict[str, str], sql: str) -> str:
    """Bind each query alias to its input relation as a CTE."""
    ctes = ", ".join(f'"{alias}" AS ({rel})' for alias, rel in inputs.items())
    return f"WITH {ctes} {sql}"


def _dictionary_problems(meta: pq.FileMetaData) -> list[str]:
    problems = []
    names = [meta.schema.column(i).name for i in range(meta.num_columns)]
    for rg in range(meta.num_row_groups):
        for name in _DICTIONARY_ENCODED:
            encodings = meta.row_group(rg).column(names.index(name)).encodings
            if not any("DICTIONARY" in e for e in encodings):
                problems.append(f"row group {rg}: {name} not dictionary-encoded {encodings}")
    return problems


def check_transform_output(
    con: duckdb.DuckDBPyConnection,
    path: str,
    *,
    next_offset: int,
    system_time_ms: int,
    interval: tuple[int, int] | None,
    expected_sql: str,
) -> list[str]:
    """Check one ``ExecuteTransform`` output file against the contract;
    ``expected_sql`` is the DuckDB oracle for the data columns."""
    pf = pq.ParquetFile(path)
    schema = pf.schema_arrow
    problems = []
    for i, (name, typ, nullable) in enumerate(SYSTEM_COLUMNS):
        if i >= len(schema) or schema.field(i).name != name:
            return [f"column {i} is not {name}: {schema.names}"]
        field = schema.field(i)
        if field.type != typ:
            problems.append(f"{name} has type {field.type}, expected {typ}")
        if not nullable and field.nullable:
            problems.append(f"{name} is nullable")
    problems += _dictionary_problems(pf.metadata)

    sys_cols = pf.read(columns=["offset", "op", "system_time"])
    n = sys_cols.num_rows
    offsets = np.sort(sys_cols.column("offset").to_numpy(zero_copy_only=False))
    if not np.array_equal(offsets, np.arange(next_offset, next_offset + n)):
        problems.append(f"offsets of {n} rows are not dense from {next_offset}")
    want_interval = (next_offset, next_offset + n - 1) if n else None
    if interval != want_interval:
        problems.append(f"response interval {interval} != written rows {want_interval}")
    if sys_cols.column("op").null_count or np.any(sys_cols.column("op").to_numpy(zero_copy_only=False) != 0):
        problems.append("op is not Append (0) on every row")
    st = sys_cols.column("system_time").cast(pa.int64()).to_numpy(zero_copy_only=False)
    if np.any(st != system_time_ms):
        problems.append(f"system_time differs from the request's {system_time_ms} ms")

    return problems + check_data(con, [path], expected_sql)


def check_data(con: duckdb.DuckDBPyConnection, paths: Sequence[str],
               expected_sql: str) -> list[str]:
    """The data columns of the output files, taken together as one
    multiset, equal the DuckDB oracle's result: names, types and rows."""
    data_cols = pq.read_schema(paths[0]).names[3:]
    got = (f"SELECT {', '.join(_quote(c) for c in data_cols)} "
           f"FROM read_parquet({sql_list(paths)})")
    exp_rel = con.sql(expected_sql)
    if exp_rel.columns != data_cols:
        return [f"data columns {data_cols} != oracle {exp_rel.columns}"]
    problems = []
    got_types = [str(t) for t in con.sql(got).types]
    exp_types = [str(t) for t in exp_rel.types]
    if got_types != exp_types:
        problems.append(f"data column types {got_types} != oracle {exp_types}")
    missing, extra, n_got, n_exp = con.execute(
        f"SELECT (SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({got}))),"
        f" (SELECT count(*) FROM (({got}) EXCEPT ALL ({expected_sql}))),"
        f" (SELECT count(*) FROM ({got})),"
        f" (SELECT count(*) FROM ({expected_sql}))"
    ).fetchone()
    if missing or extra or n_exp != n_got:
        problems.append(
            f"data multiset differs from the oracle: {missing} rows missing, "
            f"{extra} unexpected, {n_got} written vs {n_exp} expected"
        )
    return problems


def _quote(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def check_tick_request(body: dict | None,
                       fed: dict[str, tuple[int, int] | None]) -> list[str]:
    """The request a tick sent (None: it sent none) carries, for each
    input, the offset interval of the batch fed to that ledger before
    the tick, or None for a ledger fed nothing: no slice is skipped and
    none is sent twice."""
    if body is None:
        return ["the tick sent no request"]
    got = {
        i["query_alias"]: (i["offset_interval"]["start"], i["offset_interval"]["end"])
        if i["offset_interval"] else None
        for i in body["query_inputs"]
    }
    if got != fed:
        return [f"request input intervals {got} != fed batches {fed}"]
    return []


def check_output_ledger(paths: Sequence[str]) -> list[str]:
    """The output ledger, read in tick order, carries offsets ``0..N-1``:
    each tick's file is dense and starts where the previous one ended."""
    if not paths:
        return ["the output ledger is empty"]
    expect = 0
    for p in paths:
        offs = np.sort(pq.read_table(p, columns=["offset"]).column(0).to_numpy())
        if len(offs) == 0 or not np.array_equal(offs, np.arange(expect, expect + len(offs))):
            return [f"{os.path.basename(p)}: offsets do not continue the ledger at {expect}"]
        expect += len(offs)
    return []


def check_rows(con: duckdb.DuckDBPyConnection, path: str, expected_sql: str) -> list[str]:
    """Exact, order-insensitive comparison of a small result file."""
    got = con.sql(f"SELECT * FROM read_parquet({sql_list([path])})")
    exp = con.sql(expected_sql)
    if got.columns != exp.columns:
        return [f"columns {got.columns} != oracle {exp.columns}"]
    if sorted(got.fetchall()) != sorted(exp.fetchall()):
        return ["rows differ from the oracle"]
    return []


# -- registry keys ------------------------------------------------------------


@functools.cache
def _correctness_rules():
    """The canonicalization and type rules of tools/check_correctness.py,
    imported rather than copied so the benchmark compares exactly as the
    correctness harness does."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(_ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _type_class(t: str) -> str:
    """Type equivalence classes of check_correctness.main (defined inline
    there), built on its ``canon_type``."""
    c = _correctness_rules().canon_type(t)
    if c in ("int", "bigint"):
        return "integer"
    if c in ("double", "float") or c.startswith("decimal"):
        return "floating"
    if c.startswith("array<"):
        return f"array<{_type_class(c[6:-1])}>"
    return c


def check_key_result(
    con: duckdb.DuckDBPyConnection,
    oracle_sql: str,
    columns: list[str],
    spark_types: list[str],
    rows: list[tuple],
) -> list[str]:
    """Compare one registry key's collected Spark result with its DuckDB
    oracle: HUGEINT gate, column names, type classes, row count, then
    canonicalized order-insensitive values."""
    rules = _correctness_rules()
    rel = con.sql(oracle_sql)
    huge = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()]
    if huge:
        return [f"oracle columns typed HUGEINT: {huge}"]
    res = con.execute(oracle_sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if columns != ocols:
        return [f"cols {columns} != {ocols}"]
    stypes = [_type_class(t) for t in spark_types]
    otypes = [_type_class(str(t)) for t in rel.types]
    if stypes != otypes:
        return [f"type classes {stypes} != {otypes}"]
    if len(rows) != len(orows):
        return [f"rowcount {len(rows)} != {len(orows)}"]
    if rules.rows_key(rows) != rules.rows_key(orows):
        return ["values differ from the oracle"]
    return []


def corpus_connection(corpus_dir: str, tables: Sequence[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"{sql_list([os.path.join(corpus_dir, t + '.parquet')])})"
        )
    return con
