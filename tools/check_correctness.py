"""Local correctness harness mimicking the driver's DuckDB-oracle compare.

Runs every ``queries()`` entry against its ``oracle_sql()`` at the given
scale factor: row count, column names, and order-insensitive exact value
comparison (after canonicalization). Prints a PASS/FAIL table and, for
failures, the first differing rows.

Usage: python tools/check_correctness.py [sf_dir] [key_prefix...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from kamu_engine_datafusion_spark.session import odf_session  # noqa: E402
from kamu_engine_datafusion_spark.queries._util import TABLES  # noqa: E402


def canon(v):
    """Canonicalize a value for order-insensitive comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(round(v, 9))
    if isinstance(v, datetime):
        # strip tz: compare instants as naive UTC (both engines run
        # with UTC session timezones, so the wall time IS the instant)
        if v.tzinfo is not None:
            v = v.replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(round(float(v), 9))
    except ImportError:
        pass
    return v


def canon_type(t: str) -> str:
    """Map a Spark ``simpleString`` or DuckDB type name into one
    vocabulary so column TYPES are compared, not just names — a
    latent int-vs-double or decimal-width drift flips the driver's
    value hash even when the printed numbers look alike."""
    t = t.strip().lower()
    if t.endswith("[]"):
        return f"array<{canon_type(t[:-2])}>"
    if t.startswith("array<") and t.endswith(">"):
        return f"array<{canon_type(t[6:-1])}>"
    base = {
        "integer": "int",
        "int": "int",
        "smallint": "int",
        "tinyint": "int",
        "bigint": "bigint",
        "hugeint": "HUGEINT-FORBIDDEN",
        "double": "double",
        "float": "float",
        "real": "float",
        "varchar": "string",
        "string": "string",
        "boolean": "boolean",
        "date": "date",
    }
    if t in base:
        return base[t]
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith("decimal"):
        return t.replace(" ", "")
    return t


def rows_key(rows):
    return sorted(
        (tuple(canon(v) for v in r) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = odf_session("odf-correctness-check")
    qs, os_ = queries(), oracle_sql()

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for key, fn in sorted(qs.items()):
        if prefixes and not key.startswith(prefixes):
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = [f.name for f in sdf.schema.fields]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {key:28s} spark error: {str(e).splitlines()[0][:120]}")
            failures.append(key)
            n_fail += 1
            continue
        if key not in os_:
            print(f"rows- {key:28s} {len(srows)} rows (no oracle)")
            n_rows_only += 1
            continue
        try:
            # Type-gate FIRST: DuckDB types sum(INTEGER/BIGINT) as HUGEINT
            # (int128).  The driver's fetch path canonicalizes HUGEINT
            # differently from Spark's BIGINT (pandas-style conversion turns
            # it into float64/object), flipping the value hash on numerically
            # identical results — the exact failure mode of the four red
            # CORRECTNESS_r05 keys.  fetchall() hides this (exact Python
            # ints), so we must fail on the TYPE, not the values.
            rel = con.sql(os_[key])
            huge = [
                c
                for c, t in zip(rel.columns, rel.types)
                if "HUGEINT" in str(t).upper()
            ]
            if huge:
                print(
                    f"FAIL  {key:28s} oracle columns typed HUGEINT: {huge} — "
                    "wrap in CAST(... AS BIGINT); the driver's fetch "
                    "canonicalizes int128 unlike Spark BIGINT"
                )
                failures.append(key)
                n_fail += 1
                continue
            res = con.execute(os_[key])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {key:28s} oracle error: {str(e).splitlines()[0][:120]}")
            failures.append(key)
            n_fail += 1
            continue

        problems = []
        if scols != ocols:
            problems.append(f"cols {scols} != {ocols}")
        else:
            # Compare type EQUIVALENCE CLASSES, not exact types: the
            # driver's fetch canonicalizes int32/int64 both to Python
            # int and decimal/float both to float (verified by
            # driver-green keys carrying int-vs-bigint and
            # double-vs-decimal differences), so only cross-class
            # drift — e.g. string vs int, timestamp vs date — can
            # actually flip its hash. (HUGEINT is caught by the
            # dedicated gate above, which fires first.)
            def tclass(t: str) -> str:
                c = canon_type(t)
                if c in ("int", "bigint"):
                    return "integer"
                if c in ("double", "float") or c.startswith("decimal"):
                    return "floating"
                if c.startswith("array<"):
                    return f"array<{tclass(c[6:-1])}>"
                return c

            stypes = [
                tclass(f.dataType.simpleString()) for f in sdf.schema.fields
            ]
            otypes = [tclass(str(t)) for t in rel.types]
            mism = [
                f"{c}: spark {a} != oracle {b}"
                for c, a, b in zip(scols, stypes, otypes)
                if a != b
            ]
            if mism:
                problems.append("type classes differ: " + "; ".join(mism))
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            sk, ok = rows_key(srows), rows_key(orows)
            if sk != ok:
                diffs = [
                    (a, b) for a, b in zip(sk, ok) if a != b
                ][:3]
                problems.append(f"values differ, e.g. {diffs}")
        if problems:
            print(f"FAIL  {key:28s} {'; '.join(p[:400] for p in problems)}")
            failures.append(key)
            n_fail += 1
        else:
            print(f"PASS  {key:28s} {len(srows)} rows")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    if prefixes and n_pass + n_fail + n_rows_only == 0:
        # A typo'd prefix (or a stale flag like --keys) would otherwise
        # print "0 pass, 0 fail" and exit 0 — a false green.
        print(f"ERROR: no registry key matches prefixes {prefixes}")
        return 2
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
