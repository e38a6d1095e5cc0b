"""Funnel operator: greedy first-touch ordered funnel with and without
a time window, on a tiny stream with known answers."""

from __future__ import annotations

from datetime import datetime

from kamu_engine_datafusion_spark.operators.funnel import funnel_counts


def _events(spark, rows):
    return spark.createDataFrame(rows, ["user_id", "event_type", "ts"])


def test_funnel_ordering_enforced(spark):
    t0 = datetime(2024, 1, 1, 0, 0)
    rows = [
        # u1 completes A -> B -> C in order
        (1, "A", datetime(2024, 1, 1, 0, 0)),
        (1, "B", datetime(2024, 1, 1, 1, 0)),
        (1, "C", datetime(2024, 1, 1, 2, 0)),
        # u2 does B before A: depth stops at A
        (2, "B", datetime(2024, 1, 1, 0, 0)),
        (2, "A", datetime(2024, 1, 1, 1, 0)),
        # u3 never starts
        (3, "C", t0),
    ]
    out = {
        r.step: r.n_users
        for r in funnel_counts(
            _events(spark, rows), steps=["A", "B", "C"]
        ).collect()
    }
    assert out == {1: 2, 2: 1, 3: 1}


def test_funnel_window_anchored_at_first_step(spark):
    rows = [
        # u1: B inside the 1h window
        (1, "A", datetime(2024, 1, 1, 0, 0)),
        (1, "B", datetime(2024, 1, 1, 0, 30)),
        # u2: B after the window closes
        (2, "A", datetime(2024, 1, 1, 0, 0)),
        (2, "B", datetime(2024, 1, 1, 2, 0)),
    ]
    out = {
        r.step: r.n_users
        for r in funnel_counts(
            _events(spark, rows), steps=["A", "B"], within_seconds=3600
        ).collect()
    }
    assert out == {1: 2, 2: 1}


def test_funnel_strictly_after(spark):
    ts = datetime(2024, 1, 1, 0, 0)
    rows = [(1, "A", ts), (1, "B", ts)]  # same instant: B not after A
    out = {
        r.step: r.n_users
        for r in funnel_counts(_events(spark, rows), steps=["A", "B"]).collect()
    }
    assert out == {1: 1, 2: 0}


def test_retention_cohorts_weekly(spark):
    from kamu_engine_datafusion_spark.operators.funnel import (
        retention_cohorts,
    )

    rows = [
        # u1 first active week of Jan 1 2024 (Mon), returns 2 weeks later
        (1, "view", datetime(2024, 1, 2, 10, 0)),
        (1, "view", datetime(2024, 1, 16, 10, 0)),
        # u2 same cohort, never returns
        (2, "click", datetime(2024, 1, 3, 9, 0)),
        # u3 cohort of Jan 8, returns the following week
        (3, "view", datetime(2024, 1, 9, 9, 0)),
        (3, "view", datetime(2024, 1, 15, 9, 0)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = {
        (r.cohort_start.date().isoformat(), r.period): r.n_users
        for r in retention_cohorts(df, bucket="week").collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,  # cohort size
        ("2024-01-01", 2): 1,  # u1 back in week 2
        ("2024-01-08", 0): 1,
        ("2024-01-08", 1): 1,  # u3 back next week
    }


def test_debounce_increment_null_ts_precondition_pinned(spark):
    """r18 advice pin: NULL-timestamp tick rows never trip the
    append-order violation check (the min over tick times skips
    NULLs), while a REAL event before the stored last still raises —
    even when a NULL-ts row sorts ahead of it in the tick window (the
    r17 window-first-row check silently passed that case; the
    tightened reading is documented in the docstring)."""
    from datetime import datetime, timezone

    import pytest

    from kamu_engine_datafusion_spark.operators.funnel import (
        debounce_increment,
    )

    def t(sec):
        return datetime(2024, 1, 1, 0, sec // 60, sec % 60,
                        tzinfo=timezone.utc)

    schema = "user_id long, ts timestamp, event_type string, event_id long"
    tick0 = spark.createDataFrame(
        [(1, t(100), "click", 0)], schema
    )
    _, state = debounce_increment(None, tick0, gap_seconds=600.0)
    state = state.localCheckpoint(eager=True)

    # a NULL-ts-only tick folds without raising
    null_tick = spark.createDataFrame([(1, None, "click", 1)], schema)
    kept, new_state = debounce_increment(
        state, null_tick, gap_seconds=600.0
    )
    kept.collect()
    new_state.collect()

    # NULL-ts row plus a REAL out-of-order event: raises even though
    # the NULL row sorts first in the tick window
    bad = spark.createDataFrame(
        [(1, None, "click", 2), (1, t(50), "click", 3)], schema
    )
    with pytest.raises(ValueError, match="event-time order"):
        debounce_increment(state, bad, gap_seconds=600.0)[0].collect()


def test_debounce_increment_null_ts_tick_keeps_stored_last(spark):
    """A tick whose only rows for a group have NULL timestamps must not
    erase the group's stored last event time: a later real event before
    it still violates the append order."""
    from datetime import datetime, timezone

    import pytest

    from kamu_engine_datafusion_spark.operators.funnel import (
        debounce_increment,
    )

    def t(sec):
        return datetime(2024, 1, 1, 0, sec // 60, sec % 60,
                        tzinfo=timezone.utc)

    schema = "user_id long, ts timestamp, event_type string, event_id long"
    tick0 = spark.createDataFrame([(1, t(100), "click", 0)], schema)
    _, state = debounce_increment(None, tick0, gap_seconds=600.0)
    null_tick = spark.createDataFrame([(1, None, "click", 1)], schema)
    _, state = debounce_increment(
        state.localCheckpoint(eager=True), null_tick, gap_seconds=600.0
    )
    state = state.localCheckpoint(eager=True)
    assert [tuple(r) for r in state.collect()] == [
        (1, "click", 100_000_000 + 1_704_067_200_000_000)
    ]
    late = spark.createDataFrame([(1, t(99), "click", 2)], schema)
    with pytest.raises(ValueError, match="event-time order"):
        debounce_increment(state, late, gap_seconds=600.0)[0].collect()


def test_debounce_collapses_bursts(spark):
    """Events within the gap of their predecessor are dropped; the
    first of a burst survives; independent (user, type) streams don't
    interfere; ties break deterministically."""
    from datetime import datetime, timedelta, timezone

    from kamu_engine_datafusion_spark.operators.funnel import (
        debounce_events,
    )

    t0 = datetime(2023, 1, 1, tzinfo=timezone.utc)
    rows = [
        # user 1 click burst: 0s, 5s, 8s -> only the first survives
        (0, t0, 1, "click"),
        (1, t0 + timedelta(seconds=5), 1, "click"),
        (2, t0 + timedelta(seconds=8), 1, "click"),
        # 700s later: new logical event
        (3, t0 + timedelta(seconds=700), 1, "click"),
        # same user, different type: independent stream
        (4, t0 + timedelta(seconds=6), 1, "view"),
        # other user unaffected
        (5, t0 + timedelta(seconds=7), 2, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    kept = sorted(
        r["event_id"]
        for r in debounce_events(df, "ts", gap_seconds=600.0).collect()
    )
    assert kept == [0, 3, 4, 5]
